"""Every Spark-facing function takes only the parameters a caller sets.

A defaulted parameter that no call in the repository passes (or passes
only as its default's own literal) has one value in use, so it is a
constant, not an option.  This test parses the scoped modules and every
call under `proj_4_spark/`, `tests/`, `perfbench/` and `scripts/`, and
lists each such parameter.  Calls are matched by the callee's last name
(`f(...)` or `x.f(...)`), so a name shared with another function can
only hide a parameter, never flag one.  A call with `*args` passes every
positional parameter and one with `**kwargs` every keyword.  A call
from `perfbench/` counts even where it passes the default's literal:
the benchmark pins the signatures it uses.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "proj_4_spark"

SCOPE = sorted(
    [PKG / "sources" / f"{m}.py" for m in ("pages", "coords", "polygons")]
    + [PKG / "plans" / f"{m}.py"
       for m in ("checkpoint", "parity", "salting", "candidates", "oracles")]
    + [PKG / "queries.py"]
    + [p for d in ("functions", "operators", "streaming", "index", "jobs")
       for p in (PKG / d).glob("*.py")])

CALLERS = ("proj_4_spark", "tests", "perfbench", "scripts")

_MISSING = object()


def _literal(node):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, RecursionError):
        return _MISSING


def _defs(path: Path):
    """(name a call uses, positional offset, FunctionDef) per def."""
    tree = ast.parse(path.read_text())
    methods = {}  # def -> its class, for methods that bind self/cls
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, ast.FunctionDef) and not any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in item.decorator_list):
                    methods[item] = node.name
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            cls = methods.get(node)
            name = cls if cls and node.name == "__init__" else node.name
            yield name, int(cls is not None), node


def _defaulted(fn: ast.FunctionDef, offset: int):
    """(index among positional params or None, name, default node)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    for i, (arg, default) in enumerate(zip(pos[first:], a.defaults)):
        yield first + i - offset, arg.arg, default
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield None, arg.arg, default


def _calls():
    """(call, whether it pins) of the callers' files, by the callee's
    last name."""
    here = Path(__file__).resolve()
    by_name: dict[str, list[tuple[ast.Call, bool]]] = {}
    for d in CALLERS:
        for path in (ROOT / d).rglob("*.py"):
            if path.resolve() == here:
                continue
            for node in ast.walk(ast.parse(path.read_text())):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name is not None:
                    by_name.setdefault(name, []).append(
                        (node, d == "perfbench"))
    return by_name


def _sets(call: ast.Call, pins: bool, index, name: str, default) -> bool:
    """Whether `call` passes the parameter a value other than its
    default's own literal (any value, where it `pins`)."""
    want = _literal(default)
    if pins:
        want = _MISSING
    for k in call.keywords:
        if k.arg is None:
            return True
        if k.arg == name:
            got = _literal(k.value)
            return got is _MISSING or want is _MISSING or got != want
    if index is None:
        return False
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return True
        if i == index:
            got = _literal(arg)
            return got is _MISSING or want is _MISSING or got != want
    return False


def unset_options() -> list[str]:
    calls = _calls()
    found = []
    for path in SCOPE:
        for callee, offset, fn in _defs(path):
            for index, name, default in _defaulted(fn, offset):
                if not any(_sets(c, pins, index, name, default)
                           for c, pins in calls.get(callee, ())):
                    rel = path.relative_to(ROOT)
                    found.append(f"{rel}:{fn.lineno} {fn.name}({name}="
                                 f"{ast.unparse(default)})")
    return found


def test_every_defaulted_parameter_is_set_by_some_call():
    found = unset_options()
    assert not found, (f"{len(found)} defaulted parameters that no call "
                       "sets; make each a constant:\n" + "\n".join(found))
