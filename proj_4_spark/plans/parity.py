"""Local replica of the driver's correctness gate: run a registered
query through Spark AND its DuckDB oracle on the same parquet dir,
compare row count, schema (column names), and order-insensitive
values (columns sorted by name, rows sorted)."""

from __future__ import annotations

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duckdb_run(sql: str, sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.sql(sql).df()


def compare(spark_df, oracle_df) -> list[str]:
    """Returns a list of mismatch descriptions (empty = pass).  Floats
    must match exactly, sign of zero included."""
    import numpy as np

    problems = []
    s = spark_df.toPandas() if hasattr(spark_df, "toPandas") else spark_df
    o = oracle_df
    if sorted(s.columns) != sorted(o.columns):
        problems.append(f"schema: spark={sorted(s.columns)} oracle={sorted(o.columns)}")
        return problems
    if len(s) != len(o):
        problems.append(f"rowcount: spark={len(s)} oracle={len(o)}")
        return problems
    cols = sorted(s.columns)
    s = s[cols].sort_values(cols).reset_index(drop=True)
    o = o[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            sv = sv.astype(np.float64)
            ov = ov.astype(np.float64)
            # driver hashes the byte/string representation, so -0.0
            # vs 0.0 is a mismatch there — be equally strict here
            ok = (sv == ov) & (np.signbit(sv) == np.signbit(ov))
            ok |= np.isnan(sv) & np.isnan(ov)
            if not ok.all():
                k = int(np.argmin(ok))
                problems.append(
                    f"col {c}: {int((~ok).sum())}/{len(ok)} mismatch, "
                    f"first at row {k}: spark={sv[k]!r} oracle={ov[k]!r}")
        else:
            eq = (s[c].astype(str).to_numpy() == o[c].astype(str).to_numpy())
            if not eq.all():
                k = int(np.argmin(eq))
                problems.append(
                    f"col {c}: {int((~eq).sum())}/{len(eq)} mismatch, "
                    f"first at row {k}: spark={s[c][k]!r} oracle={o[c][k]!r}")
    return problems


def check_query(spark, name: str, sf_dir: str) -> list[str]:
    from .. import queries as Q

    fn = Q.queries()[name]
    sql = Q.oracle_sql().get(name)
    sdf = fn(spark, sf_dir)
    if sql is None:
        n = sdf.count()
        return [] if n >= 0 else [f"{name}: negative count?"]
    odf = duckdb_run(sql, sf_dir)
    return compare(sdf, odf)
