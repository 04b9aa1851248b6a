"""Per-point candidate-operation selection.

The reference's proj_trans does not run ONE pipeline: when a CRS pair
admits several coordinate operations (regional datum grids, per-area
Helmert sets), `pj_get_suggested_operation` (src/trans.cpp:44-173)
picks, for every point, the candidate whose area of use contains the
point with the best accuracy, and falls back to the next candidate when
the chosen one fails (HUGE_VAL output — e.g. the point lies inside the
advertised bbox but outside the actual grid footprint).  The candidate
list itself is `alternativeCoordinateOperations`
(src/proj_internal.h:319-372).

Vectorized re-expression: candidates are sorted by accuracy; a boolean
bbox mask per candidate drives an `np.select`-style assignment, each
candidate transforms its masked subset in one kernel call, and points
whose output is NaN are retried by the remaining containing candidates
(the reference's retry loop, trans.cpp:141-160).  Cost is
O(n_candidates) kernel dispatches per batch — candidate lists are
small (regional grids), point batches are the 64k-chunked Arrow
batches, so the hot axis stays vectorized.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..proj import Transform, compile_projstring


@dataclass(frozen=True)
class CandidateOp:
    """One alternative operation: a compiled pipeline, its area of use
    as a (west, south, east, north) degree bbox (None = global), and
    its accuracy in meters (lower is better; use float('inf') for the
    ballpark fallback)."""
    transform: Transform
    bbox: tuple[float, float, float, float] | None
    accuracy: float
    name: str = ""

    def contains(self, lon, lat) -> np.ndarray:
        if self.bbox is None:
            return np.ones_like(np.asarray(lon, dtype=np.float64),
                                dtype=bool)
        w, s, e, n = self.bbox
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        if w <= e:
            in_lon = (lon >= w) & (lon <= e)
        else:  # bbox crossing the antimeridian (trans.cpp handles via
            # normalized west/east comparison)
            in_lon = (lon >= w) | (lon <= e)
        return in_lon & (lat >= s) & (lat <= n)


def candidate(projstr_or_transform, bbox=None, accuracy=float("inf"),
              name: str = "") -> CandidateOp:
    return CandidateOp(transform=compile_projstring(projstr_or_transform),
                       bbox=bbox, accuracy=float(accuracy), name=name)


class CandidateSelector:
    """Per-point dispatch over a candidate list, best accuracy first.

    transform_deg(lon, lat) returns (x, y, z, chosen) where ``chosen``
    is the candidate index used per point (-1 = no candidate contained
    the point / all containing candidates failed -> NaN output), so a
    caller can audit which operation served each point — the
    `proj_trans_get_last_used_operation` facility of the reference."""

    def __init__(self, candidates):
        if not candidates:
            raise ValueError("CandidateSelector: empty candidate list")
        # stable sort: ties keep caller order, like the reference's
        # sorted operation list
        self.candidates = sorted(candidates, key=lambda c: c.accuracy)

    def select(self, lon, lat) -> np.ndarray:
        """First containing candidate per point (no retry semantics —
        the static assignment trans.cpp starts from)."""
        lon = np.asarray(lon, dtype=np.float64)
        idx = np.full(lon.shape, -1, dtype=np.int64)
        for i, c in enumerate(self.candidates):
            m = (idx == -1) & c.contains(lon, lat)
            idx[m] = i
        return idx

    def transform_deg(self, lon, lat, z=None, t=None):
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        z = np.zeros_like(lon) if z is None else np.asarray(z, np.float64)
        t = (np.full_like(lon, np.inf) if t is None
             else np.asarray(t, np.float64))
        x = np.full_like(lon, np.nan)
        y = np.full_like(lon, np.nan)
        zo = np.full_like(lon, np.nan)
        chosen = np.full(lon.shape, -1, dtype=np.int64)
        done = np.zeros(lon.shape, dtype=bool)
        for i, c in enumerate(self.candidates):
            m = ~done & c.contains(lon, lat)
            if not m.any():
                continue
            xi, yi, zi, _ = c.transform.transform_deg(
                lon[m], lat[m], z=z[m], t=t[m])
            ok = np.isfinite(xi) & np.isfinite(yi)
            tgt = np.flatnonzero(m)[ok]
            x[tgt], y[tgt], zo[tgt] = xi[ok], yi[ok], zi[ok]
            chosen[tgt] = i
            done[tgt] = True
            # points where this candidate failed stay not-done and are
            # retried by the next containing candidate (trans.cpp
            # retry loop)
        return x, y, zo, chosen
