"""S2 cell-id encoding/decoding, vectorized NumPy.

The cube-face geometry (face selection by largest |XYZ| component,
face UV <-> XYZ frames, and the quadratic ST<->UV curve) follows the
S2 math present in the reference (/root/reference/src/projections/
s2.cpp:105-253: GetFace :226-243, FaceUVtoXYZ :171-186,
ValidFaceXYZtoUV :192-220, STtoUV/UVtoST quadratic :126-169).
The Hilbert-curve cell-id layout (3 face bits + 60 position bits +
sentinel bit) follows the public S2 geometry spec; the reference does
not contain the cell-id integer encoding, only the projection math.

Cell ids are int64 (faces 4-5 set the top bit, so they are negative).
Level 0..30.  Every id has its sentinel bit set, so 0 is never a cell.

Bbox covers (:func:`cover_bboxes`).  Inside the open hemisphere of a
face's axis, a bbox's u/v extremes in that face's chart lie on its
boundary.  Face u/v are gnomonic coordinates, so a meridian is a
straight line in u/v and the bbox's meridian edges reach their u/v
extremes at the corners.  Along a parallel, u and v are tan or cot of
lon, or a constant times cos, sin, 1/cos or 1/sin of lon (face 0:
u = tan(lon), v = tan(lat)/cos(lon); face 2: u = -cos(lon)/tan(lat)),
so their only interior extremes sit where lon is a multiple of 90°.
The exact u/v bounding box therefore comes from the 4 corners plus at
most 5 points on each of the two parallels.

Every bbox is cut into pieces that each lie in such a hemisphere for
every face they can touch: by the equatorial faces' longitude sectors
(edges -180/-135/-45/45/135/180 for faces 3, 4, 0, 1, 3) and by
latitude bands at ±35°.  No point below atan(1/√2) = 35.26° lies on a
polar face, so within |lat| <= 35° every point of a sector lies on
that sector's face; above 35° (below -35°) a piece can also touch face
2 (face 5).  A piece's cover on a face is the i/j range of its u/v box
clamped to [-1, 1].  A pole is outside its sector faces' hemispheres,
but deg2rad(±90) leaves cos(lat) = 6e-17 > 0, so there it gives a huge
finite v that the clamp absorbs.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_LIMIT_IJ = 1 << MAX_LEVEL
_SWAP = 1
_INVERT = 2

# Hilbert sub-cell orderings (public S2 spec)
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENTATION = (_SWAP, 0, 0, _INVERT + _SWAP)

_LOOKUP_BITS = 4


def _build_lookup():
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)

    def rec(level, i, j, orig, pos, orient):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) | j
            lookup_pos[(ij << 2) | orig] = (pos << 2) | orient
            lookup_ij[(pos << 2) | orig] = (ij << 2) | orient
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orient]
        for index in range(4):
            ij = r[index]
            rec(level, i + (ij >> 1), j + (ij & 1), orig, pos + index,
                orient ^ _POS_TO_ORIENTATION[index])

    for orig in (0, _SWAP, _INVERT, _SWAP | _INVERT):
        rec(0, 0, 0, orig, 0, orig)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookup()


# ---------------- geometry (vectorized; mirrors s2.cpp) -----------------

def lonlat_to_xyz(lon_rad, lat_rad):
    cosl = np.cos(lat_rad)
    return np.cos(lon_rad) * cosl, np.sin(lon_rad) * cosl, np.sin(lat_rad)


def xyz_to_face_uv(x, y, z):
    """GetFace + ValidFaceXYZtoUV (s2.cpp:226-253), vectorized.

    Numerators/denominator are gathered per point instead of
    evaluating all six ratios (6x less arithmetic + memory traffic —
    this encoder is the hot loop of the tiling path)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    pface = np.choose(face, [x, y, z])
    face = np.where(pface < 0, face + 3, face)
    u_num, v_num, den = _face_frame(face, x, y, z)
    with np.errstate(invalid="ignore", divide="ignore"):
        # true division (not reciprocal-multiply): bit-parity with the
        # oracle's y/x etc. must hold
        u = u_num / den
        v = v_num / den
    return face, u, v


def _face_frame(face, x, y, z):
    """(u numerator, v numerator, denominator) of xyz in ``face``'s
    chart, whichever face the point lies on (ValidFaceXYZtoUV,
    s2.cpp:192-220); the denominator's sign is the face's axis sign."""
    nx, ny = -x, -y
    # u = [y/x, -x/y, -x/z, z/x, z/y, -y/z][face]
    u_num = np.choose(face, [y, nx, nx, z, z, ny])
    v_num = np.choose(face, [z, z, ny, y, nx, nx])
    den = np.choose(face, [x, y, z, x, y, z])
    return u_num, v_num, den


def face_uv_to_xyz(face, u, v):
    """FaceUVtoXYZ (s2.cpp:171-186), vectorized."""
    one = np.ones_like(u)
    x = np.choose(face, [one, -u, -u, -one, v, v])
    y = np.choose(face, [u, one, -v, -v, -one, u])
    z = np.choose(face, [v, v, one, -u, -u, -one])
    return x, y, z


def st_to_uv(s):
    """Quadratic curve (s2.cpp:131-136)."""
    return np.where(
        s >= 0.5, (1.0 / 3) * (4 * s * s - 1), (1.0 / 3) * (1 - 4 * (1 - s) * (1 - s))
    )


def uv_to_st(u):
    """Quadratic inverse (s2.cpp:154-158)."""
    with np.errstate(invalid="ignore"):  # both np.where branches evaluate
        return np.where(
            u >= 0, 0.5 * np.sqrt(1 + 3 * u), 1 - 0.5 * np.sqrt(1 - 3 * u)
        )


def st_to_ij(s):
    return np.clip(np.floor(_LIMIT_IJ * s), 0, _LIMIT_IJ - 1).astype(np.int64)


# ---------------- cell ids ----------------------------------------------

def from_face_ij(face, i, j):
    """Leaf cell id from (face, i, j); Hilbert lookup in 4-bit nibbles.

    ids are returned as int64 (faces 4-5 set bit 63, hence negative
    values — fine for join keys; decode uses logical shifts)."""
    face = np.asarray(face, dtype=np.int64)
    n = (face.astype(np.uint64)) << np.uint64(60)
    bits = face & _SWAP
    for k in range(7, -1, -1):
        mask = (1 << _LOOKUP_BITS) - 1
        bits += ((i >> (k * _LOOKUP_BITS)) & mask) << (_LOOKUP_BITS + 2)
        bits += ((j >> (k * _LOOKUP_BITS)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        n |= bits.astype(np.uint64) >> np.uint64(2) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= _SWAP | _INVERT
    return (n * np.uint64(2) + np.uint64(1)).view(np.int64)


def to_face_ij(cell_id):
    """Decode leaf-aligned id -> (face, i, j) of its min leaf."""
    cid_u = np.asarray(cell_id, dtype=np.int64).view(np.uint64)
    face = (cid_u >> np.uint64(61)).astype(np.int64)
    n = (cid_u >> np.uint64(1)).astype(np.int64)
    bits = face & _SWAP
    i = np.zeros(face.shape, dtype=np.int64)
    j = np.zeros(face.shape, dtype=np.int64)
    for k in range(7, -1, -1):
        # the top chunk holds only 2 levels (i/j are 30 = 7*4+2 bits);
        # zero-extension through the lookup table is exact because the
        # Hilbert pos-0 orientation flips cancel pairwise
        nbits = MAX_LEVEL - 7 * _LOOKUP_BITS if k == 7 else _LOOKUP_BITS
        bits += ((n >> (k * 2 * _LOOKUP_BITS)) & ((1 << (2 * nbits)) - 1)) << 2
        bits = _LOOKUP_IJ[bits]
        i += (bits >> (_LOOKUP_BITS + 2)) << (k * _LOOKUP_BITS)
        j += ((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * _LOOKUP_BITS)
        bits &= _SWAP | _INVERT
    return face, i, j


def lsb_for_level(level):
    return np.int64(1) << (2 * (MAX_LEVEL - np.asarray(level)))


def parent(cell_id, level):
    """Ancestor cell at `level` (id & -new_lsb) | new_lsb."""
    new_lsb = lsb_for_level(level)
    return (np.asarray(cell_id, dtype=np.int64) & (-new_lsb)) | new_lsb


def level_of(cell_id):
    cell_id = np.asarray(cell_id, dtype=np.int64)
    lsb = cell_id & (-cell_id)
    # level = 30 - (number of trailing zero bit-pairs)
    tz = np.zeros_like(cell_id)
    v = lsb.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = (v & ((np.int64(1) << shift) - 1)) == 0
        tz = np.where(m & (v != 0), tz + shift, tz)
        v = np.where(m, v >> shift, v)
    return MAX_LEVEL - tz // 2


def cell_id(lon_deg, lat_deg, level=MAX_LEVEL):
    """lon/lat degrees -> S2 cell id at `level` (the headline encoder);
    0, S2's invalid id, where lon or lat is NaN or infinite."""
    lon = np.asarray(lon_deg, dtype=np.float64)
    lat = np.asarray(lat_deg, dtype=np.float64)
    with np.errstate(invalid="ignore"):  # non-finite points, masked below
        x, y, z = lonlat_to_xyz(lon * (np.pi / 180.0), lat * (np.pi / 180.0))
        face, u, v = xyz_to_face_uv(x, y, z)
        i = st_to_ij(uv_to_st(u))
        j = st_to_ij(uv_to_st(v))
    cell = from_face_ij(face, i, j)
    if level < MAX_LEVEL:
        cell = parent(cell, level)
    # masked after parent(): parent(0, level) is not 0; [()] unwraps 0-d
    return np.where(np.isfinite(lon) & np.isfinite(lat), cell, 0)[()]


def cell_center(cell_id_arr):
    """Cell center -> (lon_deg, lat_deg)."""
    cell_id_arr = np.asarray(cell_id_arr, dtype=np.int64)
    face, i, j = to_face_ij(cell_id_arr)
    lsb = cell_id_arr & (-cell_id_arr)
    # center leaf coordinates: the decoded (i,j) is the min leaf; the
    # cell spans size = sqrt(lsb*2... ) use si/ti: size = 1 << (30-level)
    lvl = level_of(cell_id_arr)
    size = np.int64(1) << (MAX_LEVEL - lvl)
    ic = (i & ~(size - 1)) + size // 2
    jc = (j & ~(size - 1)) + size // 2
    # leaf cells: center of the leaf
    ic = np.where(lvl == MAX_LEVEL, i, ic)
    jc = np.where(lvl == MAX_LEVEL, j, jc)
    s = (ic.astype(np.float64) + 0.5) / _LIMIT_IJ
    t = (jc.astype(np.float64) + 0.5) / _LIMIT_IJ
    u = st_to_uv(s)
    v = st_to_uv(t)
    x, y, z = face_uv_to_xyz(face, u, v)
    lon = np.arctan2(y, x) * (180.0 / np.pi)
    lat = np.arctan2(z, np.hypot(x, y)) * (180.0 / np.pi)
    return lon, lat


_SECTORS = np.array([-180.0, -135.0, -45.0, 45.0, 135.0, 180.0])
_BANDS = np.array([-90.0, -35.0, 35.0, 90.0])
# (sector, band, face) of every piece chart: the sector's equatorial
# face, plus the polar face (5 south, 2 north) outside the middle band
_PIECES = np.array([(s, b, f) for s, face in enumerate((3, 4, 0, 1, 3))
                    for b, polar in enumerate((5, None, 2))
                    for f in (face, polar) if f is not None]).T
_QUADRANTS = np.array([-180.0, -90.0, 0.0, 90.0, 180.0])
_UV_EPS = 1e-9


def cover_bboxes(lon_min, lat_min, lon_max, lat_max, level):
    """Cell covers of many lon/lat bboxes at `level` in one call ->
    (bbox_idx, cell) int64 arrays, one row per distinct pair: every
    level-`level` cell holding a point of the closed bbox is listed
    with that bbox's index.

    Each bbox is cut into pieces by sector and band (see the module
    docstring); each piece is covered in the chart of every face it can
    touch by the i/j range of its u/v bounding box, widened by 1e-9 and
    clamped to the face, enumerated with from_face_ij + parent.  An
    inverted, NaN or out-of-range bbox covers only its part inside the
    lon/lat range, which may be nothing.
    """
    lo0, la0, lo1, la1 = (np.atleast_1d(np.asarray(a, dtype=np.float64))
                          for a in (lon_min, lat_min, lon_max, lat_max))
    sector, band, face = _PIECES
    # np.maximum/np.minimum keep a NaN bound, which then fails both tests
    p_lo0 = np.maximum(lo0[:, None], _SECTORS[sector])
    p_lo1 = np.minimum(lo1[:, None], _SECTORS[sector + 1])
    p_la0 = np.maximum(la0[:, None], _BANDS[band])
    p_la1 = np.minimum(la1[:, None], _BANDS[band + 1])
    box, piece = np.nonzero((p_lo0 <= p_lo1) & (p_la0 <= p_la1))
    lo0, lo1 = p_lo0[box, piece], p_lo1[box, piece]
    la0, la1 = p_la0[box, piece], p_la1[box, piece]
    face = face[piece]
    n = len(box)
    # the u/v extremes: 4 corners plus each parallel's multiples of 90°
    # (see the module docstring), as (n, 2 parallels, 7 lons) points
    on = (_QUADRANTS >= lo0[:, None]) & (_QUADRANTS <= lo1[:, None])
    lons = np.concatenate([lo0[:, None], lo1[:, None],
                           np.where(on, _QUADRANTS, lo0[:, None])], axis=1)
    lons = np.broadcast_to(lons[:, None, :], (n, 2, 7))
    lats = np.broadcast_to(np.stack([la0, la1], axis=1)[:, :, None], (n, 2, 7))
    x, y, z = lonlat_to_xyz(np.deg2rad(lons), np.deg2rad(lats))
    u_num, v_num, den = _face_frame(face[:, None, None], x, y, z)
    u = u_num / den
    v = v_num / den
    pts = (1, 2)
    u_lo, u_hi = u.min(axis=pts) - _UV_EPS, u.max(axis=pts) + _UV_EPS
    v_lo, v_hi = v.min(axis=pts) - _UV_EPS, v.max(axis=pts) + _UV_EPS
    k = np.flatnonzero((u_lo <= 1.0) & (u_hi >= -1.0)
                       & (v_lo <= 1.0) & (v_hi >= -1.0))

    shift = MAX_LEVEL - level
    # st_to_ij clamps a u/v beyond the face edge to the edge's i/j
    i_lo, i_hi, j_lo, j_hi = (st_to_ij(uv_to_st(b[k])) >> shift
                              for b in (u_lo, u_hi, v_lo, v_hi))
    ni = i_hi - i_lo + 1
    nj = j_hi - j_lo + 1
    cnt = ni * nj
    rep = np.repeat(np.arange(len(k)), cnt)
    off = np.arange(int(cnt.sum())) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    i = (i_lo[rep] + off // nj[rep]) << shift
    j = (j_lo[rep] + off % nj[rep]) << shift
    idx = box[k][rep]
    cells = parent(from_face_ij(face[k][rep], i, j), level)
    # pieces of one bbox meet on a face: keep one row per (bbox, cell)
    order = np.lexsort((cells, idx))
    idx, cells = idx[order], cells[order]
    first = np.ones(len(idx), dtype=bool)
    first[1:] = (idx[1:] != idx[:-1]) | (cells[1:] != cells[:-1])
    return idx[first], cells[first]
