"""Vectorized S2 cell-id kernel (pure numpy, no Spark).

Implements the public S2 cell-id semantics — bijection between unit-sphere
points and 64-bit Hilbert-curve cell ids at 31 levels — as batch numpy
kernels.  Semantics conform to the reference C# port (file:line cites are
/root/reference/S2Geometry/*):

* encode chain lat/lng -> xyz -> (face,u,v) -> (s,t) -> (i,j) -> id
  (S2CellId.cs:412-427, S2Projections.cs:235-339)
* decode chain id -> (face,i,j) -> center xyz (S2CellId.cs:429-477,946-1011)
* cell topology: level/parent/children/ranges (S2CellId.cs:140-260,510-553)
* neighbors: edge/vertex/all incl. cross-face wrap (S2CellId.cs:711-865,1062-1083)
* hex tokens (S2CellId.cs:596-679)

All ids are numpy ``uint64`` internally.  At the Spark boundary ids are
stored as *biased* signed longs (``biased = raw XOR 2**63`` reinterpreted
as int64), which preserves unsigned ordering so range containment
(`RangeMin <= id <= RangeMax`, S2CellId.cs:510-522) works with plain
signed comparisons and Spark ``BETWEEN``.
"""

from __future__ import annotations

import numpy as np

from .hilbert import INVERT_MASK, LOOKUP_IJ, LOOKUP_POS8, SWAP_MASK

MAX_LEVEL = 30
NUM_FACES = 6
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL  # 2**30

_U = np.uint64
_BIAS = _U(1) << _U(63)
_ONE = _U(1)

# Points per block of the encode chain: its float and int temporaries
# (64k x 8 bytes each) stay in cache instead of streaming through memory.
ENCODE_BLOCK = 1 << 16

# Per-face component indices into (x, y, z, -x, -y, -z): (u numerator,
# v numerator, denominator) of valid_face_xyz_to_uv.  Face bits 6 and 7
# (invalid ids) read as face 5.
_FACE_UV = np.array([(1, 2, 0), (3, 2, 1), (3, 4, 2), (2, 1, 0), (2, 3, 1),
                     (4, 3, 2), (4, 3, 2), (4, 3, 2)])
# Per-face component indices into (1, u, v, -1, -u, -v): (x, y, z) of
# face_uv_to_xyz.
_FACE_XYZ = np.array([(0, 1, 2), (4, 0, 2), (4, 5, 0), (3, 5, 4), (2, 3, 4),
                      (2, 1, 3), (2, 1, 3), (2, 1, 3)])


# ---------------------------------------------------------------------------
# signed <-> unsigned id representation


def to_signed(ids: np.ndarray) -> np.ndarray:
    """uint64 raw id -> order-preserving biased int64 (Spark representation)."""
    return (np.asarray(ids, dtype=np.uint64) ^ _BIAS).view(np.int64)


def to_unsigned(ids: np.ndarray) -> np.ndarray:
    """biased int64 -> uint64 raw id."""
    return np.asarray(ids, dtype=np.int64).view(np.uint64) ^ _BIAS


# ---------------------------------------------------------------------------
# projections (S2Projections.cs)


def xyz_from_latlng_deg(lat_deg, lng_deg):
    """(lat,lng) degrees -> unit vector (x,y,z). S2LatLng.cs:214-220."""
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cosphi = np.cos(phi)
    return np.cos(theta) * cosphi, np.sin(theta) * cosphi, np.sin(phi)


def latlng_deg_from_xyz(x, y, z):
    """unit vector -> (lat,lng) degrees via atan2 (pole-accurate). S2LatLng.cs:52-58."""
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lng = np.arctan2(y, x)
    return np.degrees(lat), np.degrees(lng)


def st_to_uv(s):
    """Quadratic projection cell-space -> cube-space. S2Projections.cs:235-243."""
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0, (1 / 3.0) * ((1 + s) * (1 + s) - 1),
                    (1 / 3.0) * (1 - (1 - s) * (1 - s)))


def uv_to_st(u):
    """Inverse quadratic projection. S2Projections.cs:257-265.  One sqrt:
    1 - 3u == 1 + 3|u| exactly for u < 0."""
    u = np.asarray(u, dtype=np.float64)
    r = np.sqrt(1 + 3 * np.abs(u))
    return np.where(u >= 0, r - 1, 1 - r)


def xyz_to_face(x, y, z):
    """Face = signed largest-abs-component. S2Projections.cs:331-339."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where((ax > ay) & (ax > az), 0, np.where(ay > az, 1, 2)).astype(np.int64)
    comp = np.where(face == 0, x, np.where(face == 1, y, z))
    return np.where(comp < 0, face + 3, face)


def _per_face(table, face, a, b, c):
    """Elementwise (a, b, c, -a, -b, -c)[table[face, k]] for each column k
    of table, for broadcast inputs: one gather per ENCODE_BLOCK instead of
    a select per face."""
    face, a, b, c = np.broadcast_arrays(face, a, b, c)
    shape = face.shape
    face, a, b, c = (v.reshape(-1) for v in (face, a, b, c))
    out = np.empty((table.shape[1], len(face)))
    for s in range(0, len(face), ENCODE_BLOCK):
        e = s + ENCODE_BLOCK
        f = face[s:e]
        comps = np.concatenate((a[s:e], b[s:e], c[s:e]))
        comps = np.concatenate((comps, -comps))
        out[:, s:e] = comps[table[f] * len(f) + np.arange(len(f))[:, None]].T
    return [col.reshape(shape) for col in out]


def valid_face_xyz_to_uv(face, x, y, z):
    """(face,xyz) -> (u,v), assumes p on the +face side. S2Projections.cs:296-329."""
    un, vn, d = _per_face(_FACE_UV, face, np.asarray(x, dtype=np.float64),
                          np.asarray(y, dtype=np.float64), np.asarray(z, dtype=np.float64))
    with np.errstate(divide="ignore", invalid="ignore"):
        return un / d, vn / d


def face_uv_to_xyz(face, u, v):
    """(face,u,v) -> direction vector (not unit length). S2Projections.cs:277-294."""
    return tuple(_per_face(_FACE_XYZ, face, np.float64(1.0), np.asarray(u, dtype=np.float64),
                           np.asarray(v, dtype=np.float64)))


def st_to_ij(s):
    """s in [-1,1] -> i in [0, 2^30). Round-half-even like the reference's
    Math.Round (np.rint is also round-half-even). S2CellId.cs:1033-1042."""
    m = MAX_SIZE // 2
    return np.clip(np.rint(m * np.asarray(s, dtype=np.float64) + (m - 0.5)),
                   0, 2 * m - 1).astype(np.int64)


# ---------------------------------------------------------------------------
# Hilbert encode / decode (S2CellId.cs:875-1011)


def from_face_ij(face, i, j):
    """Leaf cell id from (face, i, j): 4 rounds of 8-bit gathers from
    LOOKUP_POS8, in int32.  Bits 0..31 of i and j are read, and each
    gather equals two rounds of the 4-bit LOOKUP_POS."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64).astype(np.int32)
    j = np.asarray(j, dtype=np.int64).astype(np.int32)
    n = face.astype(np.uint64) << _U(POS_BITS - 1)
    bits = (face & SWAP_MASK).astype(np.int32)
    for k in range(3, -1, -1):
        bits = bits | (((i >> (k * 8)) & 255) << 10) | (((j >> (k * 8)) & 255) << 2)
        bits = LOOKUP_POS8[bits]
        n = n | ((bits >> 2).astype(np.uint64) << _U(k * 16))
        bits = bits & (SWAP_MASK | INVERT_MASK)
    return n * _U(2) + _ONE


def to_face_ij_orientation(ids, want_orientation: bool = False):
    """id -> (face, i, j[, orientation]) of the leaf cell nearest the center."""
    ids = np.asarray(ids, dtype=np.uint64)
    face = (ids >> _U(POS_BITS)).astype(np.int64)
    bits = face & SWAP_MASK
    i = np.zeros(ids.shape, dtype=np.int64)
    j = np.zeros(ids.shape, dtype=np.int64)
    for k in range(7, -1, -1):
        nbits = MAX_LEVEL - 7 * 4 if k == 7 else 4  # 2 on the first round
        chunk = ((ids >> _U(k * 8 + 1)) & _U((1 << (2 * nbits)) - 1)).astype(np.int64)
        bits = bits + (chunk << 2)
        bits = LOOKUP_IJ[bits]
        i = i + ((bits >> 6) << (k * 4))
        j = j + (((bits >> 2) & 15) << (k * 4))
        bits = bits & (SWAP_MASK | INVERT_MASK)
    if not want_orientation:
        return face, i, j
    # suffix "00" repetitions flip the swap bit (S2CellId.cs:985-1005)
    flip = (lowest_on_bit(ids) & _U(0x1111111111111110)) != 0
    orientation = np.where(flip, bits ^ SWAP_MASK, bits)
    return face, i, j, orientation


def _in_blocks(encode, *coords):
    """encode(*coords) over ENCODE_BLOCK-point slices of the broadcast
    inputs (elementwise, so the result equals one whole-array call)."""
    coords = np.broadcast_arrays(*(np.asarray(c, dtype=np.float64) for c in coords))
    if coords[0].size <= ENCODE_BLOCK:
        return encode(*coords)
    flat = [c.ravel() for c in coords]
    out = np.empty(coords[0].shape, dtype=np.uint64)
    out_flat = out.reshape(-1)
    for s in range(0, len(out_flat), ENCODE_BLOCK):
        out_flat[s:s + ENCODE_BLOCK] = encode(*(c[s:s + ENCODE_BLOCK] for c in flat))
    return out


def _encode_point(x, y, z):
    face = xyz_to_face(x, y, z)
    u, v = valid_face_xyz_to_uv(face, x, y, z)
    return from_face_ij(face, st_to_ij(uv_to_st(u)), st_to_ij(uv_to_st(v)))


def _encode_latlng(lat_deg, lng_deg):
    return _encode_point(*xyz_from_latlng_deg(lat_deg, lng_deg))


def from_point(x, y, z):
    """Leaf cell containing direction vector (x,y,z). S2CellId.cs:412-419."""
    return _in_blocks(_encode_point, x, y, z)


def from_latlng_deg(lat_deg, lng_deg):
    """Leaf cell for (lat,lng) in degrees. S2CellId.cs:424-427."""
    return _in_blocks(_encode_latlng, lat_deg, lng_deg)


def to_point_raw(ids):
    """Cell center direction vector (not unit length). S2CellId.cs:429-477."""
    ids = np.asarray(ids, dtype=np.uint64)
    face, i, j = to_face_ij_orientation(ids)
    is_leaf = (ids & _ONE) != 0
    delta = np.where(is_leaf, 1,
                     np.where(((i ^ (ids >> _U(2)).astype(np.int64)) & 1) != 0, 2, 0))
    si = (i << 1) + delta - MAX_SIZE
    ti = (j << 1) + delta - MAX_SIZE
    scale = 1.0 / MAX_SIZE
    u = st_to_uv(scale * si)
    v = st_to_uv(scale * ti)
    return face_uv_to_xyz(face, u, v)


def to_point(ids):
    """Normalized cell center."""
    x, y, z = to_point_raw(ids)
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def to_latlng_deg(ids):
    x, y, z = to_point_raw(ids)
    return latlng_deg_from_xyz(x, y, z)


# ---------------------------------------------------------------------------
# cell topology (pure uint64 bit arithmetic)


def lowest_on_bit(ids) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    s = ids.view(np.int64)
    return (s & -s).view(np.uint64)


def lowest_on_bit_for_level(level) -> np.ndarray:
    level = np.asarray(level, dtype=np.int64)
    return (_ONE << (2 * (MAX_LEVEL - level)).astype(np.uint64))


def level_of(ids) -> np.ndarray:
    """Subdivision level 0..30 = 30 - tz(id)/2 (powers of two are exact in
    float64, so frexp gives the bit index without a ctz primitive)."""
    lsb = lowest_on_bit(ids)
    tz = np.frexp(lsb.astype(np.float64))[1] - 1
    return (MAX_LEVEL - (tz >> 1)).astype(np.int64)


def is_valid(ids) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    face_ok = (ids >> _U(POS_BITS)) < _U(NUM_FACES)
    return face_ok & ((lowest_on_bit(ids) & _U(0x1555555555555555)) != 0)


def is_leaf(ids) -> np.ndarray:
    return (np.asarray(ids, dtype=np.uint64) & _ONE) != 0


def parent_for_level(ids, level) -> np.ndarray:
    """Ancestor at the given level. S2CellId.cs:246-260."""
    ids = np.asarray(ids, dtype=np.uint64)
    new_lsb = lowest_on_bit_for_level(level)
    s = ids.view(np.int64)
    return ((s & -(new_lsb.view(np.int64))).view(np.uint64)) | new_lsb


def range_min(ids) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids - (lowest_on_bit(ids) - _ONE)


def range_max(ids) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids + (lowest_on_bit(ids) - _ONE)


def contains(a, b) -> np.ndarray:
    """True where cell a contains cell b (range test, S2CellId.cs:510-514)."""
    b = np.asarray(b, dtype=np.uint64)
    return (b >= range_min(a)) & (b <= range_max(a))


def intersects(a, b) -> np.ndarray:
    """True where ranges overlap (S2CellId.cs:518-522)."""
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


SENTINEL = np.uint64(0xFFFFFFFFFFFFFFFF)


def _lca_from_xor(a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Smallest cell containing leaf a and every leaf whose xor with a is
    folded into x; SENTINEL where face bits differ.  O(1) bit trick in place
    of the reference's parent-chasing loop (S2EdgeIndex.cs:270-313): the
    highest differing bit h maps to LCA level 30 - (h+1)//2."""
    y = x.copy()
    for s in (1, 2, 4, 8, 16, 32):
        y = y | (y >> np.uint64(s))
    msb = y ^ (y >> np.uint64(1))          # power of two -> frexp is exact
    h = np.frexp(msb.astype(np.float64))[1] - 1
    level = np.where(x == 0, MAX_LEVEL, MAX_LEVEL - ((h + 1) >> 1))
    face_differs = (x >> _U(POS_BITS)) != 0
    return np.where(face_differs, SENTINEL,
                    parent_for_level(a, np.maximum(level, 0)))


def containing_cell(a, b) -> np.ndarray:
    """Smallest cell containing both leaf cells, SENTINEL if the faces
    differ (S2EdgeIndex.cs:296-313, ContainingCell)."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    return _lca_from_xor(a, a ^ b)


def containing_cell4(a, b, c, d) -> np.ndarray:
    """Smallest cell containing all four leaf cells, SENTINEL if they span
    faces (S2EdgeIndex.cs:270-294)."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    c = np.asarray(c, dtype=np.uint64)
    d = np.asarray(d, dtype=np.uint64)
    return _lca_from_xor(a, (a ^ b) | (a ^ c) | (a ^ d))


def child_begin_for_level(ids, level) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids - lowest_on_bit(ids) + lowest_on_bit_for_level(level)


def child_end_for_level(ids, level) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids + lowest_on_bit(ids) + lowest_on_bit_for_level(level)


def children(ids) -> np.ndarray:
    """(n,4) array of the 4 children of each (non-leaf) cell."""
    ids = np.asarray(ids, dtype=np.uint64)
    new_lsb = lowest_on_bit(ids) >> _U(2)
    base = ids - lowest_on_bit(ids) + new_lsb  # child 0
    step = new_lsb * _U(2)
    return base[:, None] + np.arange(4, dtype=np.uint64)[None, :] * step[:, None]


def from_face_pos_level(face, pos, level) -> np.ndarray:
    """(face, 61-bit pos, level) -> cell id. S2CellId.cs:402-405."""
    face = np.asarray(face, dtype=np.uint64)
    pos = np.asarray(pos, dtype=np.uint64)
    raw = (face << _U(POS_BITS)) + (pos | _ONE)
    return parent_for_level(raw, level)


# ---------------------------------------------------------------------------
# neighbors (S2CellId.cs:711-865)


def _from_face_ij_wrap(face, i, j):
    """Out-of-bounds (i,j) -> leaf cell on the adjacent face. S2CellId.cs:1062-1083."""
    i = np.clip(i, -1, MAX_SIZE)
    j = np.clip(j, -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    s = scale * ((i << 1) + 1 - MAX_SIZE)
    t = scale * ((j << 1) + 1 - MAX_SIZE)
    x, y, z = face_uv_to_xyz(face, s, t)
    nface = xyz_to_face(x, y, z)
    u, v = valid_face_xyz_to_uv(nface, x, y, z)
    return from_face_ij(nface, st_to_ij(u), st_to_ij(v))


def from_face_ij_same(face, i, j, same_face):
    """Dispatch between in-face encode and cross-face wrap."""
    same_face = np.asarray(same_face, dtype=bool)
    out = np.empty(np.broadcast(face, i, j).shape, dtype=np.uint64)
    face = np.broadcast_to(face, out.shape)
    i = np.broadcast_to(i, out.shape)
    j = np.broadcast_to(j, out.shape)
    if same_face.all():
        return from_face_ij(face, i, j)
    m = same_face
    out[m] = from_face_ij(face[m], i[m], j[m])
    w = ~m
    out[w] = _from_face_ij_wrap(face[w], i[w], j[w])
    return out


def get_edge_neighbors(ids) -> np.ndarray:
    """(n,4) same-level neighbors in S,E,N,W order. S2CellId.cs:717-739."""
    ids = np.asarray(ids, dtype=np.uint64)
    level = level_of(ids)
    size = np.int64(1) << (MAX_LEVEL - level)
    face, i, j = to_face_ij_orientation(ids)
    out = np.empty(ids.shape + (4,), dtype=np.uint64)
    out[:, 0] = parent_for_level(from_face_ij_same(face, i, j - size, j - size >= 0), level)
    out[:, 1] = parent_for_level(from_face_ij_same(face, i + size, j, i + size < MAX_SIZE), level)
    out[:, 2] = parent_for_level(from_face_ij_same(face, i, j + size, j + size < MAX_SIZE), level)
    out[:, 3] = parent_for_level(from_face_ij_same(face, i - size, j, i - size >= 0), level)
    return out


def get_vertex_neighbors(ids, level) -> tuple[np.ndarray, np.ndarray]:
    """Neighbors of the closest vertex at the given (coarser) level.

    Returns (neighbors (n,4) uint64, valid (n,4) bool); the 4th slot is
    invalid for the 8 cube-corner cells. S2CellId.cs:751-803.
    """
    ids = np.asarray(ids, dtype=np.uint64)
    face, i, j = to_face_ij_orientation(ids)
    halfsize = np.int64(1) << (MAX_LEVEL - (np.asarray(level, dtype=np.int64) + 1))
    size = halfsize << 1
    ibit = (i & halfsize) != 0
    ioffset = np.where(ibit, size, -size)
    isame = np.where(ibit, (i + size) < MAX_SIZE, (i - size) >= 0)
    jbit = (j & halfsize) != 0
    joffset = np.where(jbit, size, -size)
    jsame = np.where(jbit, (j + size) < MAX_SIZE, (j - size) >= 0)

    out = np.empty(ids.shape + (4,), dtype=np.uint64)
    valid = np.ones(ids.shape + (4,), dtype=bool)
    out[:, 0] = parent_for_level(ids, level)
    out[:, 1] = parent_for_level(from_face_ij_same(face, i + ioffset, j, isame), level)
    out[:, 2] = parent_for_level(from_face_ij_same(face, i, j + joffset, jsame), level)
    out[:, 3] = parent_for_level(
        from_face_ij_same(face, i + ioffset, j + joffset, isame & jsame), level)
    valid[:, 3] = isame | jsame
    return out, valid


def get_all_neighbors(ids, nbr_level=None) -> tuple[np.ndarray, np.ndarray]:
    """Moore-ring neighbors at nbr_level >= level (default: same level).

    Returns (neighbors (n,m) uint64, valid (n,m) bool).  For same-level
    expansion m == 8; for finer nbr_level the ring is longer.  Cells
    adjacent to a face vertex may repeat a neighbor, matching the
    reference (S2CellId.cs:815-865).
    """
    ids = np.asarray(ids, dtype=np.uint64)
    level = level_of(ids)
    if nbr_level is None:
        nbr_level_arr = level
    else:
        nbr_level_arr = np.broadcast_to(np.asarray(nbr_level, dtype=np.int64), ids.shape)
    if not (nbr_level_arr >= level).all():
        raise ValueError("nbr_level must be >= cell level")
    # Vectorize only the homogeneous case (all rows same ring length);
    # heterogeneous inputs fall back to per-group recursion.
    sizes = np.int64(1) << (MAX_LEVEL - level)
    nbr_sizes = np.int64(1) << (MAX_LEVEL - nbr_level_arr)
    steps = sizes // nbr_sizes
    if not (steps == steps.flat[0]).all():
        raise ValueError("mixed ring sizes; call per homogeneous group")
    step = int(steps.flat[0])

    face, i, j = to_face_ij_orientation(ids)
    i = i & -sizes
    j = j & -sizes
    size = sizes
    nbr_size = nbr_sizes

    cols = []
    valids = []

    def emit(fi, fj, same):
        cols.append(parent_for_level(from_face_ij_same(face, fi, fj, same), nbr_level_arr))
        valids.append(np.ones(ids.shape, dtype=bool))

    k = -nbr_size
    for t in range(step + 2):  # k = -nbr_size, 0, .., size
        if t == 0:
            kk = -nbr_size
            same_face = (j + kk) >= 0
        elif t == step + 1:
            kk = size
            same_face = (j + kk) < MAX_SIZE
        else:
            kk = (t - 1) * nbr_size
            same_face = np.ones(ids.shape, dtype=bool)
            emit(i + kk, j - nbr_size, j - size >= 0)
            emit(i + kk, j + size, j + size < MAX_SIZE)
        emit(i - nbr_size, j + kk, same_face & (i - size >= 0))
        emit(i + size, j + kk, same_face & (i + size < MAX_SIZE))
    del k
    nbrs = np.stack(cols, axis=-1)
    valid = np.stack(valids, axis=-1)
    return nbrs, valid


# ---------------------------------------------------------------------------
# tokens (S2CellId.cs:596-679)


def to_token(ids) -> np.ndarray:
    """id -> <=16-char lowercase hex with trailing zeros stripped; 0 -> 'X'."""
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    out = np.empty(ids.shape, dtype=object)
    for idx, v in enumerate(ids):
        if v == 0:
            out[idx] = "X"
        else:
            out[idx] = format(int(v), "016x").rstrip("0")
    return out


def from_token(tokens) -> np.ndarray:
    """Inverse of to_token ('X'/''/>16 chars -> 0)."""
    tokens = np.atleast_1d(np.asarray(tokens, dtype=object))
    out = np.zeros(tokens.shape, dtype=np.uint64)
    for idx, t in enumerate(tokens):
        if t is None or t == "" or len(t) > 16 or t.upper() == "X":
            out[idx] = 0
        else:
            out[idx] = np.uint64(int(t.ljust(16, "0"), 16))
    return out
