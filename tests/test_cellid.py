"""Cell-id kernel conformance vs the reference's S2CellIdTest fixtures."""

import math

import numpy as np

from s2spark.kernel import cellid as ci, metrics
from tests.conftest import random_points

U = np.uint64


def test_token_goldens():
    # S2CellIdTest.cs:298-302
    assert ci.to_token(np.array([266], dtype=U))[0] == "000000000000010a"
    assert ci.to_token(np.array([0x80855C0000000000], dtype=U))[0] == "80855c"
    assert int(ci.from_token(np.array(["80855c"], dtype=object))[0]) == 0x80855C0000000000
    assert ci.to_token(np.array([0], dtype=U))[0] == "X"
    assert int(ci.from_token(np.array(["X"], dtype=object))[0]) == 0


def test_token_roundtrip_random(rng):
    x, y, z = random_points(rng, 1000)
    ids = ci.from_point(x, y, z)
    toks = ci.to_token(ids)
    back = ci.from_token(toks)
    assert np.array_equal(ids, back)


def test_face_centers():
    # face centers map to faces 0..5 (semantics of FaceUvToXyz)
    cases = [((0, 0), 0), ((0, 90), 1), ((90, 0), 2), ((0, 180), 3),
             ((0, -90), 4), ((-90, 0), 5)]
    for (lat, lng), face in cases:
        cid = ci.from_latlng_deg(np.array([float(lat)]), np.array([float(lng)]))
        assert int(cid[0] >> U(61)) == face


def test_encode_decode_inverse(rng):
    # S2CellIdTest.cs:21-32 — 200k random leaf cells round-trip
    x, y, z = random_points(rng, 200_000)
    ids = ci.from_point(x, y, z)
    px, py, pz = ci.to_point(ids)
    assert np.array_equal(ci.from_point(px, py, pz), ids)
    # coverage bound: angle(p, decode(encode(p))) <= 0.5*MaxDiag(30)
    cxx, cyy, czz = np.asarray(px), np.asarray(py), np.asarray(pz)
    dots = x * cxx + y * cyy + z * czz
    crosses = np.sqrt((y * czz - z * cyy) ** 2 + (z * cxx - x * czz) ** 2
                      + (x * cyy - y * cxx) ** 2)
    ang = np.arctan2(crosses, dots)
    assert ang.max() <= 0.5 * metrics.MAX_DIAG.get_value(30)


def test_level_parent_range_invariants(rng):
    x, y, z = random_points(rng, 10_000)
    ids = ci.from_point(x, y, z)
    assert np.all(ci.level_of(ids) == 30)
    assert np.all(ci.is_leaf(ids))
    assert np.all(ci.is_valid(ids))
    for level in (0, 5, 10, 22, 29):
        p = ci.parent_for_level(ids, level)
        assert np.all(ci.level_of(p) == level)
        # RangeMin + RangeMax == 2*id (S2CellIdTest.cs:150)
        assert np.all(ci.range_min(p) + ci.range_max(p) == U(2) * p)
        assert np.all(ci.contains(p, ids))
        assert np.all(ci.intersects(p, ids))


def test_children_partition(rng):
    x, y, z = random_points(rng, 500)
    parents = ci.parent_for_level(ci.from_point(x, y, z), 8)
    kids = ci.children(parents)
    assert kids.shape == (500, 4)
    assert np.all(ci.level_of(kids.ravel()) == 9)
    # children exactly tile the parent's range
    assert np.array_equal(ci.range_min(kids[:, 0]), ci.range_min(parents))
    assert np.array_equal(ci.range_max(kids[:, 3]), ci.range_max(parents))
    # leaf ids are odd; the even integer between sibling ranges is not a cell
    for k in range(3):
        assert np.all(ci.range_max(kids[:, k]) + U(2) == ci.range_min(kids[:, k + 1]))


def test_edge_neighbors_face1():
    # S2CellIdTest.cs:247-255: edge neighbors of face-1 face cell are faces 5,3,2,0
    f1 = ci.from_face_pos_level(np.array([1]), np.array([0], dtype=U), 0)
    en = ci.get_edge_neighbors(np.atleast_1d(f1))
    assert [int(v >> U(61)) for v in en[0]] == [5, 3, 2, 0]


def test_vertex_neighbors_corner():
    # corner leaf of face 0 has exactly 3 vertex neighbors at level 0
    # touching faces {0,4,5} (S2CellIdTest.cs:268-276)
    corner = ci.from_face_ij(np.array([0]), np.array([0]), np.array([0]))
    vn, valid = ci.get_vertex_neighbors(np.atleast_1d(corner), 0)
    assert int(valid.sum()) == 3
    faces = sorted(int(v >> U(61)) for v in vn[0][valid[0]])
    assert faces == [0, 4, 5]


def test_all_neighbors_ring(rng):
    x, y, z = random_points(rng, 200)
    ids = ci.parent_for_level(ci.from_point(x, y, z), 12)
    nbrs, valid = ci.get_all_neighbors(ids)
    assert nbrs.shape[1] == 8
    for row in range(len(ids)):
        u = np.unique(nbrs[row][valid[row]])
        assert 7 <= len(u) <= 8  # face-vertex adjacency may dedup one
        assert np.all(ci.level_of(u) == 12)
        assert not np.any(u == ids[row])


def test_containment_matrix_exhaustive_level3():
    # S2CellIdTest.cs:154-183 over all cells to level 3
    cells = []
    parent_of = {}

    def expand(cid, level):
        cells.append(cid)
        if level < 3:
            for ch in ci.children(np.array([cid], dtype=U))[0]:
                parent_of[int(ch)] = cid
                expand(int(ch), level + 1)

    for f in range(6):
        fid = int(ci.from_face_pos_level(np.array([f]), np.array([0], dtype=U), 0)[0])
        expand(fid, 0)

    arr = np.array(cells, dtype=U)

    def ancestors(c):
        out = {c}
        while c in parent_of:
            c = parent_of[c]
            out.add(c)
        return out

    anc = {int(c): ancestors(int(c)) for c in cells}
    # vectorized: for each a, which b it contains
    rng2 = np.random.default_rng(99)
    idx = rng2.integers(0, len(arr), size=(30_000, 2))
    a = arr[idx[:, 0]]
    b = arr[idx[:, 1]]
    got_contains = ci.contains(a, b)
    got_intersects = ci.intersects(a, b)
    for t in range(len(idx)):
        ai, bi = int(a[t]), int(b[t])
        expect = ai in anc[bi]
        assert bool(got_contains[t]) == expect
        assert bool(got_intersects[t]) == (ai in anc[bi] or bi in anc[ai])


def test_st_uv_inverses():
    # S2Test.cs:275-289
    x = np.linspace(-1, 1, 20001)
    assert np.allclose(ci.uv_to_st(ci.st_to_uv(x)), x, atol=1e-15)
    assert np.allclose(ci.st_to_uv(ci.uv_to_st(x)), x, atol=1e-15)
    for v in (-1.0, 0.0, 1.0):
        assert float(ci.st_to_uv(np.array([v]))[0]) == v
        assert float(ci.uv_to_st(np.array([v]))[0]) == v


def test_metrics_goldens():
    # S2Projections.cs:75-215 constants & GetValue law (S2.cs:814-817)
    assert metrics.MIN_AREA.deriv == 2 * math.sqrt(2) / 9
    assert metrics.MAX_AREA.deriv == 0.65894981424079037
    assert metrics.AVG_AREA.deriv == math.pi / 6
    assert metrics.AVG_AREA.get_value(0) == math.pi * 2 / 3  # pi/6 * 2^2
    for level in (0, 1, 10, 30):
        assert metrics.MAX_DIAG.get_value(level) == metrics.MAX_DIAG.deriv * 2.0 ** (1 - level)
    # level solvers: GetMinLevel/GetMaxLevel round-trip
    for m in (metrics.MIN_WIDTH, metrics.MAX_DIAG, metrics.AVG_EDGE):
        for level in range(0, 31, 3):
            v = m.get_value(level)
            assert m.get_min_level(v) == level
            assert m.get_max_level(v) == level


def test_biased_signed_ordering(rng):
    x, y, z = random_points(rng, 20_000)
    ids = ci.from_point(x, y, z)
    signed = ci.to_signed(ids)
    order_u = np.argsort(ids, kind="stable")
    order_s = np.argsort(signed, kind="stable")
    assert np.array_equal(order_u, order_s)
    assert np.array_equal(ci.to_unsigned(signed), ids)


def test_wrap_identities():
    # S2CellIdTest.cs:141-146 analog: stepping past the last cell of face 5
    # wraps (mod WrapOffset = 6 << 61) to the first cell of face 0.
    wrap_offset = 6 << 61
    for level in (0, 3, 15):
        first = ci.child_begin_for_level(
            np.array([int(ci.from_face_pos_level(np.array([0]), np.array([0], dtype=U), 0)[0])], dtype=U),
            level)
        last_f5 = ci.parent_for_level(
            np.array([0xBFFFFFFFFFFFFFFF], dtype=U), level)  # last leaf of face 5
        step = 2 * int(ci.lowest_on_bit_for_level(np.array([level]))[0])
        assert (int(last_f5[0]) + step) % wrap_offset == int(first[0])


def test_containing_cell_lca(rng):
    """LCA bit trick == reference parent-chasing loop (S2EdgeIndex.cs:270-313)."""
    from tests.conftest import random_points
    x, y, z = random_points(rng, 400)
    a = ci.from_point(x[:200], y[:200], z[:200])
    b = ci.from_point(x[200:], y[200:], z[200:])
    got = ci.containing_cell(a, b)

    def brute(u, v):
        # parent-chasing LCA that also accepts non-leaf inputs (the 4-point
        # fold below feeds intermediate LCAs back in, which can be any
        # level including the face root): align to the shallower level
        # first, then walk up together — terminates at the face root.
        if (u >> 61) != (v >> 61):
            return 0xFFFFFFFFFFFFFFFF
        lu, lv = np.array([u], dtype=U), np.array([v], dtype=U)
        lvl = min(int(ci.level_of(lu)[0]), int(ci.level_of(lv)[0]))
        lu, lv = ci.parent_for_level(lu, lvl), ci.parent_for_level(lv, lvl)
        while int(lu[0]) != int(lv[0]):
            lvl -= 1
            lu = ci.parent_for_level(lu, lvl)
            lv = ci.parent_for_level(lv, lvl)
        return int(lu[0])

    for i in range(200):
        assert int(got[i]) == brute(int(a[i]), int(b[i])), i
    # identical leaves -> the leaf itself
    same = ci.containing_cell(a, a)
    assert np.array_equal(same, a)
    # sibling leaves -> the level-29 parent
    sib = a ^ np.uint64(2)
    assert np.array_equal(ci.containing_cell(a, sib),
                          ci.parent_for_level(a, 29))
    # 4-point version: pairwise folding (LCA is associative)
    g4 = ci.containing_cell4(a[:100], b[:100], a[100:200], b[100:200])
    SENT = 0xFFFFFFFFFFFFFFFF
    for i in range(100):
        w = brute(int(a[i]), int(b[i]))
        for other in (int(a[100 + i]), int(b[100 + i])):
            if w != SENT:
                w = brute(w, other)
        assert int(g4[i]) == w, i


def _hilbert_walk(face: int, i: int, j: int) -> int:
    """Leaf id by walking the Hilbert curve one level at a time in Python
    ints, from the traversal tables alone (no lookup table)."""
    from s2spark.kernel.hilbert import IJ_TO_POS, POS_TO_ORIENTATION, SWAP_MASK
    orientation = face & SWAP_MASK
    pos = 0
    for bit in range(ci.MAX_LEVEL - 1, -1, -1):
        p = IJ_TO_POS[orientation][(((i >> bit) & 1) << 1) | ((j >> bit) & 1)]
        pos = (pos << 2) | p
        orientation ^= POS_TO_ORIENTATION[p]
    return (face << 61) | (pos << 1) | 1


def _check_against_walk(face, i, j):
    ids = ci.from_face_ij(np.asarray(face), np.asarray(i), np.asarray(j))
    want = [_hilbert_walk(int(f), int(a), int(b)) for f, a, b in zip(face, i, j)]
    assert [int(v) for v in ids] == want


def test_from_face_ij_matches_bitwise_walk_random(rng):
    n = 10_000
    _check_against_walk(rng.integers(0, 6, n), rng.integers(0, ci.MAX_SIZE, n),
                        rng.integers(0, ci.MAX_SIZE, n))


def test_from_face_ij_matches_bitwise_walk_corners_and_rounds():
    """Corners, and i/j straddling every 8-bit round boundary (the encode
    consumes bits 0-7, 8-15, 16-23 and 24-29 in separate gathers)."""
    top = ci.MAX_SIZE - 1
    values = {0, top}
    for b in (8, 16, 24):
        for v in ((1 << b) - 1, 1 << b, (1 << b) + 1, top ^ (1 << b), top >> (30 - b)):
            values.add(v)
    values = sorted(values)
    face, i, j = zip(*[(f, a, b) for f in range(6) for a in values for b in values])
    _check_against_walk(face, i, j)


# ids from eight rounds of the 4-bit LOOKUP_POS walk, which the 8-bit
# rounds must reproduce bit for bit
_EDGE_LATLNG_IDS = [
    (90.0, 0.0, 0x5000000000000001),
    (-90.0, 0.0, 0xb000000000000001),
    (90.0, 180.0, 0x5000000000000001),
    (-90.0, -180.0, 0xb000000000000001),
    (0.0, 180.0, 0x6fffffffffffffff),
    (0.0, -180.0, 0x7000000000000001),
    (-0.0, -0.0, 0x1000000000000001),
    (0.0, -0.0, 0x1000000000000001),
    (-0.0, 0.0, 0x1000000000000001),
    (45.0, 0.0, 0x12aaaaaaaaaaaaab),
    (0.0, 45.0, 0x17ffffffffffffff),
    (-45.0, 0.0, 0x1d55555555555555),
    (0.0, -135.0, 0x9d55555555555555),
    (35.264389682754654, 45.0, 0x4000000000000001),
    (-35.264389682754654, -135.0, 0xa000000000000001),
    (35.264389682754654, 135.0, 0x5fffffffffffffff),
    (float("nan"), 0.0, 0x4000000000000001),
    (0.0, float("nan"), 0x4000000000000001),
    (91.0, 0.0, 0x5000a75ff55561d5),
    (-91.0, 10.0, 0xa555ee768edb8b33),
    (135.0, 20.0, 0x561b0173767eb035),
    (-200.0, 0.0, 0x7b52cb2ad4b4aacd),
]


def test_from_latlng_deg_edge_cases_pinned():
    """Poles, the antimeridian, signed zeros, face diagonals and corners,
    NaN and |lat| > 90: alone, and inside a multi-block batch."""
    lat = np.array([c[0] for c in _EDGE_LATLNG_IDS])
    lng = np.array([c[1] for c in _EDGE_LATLNG_IDS])
    want = np.array([c[2] for c in _EDGE_LATLNG_IDS], dtype=U)
    with np.errstate(invalid="ignore"):
        assert np.array_equal(ci.from_latlng_deg(lat, lng), want)
        reps = ci.ENCODE_BLOCK // len(lat) + 2
        big = ci.from_latlng_deg(np.tile(lat, reps), np.tile(lng, reps))
    assert np.array_equal(big, np.tile(want, reps))
