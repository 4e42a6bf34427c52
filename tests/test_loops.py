"""Loop/polygon containment conformance vs S2LoopTest / S2PolygonTest fixtures."""

import math

import numpy as np
import pytest

from s2spark.kernel import cellid as ci, sphere
from s2spark.kernel.loops import Loop, Polygon
from tests.conftest import parse_vertices, random_points

# fixtures verbatim from S2LoopTest.cs:13-56
CANDY_CANE = "-20:150, -20:-70, 0:70, 10:-150, 10:70, -10:-70"
SMALL_NE_CW = "35:20, 45:20, 40:25"
ARCTIC_80 = "80:-150, 80:-30, 80:90"
ANTARCTIC_80 = "-80:120, -80:0, -80:-120"
NORTH_HEMI = "0:-180, 0:-90, 0:0, 0:90"
NORTH_HEMI3 = "0:-180, 0:-60, 0:60"
WEST_HEMI = "0:-180, -90:0, 0:0, 90:0"
NEAR_HEMI = "0:-90, -90:0, 0:90, 90:0"


def loop(s):
    return Loop(parse_vertices(s))


def pt_deg(lat, lng):
    x, y, z = ci.xyz_from_latlng_deg(np.array([float(lat)]), np.array([float(lng)]))
    return x, y, z


def contains_deg(lp, lat, lng):
    return bool(lp.contains_points(*pt_deg(lat, lng))[0])


def test_candy_cane_contains():
    # S2LoopTest point golden
    assert contains_deg(loop(CANDY_CANE), 5, 71)


def test_hemisphere_poles():
    # S2LoopTest.cs:407-424 semantics
    north = loop(NORTH_HEMI)
    assert bool(north.contains_points(np.array([0.0]), np.array([0.0]), np.array([1.0]))[0])
    assert not bool(north.contains_points(np.array([0.0]), np.array([0.0]), np.array([-1.0]))[0])
    west = loop(WEST_HEMI)
    assert bool(west.contains_points(np.array([0.0]), np.array([-1.0]), np.array([0.0]))[0])
    assert not bool(west.contains_points(np.array([0.0]), np.array([1.0]), np.array([0.0]))[0])


def test_loop_bounds():
    # S2LoopTest.cs:355-374
    arctic = loop(ARCTIC_80)
    assert arctic.bound.lng.is_full
    assert math.degrees(arctic.bound.lat.lo) == pytest.approx(80, abs=1e-9)
    assert math.degrees(arctic.bound.lat.hi) == pytest.approx(90, abs=1e-9)
    ant = loop(ANTARCTIC_80)
    assert ant.bound.lng.is_full
    assert math.degrees(ant.bound.lat.lo) == pytest.approx(-90, abs=1e-9)
    assert math.degrees(ant.bound.lat.hi) == pytest.approx(-80, abs=1e-9)
    candy = loop(CANDY_CANE)
    assert candy.bound.lng.is_full
    assert math.degrees(candy.bound.lat.lo) < -20
    assert math.degrees(candy.bound.lat.hi) > 10


def test_areas():
    north = loop(NORTH_HEMI)
    assert north.get_area() == pytest.approx(2 * math.pi, abs=1e-9)
    # clockwise small loop = complement region: area ~ 4pi - tiny
    small_cw = loop(SMALL_NE_CW)
    assert small_cw.get_area() > 2 * math.pi
    assert not small_cw.is_normalized
    inv = small_cw.inverted()
    assert inv.is_normalized
    assert inv.get_area() + small_cw.get_area() == pytest.approx(4 * math.pi, rel=1e-6)


def test_triangle_area_goldens():
    # mirrors S2Test area goldens (S2CellUnionTest.cs:60-127)
    one = np.float64(1.0)
    zero = np.float64(0.0)
    a = float(sphere.triangle_area(one, zero, zero, zero, one, zero, zero, zero, one))
    assert a == pytest.approx(math.pi / 2, abs=1e-14)
    v = np.array([1.0, 1.0, 1e-10])
    v /= np.linalg.norm(v)
    skinny = float(sphere.triangle_area(one, zero, zero, v[0], v[1], v[2], zero, one, zero))
    assert skinny == pytest.approx(5.8578643762690495e-11, rel=1e-9)


def test_robust_ccw_near_degenerate():
    # S2CellUnionTest.cs:130-136 — nearly colinear triple must still resolve
    a = (0.72571927877036835, 0.46058825605889098, 0.51106749730504852)
    b = (0.7257192746638208, 0.46058826573818168, 0.51106749441312738)
    c = (0.72571927671709457, 0.46058826089853633, 0.51106749585908795)
    r = sphere.robust_ccw(*(np.float64(v) for v in a + b + c))
    assert int(r[0]) != 0


def test_loop_distance_goldens():
    # S2LoopTest.cs:461-498 — each loop is exactly 1 degree from (0:0)
    for s in ("0:1, 1:1, 1:2, 0:2", "-1:1, 1:1, 1:2, -1:2", "1:0, 2:1, 3:0, 2:-1"):
        lp = loop(s)
        assert math.degrees(lp.get_distance(1.0, 0.0, 0.0)) == pytest.approx(1.0, abs=1e-9)


def test_polygon_parity():
    # polygon with a hole: shell NEAR3, hole NEAR0 (point in hole is outside);
    # makePolygon normalizes each loop (GeometryTestCase.cs:211-222)
    shell = Loop(parse_vertices("6:-3, -3:6, -2:-2"), depth=0).normalized()
    hole = Loop(parse_vertices("-1:0, 0:1, 1:0, 0:-1"), depth=1).normalized()
    poly = Polygon([shell, hole])
    assert bool(poly.contains_points(*pt_deg(1.0, 1.0))[0])   # in shell, not hole
    assert not bool(poly.contains_points(*pt_deg(0.0, 0.0))[0])  # inside hole
    assert not bool(poly.contains_points(*pt_deg(45.0, 45.0))[0])  # outside


def test_polygon_area_with_hole():
    shell = Loop(parse_vertices("6:-3, -3:6, -2:-2"), depth=0).normalized()
    hole = Loop(parse_vertices("-1:0, 0:1, 1:0, 0:-1"), depth=1).normalized()
    poly = Polygon([shell, hole])
    a_shell = shell.get_area()
    a_hole = hole.get_area()
    area, _ = poly.get_area_centroid()
    assert area == pytest.approx(a_shell - a_hole, rel=1e-12)


def test_contains_consistency_random(rng):
    # every point on the sphere is inside a loop XOR inside its inverse
    lp = loop(CANDY_CANE)
    inv = lp.inverted()
    x, y, z = random_points(rng, 5000)
    a = lp.contains_points(x, y, z)
    b = inv.contains_points(x, y, z)
    assert np.all(a ^ b)


def test_origin_invariance_vs_vertex_rotation():
    # containment semantics don't depend on which vertex starts the chain
    verts = parse_vertices(CANDY_CANE)
    rngl = np.random.default_rng(4)
    z = rngl.uniform(-1, 1, 2000)
    th = rngl.uniform(-math.pi, math.pi, 2000)
    r = np.sqrt(1 - z * z)
    x, y = r * np.cos(th), r * np.sin(th)
    base = Loop(verts).contains_points(x, y, z)
    for shift in (1, 3):
        rot = Loop(np.roll(verts, shift, axis=0))
        assert np.array_equal(rot.contains_points(x, y, z), base)


def test_polygon_loop_hierarchy_accessors():
    """GetParent / GetLastDescendant over a preorder-nested polygon
    (S2Polygon.cs:410-443): two shell trees, one three-deep."""
    from s2spark.kernel.loops import Polygon
    a = Loop(parse_vertices("10:-10, -10:-10, -10:10, 10:10")).normalized()
    b = Loop(parse_vertices("6:-6, -6:-6, -6:6, 6:6")).normalized()
    c = Loop(parse_vertices("2:-2, -2:-2, -2:2, 2:2")).normalized()
    d = Loop(parse_vertices("5:40, -5:40, -5:50, 5:50")).normalized()
    # shuffled input order; from_nested must recover preorder + depths
    poly = Polygon.from_nested([d, c, a, b])
    depths = [lp.depth for lp in poly.loops]
    # preorder: each tree contiguous, depth increments within a chain
    assert sorted(depths) == [0, 0, 1, 2]
    # locate the deep chain root (the loop with descendants)
    roots = [k for k in range(4) if poly.loops[k].depth == 0]
    chain_root = next(k for k in roots if poly.get_last_descendant(k) > k)
    lone_root = next(k for k in roots if poly.get_last_descendant(k) == k)
    assert poly.get_parent(chain_root) == -1
    assert poly.get_parent(lone_root) == -1
    # chain: root -> hole -> island, contiguous preorder indices
    hole = chain_root + 1
    island = chain_root + 2
    assert poly.loops[hole].depth == 1 and poly.loops[island].depth == 2
    assert poly.get_parent(hole) == chain_root
    assert poly.get_parent(island) == hole
    assert poly.get_last_descendant(chain_root) == island
    assert poly.get_last_descendant(hole) == island
    assert poly.get_last_descendant(island) == island
    assert poly.get_last_descendant(-1) == 3
    # reference-documented child iteration contract: immediate children
    # of k are loops (k+1)..last_descendant(k) with depth == depth(k)+1
    kids = [j for j in range(chain_root + 1,
                             poly.get_last_descendant(chain_root) + 1)
            if poly.loops[j].depth == poly.loops[chain_root].depth + 1]
    assert kids == [hole]
    # parent pointers agree with geometric containment
    for k in range(4):
        p = poly.get_parent(k)
        if p >= 0:
            assert poly.loops[p].contains_nested(poly.loops[k])


def _ring(lat0, lng0, radius_deg, n, rng=None):
    """n vertices CCW around (lat0, lng0); radii jittered by +-30% if rng."""
    t = np.linspace(0.0, 2 * math.pi, n, endpoint=False)
    r = radius_deg * (1 + (rng.uniform(-0.3, 0.3, n) if rng is not None else 0.0))
    x, y, z = ci.xyz_from_latlng_deg(lat0 + r * np.sin(t), lng0 + r * np.cos(t))
    return np.stack([x, y, z], axis=1)


def _brute_contains(lp, px, py, pz):
    """S2Loop.Contains by definition (S2Loop.cs:795-834): the exact bound
    test, then the parity of EdgeOrVertexCrossing from S2.Origin to p over
    every edge, all pairs in one robust_crossing_batch call."""
    from s2spark.kernel.loops import ORIGIN, _vertex_crossing, robust_crossing_batch
    d = lp.vertices
    c = np.roll(d, 1, axis=0)
    k, m = len(px), len(d)
    P = np.stack([px, py, pz], axis=1).repeat(m, axis=0)
    C, D = np.tile(c, (k, 1)), np.tile(d, (k, 1))
    o = np.broadcast_to(np.array(ORIGIN), P.shape)
    rc = robust_crossing_batch(o[:, 0], o[:, 1], o[:, 2], P[:, 0], P[:, 1], P[:, 2],
                               C[:, 0], C[:, 1], C[:, 2], D[:, 0], D[:, 1], D[:, 2])
    cross = rc > 0
    for t in np.nonzero(rc == 0)[0]:
        cross[t] = _vertex_crossing(ORIGIN, tuple(map(float, P[t])),
                                    tuple(map(float, C[t])), tuple(map(float, D[t])))
    parity = np.logical_xor.reduce(cross.reshape(k, m), axis=1) ^ lp.origin_inside
    return parity & lp.bound._contains_exact(px, py, pz)


@pytest.mark.parametrize("n_verts", [4, 512])
def test_refine_paths_agree_with_brute_force(n_verts):
    """One-loop and multi-loop polygon paths and a brute-force test agree
    on vertices, edge midpoints (the degenerate path) and random points in
    the loop's bound, with one parity block of points inside the bound and
    one point either side of it."""
    from s2spark.kernel.loops import parity_block
    rng = np.random.default_rng(n_verts)
    shell = Loop(_ring(10.0, 20.0, 1.0, n_verts, rng if n_verts > 4 else None))
    far = Loop(_ring(-40.0, -120.0, 1.0, 6))
    one, two = Polygon([shell]), Polygon([shell, far])
    v = shell.vertices
    mid = v + np.roll(v, -1, axis=0)
    mid /= np.linalg.norm(mid, axis=1, keepdims=True)
    block = parity_block(n_verts)
    q = min(n_verts, block // 4)
    special = np.concatenate([v[:q], mid[:q]])
    special = special[shell.bound._contains_exact(*special.T)]
    b = shell.bound
    for count in (block - 1, block, block + 1):
        n = count - len(special)
        lat = rng.uniform(b.lat.lo, b.lat.hi, n)
        lng = rng.uniform(b.lng.lo, b.lng.hi, n)
        x, y, z = ci.xyz_from_latlng_deg(np.degrees(lat), np.degrees(lng))
        px = np.concatenate([special[:, 0], x])
        py = np.concatenate([special[:, 1], y])
        pz = np.concatenate([special[:, 2], z])
        assert b.contains_points(px, py, pz).sum() == count
        want = _brute_contains(shell, px, py, pz)
        assert np.array_equal(one.contains_points(px, py, pz), want)
        assert np.array_equal(two.contains_points(px, py, pz), want)
        assert np.array_equal(shell.contains_points(px, py, pz), want)
        assert 0 < want.sum() < count
