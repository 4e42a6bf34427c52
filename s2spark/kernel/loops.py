"""S2 loops & polygons: vectorized point-in-polygon via crossing parity.

A loop is a closed CCW-interior-left vertex chain; a polygon is a set of
nested loops where a point is inside iff it is inside an odd number of
loops (/root/reference/S2Geometry/S2Polygon.cs:10-16).

The hot kernel is :meth:`Loop.contains_points`: instead of the reference's
stateful per-edge EdgeCrosser (S2EdgeUtil.cs:740-868) we batch the parity
computation across (points x loop-edges) with one matrix of orientation
signs, a dense test of the edges straddling each point's great circle
(both on bounded blocks of points), and a scalar fallback for
shared-vertex degeneracies — semantics identical to
S2Loop.Contains (S2Loop.cs:795-834) with origin parity from the fixed
point S2.Origin = (0,1,0) (S2.cs:97).
"""

from __future__ import annotations

import math

import numpy as np

from . import sphere
from .intervals import PI, LatLngRect, R1Interval, RectBounder, S1Interval
from .cell import Cell

ORIGIN = (0.0, 1.0, 0.0)  # S2.cs:97

# Matrix elements (points x loop vertices) per parity block: each
# (points, vertices) temporary stays at or under 2 MB.
PARITY_BLOCK_ELEMENTS = 1 << 18


def parity_block(num_vertices: int) -> int:
    """Points per parity block for a loop of num_vertices."""
    return max(256, PARITY_BLOCK_ELEMENTS // max(num_vertices, 1))


# displacement constant for area fan origin (S2Loop.cs:506-513)
_E = math.e


def _vertex_crossing(a, b, c, d) -> bool:
    """Parity rule at shared vertices (S2EdgeUtil.cs:150-181). a..d are 3-tuples."""
    if a == b or c == d:
        return False

    def occw(x, y, z, o):
        return bool(sphere.ordered_ccw(
            np.float64(x[0]), np.float64(x[1]), np.float64(x[2]),
            np.float64(y[0]), np.float64(y[1]), np.float64(y[2]),
            np.float64(z[0]), np.float64(z[1]), np.float64(z[2]),
            np.float64(o[0]), np.float64(o[1]), np.float64(o[2]))[0])

    def ortho(p):
        ox, oy, oz = sphere.ortho(np.float64(p[0]), np.float64(p[1]), np.float64(p[2]))
        return (float(ox[0]), float(oy[0]), float(oz[0]))

    if a == d:
        return occw(ortho(a), c, b, a)
    if b == c:
        return occw(ortho(b), d, a, b)
    if a == c:
        return occw(ortho(a), d, b, a)
    if b == d:
        return occw(ortho(b), c, a, b)
    return False


def robust_crossing_batch(ax, ay, az, bx, by, bz, cx, cy, cz, dx, dy, dz):
    """Vectorized RobustCrossing over parallel edge arrays
    (S2EdgeUtil.cs:85-123). Returns int8 {-1, 0, +1}."""
    abx, aby, abz = sphere.cross(ax, ay, az, bx, by, bz)
    acb = -sphere.robust_ccw(ax, ay, az, bx, by, bz, cx, cy, cz, abx, aby, abz)
    bda = sphere.robust_ccw(ax, ay, az, bx, by, bz, dx, dy, dz, abx, aby, abz)
    out = np.full(np.broadcast(acb, bda).shape, -1, dtype=np.int8)
    degenerate = (bda & acb) == 0
    maybe = (bda == acb) & ~degenerate
    if np.any(maybe):
        cdx, cdy, cdz = sphere.cross(cx, cy, cz, dx, dy, dz)
        cbd = -sphere.robust_ccw(cx, cy, cz, dx, dy, dz, bx, by, bz, cdx, cdy, cdz)
        dac = sphere.robust_ccw(cx, cy, cz, dx, dy, dz, ax, ay, az, cdx, cdy, cdz)
        out[maybe & (cbd == acb) & (dac == acb)] = 1
    out[degenerate] = 0
    return out


def _occw(a, b, c, o) -> bool:
    return bool(sphere.ordered_ccw(
        np.float64(a[0]), np.float64(a[1]), np.float64(a[2]),
        np.float64(b[0]), np.float64(b[1]), np.float64(b[2]),
        np.float64(c[0]), np.float64(c[1]), np.float64(c[2]),
        np.float64(o[0]), np.float64(o[1]), np.float64(o[2]))[0])


def _wedge_contains(a0, ab1, a2, b0, b2) -> int:
    """+1 if wedge A contains wedge B (S2EdgeUtil.cs:610-625)."""
    return 1 if (_occw(a2, b2, b0, ab1) and _occw(b0, a0, a2, ab1)) else 0


def _wedge_intersects(a0, ab1, a2, b0, b2) -> int:
    """-1 if the wedges intersect (S2EdgeUtil.cs:588-608)."""
    return 0 if (_occw(a0, b2, b0, ab1) and _occw(b0, a2, a0, ab1)) else -1


def _wedge_contains_or_crosses(a0, ab1, a2, b0, b2) -> int:
    """+1 A contains B, 0 disjoint-or-B-contains-A, -1 crossing
    (S2EdgeUtil.cs:506-556)."""
    if _occw(a0, a2, b2, ab1):
        if _occw(b2, b0, a0, ab1):
            return 1
        return 0 if a2 == b2 else -1
    return 0 if _occw(a0, b0, a2, ab1) else -1


class Loop:
    """Single loop with precomputed bound + origin-inside bit."""

    def __init__(self, vertices: np.ndarray, depth: int = 0):
        v = np.asarray(vertices, dtype=np.float64)
        if v.ndim != 2 or v.shape[1] != 3 or v.shape[0] < 3:
            raise ValueError("vertices must be (n>=3, 3)")
        self.vertices = v
        self.depth = depth
        self.bound = LatLngRect.full()
        self.origin_inside = False
        self._init_origin()
        self._init_bound()

    @property
    def num_vertices(self) -> int:
        return len(self.vertices)

    def vertex(self, i: int) -> tuple[float, float, float]:
        v = self.vertices[i % len(self.vertices)]
        return (float(v[0]), float(v[1]), float(v[2]))

    # -- construction internals ----------------------------------------------

    def _init_origin(self) -> None:
        """Determine whether S2.Origin is inside (S2Loop.cs:907-932)."""
        v1 = self.vertices[1]
        ox, oy, oz = sphere.ortho(v1[0], v1[1], v1[2])
        v1_inside = bool(sphere.ordered_ccw(
            ox, oy, oz,
            np.float64(self.vertices[0][0]), np.float64(self.vertices[0][1]), np.float64(self.vertices[0][2]),
            np.float64(self.vertices[2][0]), np.float64(self.vertices[2][1]), np.float64(self.vertices[2][2]),
            np.float64(v1[0]), np.float64(v1[1]), np.float64(v1[2]))[0])
        self.origin_inside = False
        contains_v1 = bool(self.contains_points(
            np.array([v1[0]]), np.array([v1[1]]), np.array([v1[2]]))[0])
        if v1_inside != contains_v1:
            self.origin_inside = True

    def _init_bound(self) -> None:
        """Wrap-safe lat/lng bound incl. pole handling (S2Loop.cs:934-964)."""
        bounder = RectBounder()
        n = self.num_vertices
        for i in range(n + 1):
            v = self.vertices[i % n]
            bounder.add_point(float(v[0]), float(v[1]), float(v[2]))
        b = bounder.bound
        self.bound = LatLngRect.full()
        if bool(self.contains_points(np.array([0.0]), np.array([0.0]), np.array([1.0]))[0]):
            b = LatLngRect(R1Interval(b.lat.lo, PI / 2), S1Interval.full())
        if b.lng.is_full and bool(
                self.contains_points(np.array([0.0]), np.array([0.0]), np.array([-1.0]))[0]):
            b = LatLngRect(R1Interval(-PI / 2, b.lat.hi), b.lng)
        self.bound = b

    # -- point containment (THE hot kernel) -----------------------------------

    def contains_points(self, px, py, pz) -> np.ndarray:
        """Vectorized S2Loop.Contains over point arrays (S2Loop.cs:795-834)."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        pz = np.asarray(pz, dtype=np.float64)
        result = np.zeros(px.shape, dtype=bool)
        in_bound = self.bound.contains_points(px, py, pz)
        if not np.any(in_bound):
            return result
        qx, qy, qz = px[in_bound], py[in_bound], pz[in_bound]
        # The parity kernel materializes ~10 (points, vertices) temporaries,
        # so it runs on blocks of at most PARITY_BLOCK_ELEMENTS matrix
        # elements: the working set stays in cache and peak memory stays
        # flat however many points arrive (the kernel is pure per-point).
        block = parity_block(len(self.vertices))
        inside = np.empty(len(qx), dtype=bool)
        for s in range(0, len(qx), block):
            inside[s:s + block] = self._parity_inside(
                qx[s:s + block], qy[s:s + block], qz[s:s + block])
        result[in_bound] = inside
        return result

    def _parity_inside(self, px, py, pz) -> np.ndarray:
        verts = self.vertices  # (m,3)
        m = len(verts)
        k = len(px)
        unc = sphere.CCW_UNCERTAINTY
        # w[i, j] = RobustCcw(Origin, p_i, v_j) with aCrossB = Origin x p_i
        # Origin x p = (oy*pz - oz*py, oz*px - ox*pz, ox*py - oy*px) with o=(0,1,0)
        oxp = np.empty((k, 3))
        oxp[:, 0] = pz
        oxp[:, 1] = 0.0
        oxp[:, 2] = -px
        det = oxp @ verts.T  # (k, m)
        w = (det > unc).view(np.int8) - (det < -unc).view(np.int8)
        uncertain = np.abs(det) <= unc
        if np.any(uncertain):
            rows, cols = np.nonzero(uncertain)
            for r, c in zip(rows, cols):
                w[r, c] = sphere._expensive_ccw_scalar(
                    ORIGIN, (px[r], py[r], pz[r]),
                    (verts[c, 0], verts[c, 1], verts[c, 2]))

        # edge j: c = v_{j-1}, d = v_j (chain start v[m-1]); acb = -w_{j-1},
        # bda = w_j.  Same side (product 1): no crossing; a zero: the
        # vertex-crossing rule; opposite sides (product -1): full test.
        side = w * np.roll(w, 1, axis=1)
        degenerate = side == 0
        slow = side < 0

        crossings = np.zeros((k, m), dtype=bool)
        if np.any(slow):
            # precompute per-edge c x d and dac = RobustCcw(c, d, Origin)
            c_verts = np.roll(verts, 1, axis=0)
            cd = np.cross(c_verts, verts)  # (m,3)
            dac_det = cd[:, 1]  # dot(cd, Origin)
            dac = (dac_det > unc).view(np.int8) - (dac_det < -unc).view(np.int8)
            for j in np.nonzero(np.abs(dac_det) <= unc)[0]:
                dac[j] = sphere._expensive_ccw_scalar(
                    tuple(c_verts[j]), tuple(verts[j]), ORIGIN)
            # cbd = -RobustCcw(c, d, p) with cCrossD precomputed, evaluated
            # densely over the block (cheaper than gathering the slow pairs)
            cbd_det = -(cd[:, 0] * px[:, None] + cd[:, 1] * py[:, None]
                        + cd[:, 2] * pz[:, None])
            cbd = (cbd_det > unc).view(np.int8) - (cbd_det < -unc).view(np.int8)
            for r, j in zip(*np.nonzero(slow & (cbd == 0))):
                if abs(cbd_det[r, j]) <= unc:
                    cbd[r, j] = -sphere._expensive_ccw_scalar(
                        tuple(c_verts[j]), tuple(verts[j]), (px[r], py[r], pz[r]))
            # on a slow pair acb = -w_{j-1} = w_j
            crossings = slow & (cbd == w) & (dac == w)
        if np.any(degenerate):
            rows, cols = np.nonzero(degenerate)
            for r, c in zip(rows, cols):
                p = (float(px[r]), float(py[r]), float(pz[r]))
                cv = tuple(map(float, verts[(c - 1) % m]))
                dv = tuple(map(float, verts[c]))
                # RobustCrossing == 0 only when two vertices coincide; otherwise
                # re-evaluate the full predicate for this pair.
                rc = robust_crossing_batch(
                    np.float64(ORIGIN[0]), np.float64(ORIGIN[1]), np.float64(ORIGIN[2]),
                    np.float64(p[0]), np.float64(p[1]), np.float64(p[2]),
                    np.float64(cv[0]), np.float64(cv[1]), np.float64(cv[2]),
                    np.float64(dv[0]), np.float64(dv[1]), np.float64(dv[2]))[0]
                if rc > 0:
                    crossings[r, c] = True
                elif rc == 0:
                    crossings[r, c] = _vertex_crossing(ORIGIN, p, cv, dv)
        parity = np.logical_xor.reduce(crossings, axis=1)
        return parity ^ self.origin_inside

    # -- measures --------------------------------------------------------------

    def get_area_centroid(self) -> tuple[float, tuple[float, float, float]]:
        """(area, centroid*area) via fan from displaced origin (S2Loop.cs:483-550)."""
        if self.num_vertices < 3:
            return 0.0, (0.0, 0.0, 0.0)
        origin = np.array(self.vertex(0))
        a = np.abs(origin)
        if a[0] > a[1]:
            k = 0 if a[0] > a[2] else 2
        else:
            k = 1 if a[1] > a[2] else 2
        axis = (k + 1) % 3
        origin = origin.copy()
        origin[axis] += _E * 1e-10
        origin /= np.linalg.norm(origin)

        n = self.num_vertices
        v0 = self.vertices[np.arange(n)]
        v1 = self.vertices[(np.arange(n) + 1) % n]
        ox = np.full(n, origin[0]); oy = np.full(n, origin[1]); oz = np.full(n, origin[2])
        areas = sphere.signed_area(ox, oy, oz, v0[:, 0], v0[:, 1], v0[:, 2],
                                   v1[:, 0], v1[:, 1], v1[:, 2])
        area_sum = float(np.sum(areas))
        mx, my, mz = sphere.true_centroid(ox, oy, oz, v0[:, 0], v0[:, 1], v0[:, 2],
                                          v1[:, 0], v1[:, 1], v1[:, 2])
        centroid = (float(np.sum(mx)), float(np.sum(my)), float(np.sum(mz)))
        if area_sum < 0:
            area_sum += 4 * PI
        return area_sum, centroid

    def get_area(self) -> float:
        return self.get_area_centroid()[0]

    @property
    def is_normalized(self) -> bool:
        """Area at most 2*pi (with slack for errors, S2Loop.cs:201-212)."""
        return self.get_area() <= 2 * PI + 1e-6

    def inverted(self) -> "Loop":
        return Loop(self.vertices[::-1].copy(), depth=self.depth)

    def normalized(self) -> "Loop":
        """Loop with area <= 2*pi, inverting if necessary (S2Loop.cs:442-448;
        the reference's makePolygon normalizes every loop on load,
        GeometryTestCase.cs:211-222)."""
        return self if self.is_normalized else self.inverted()

    def get_distance(self, px: float, py: float, pz: float) -> float:
        """Min angle to any loop edge (S2Loop.cs:842-855); 0 handled by caller."""
        n = self.num_vertices
        v0 = self.vertices
        v1 = self.vertices[(np.arange(n) + 1) % n]
        d = sphere.point_edge_distance(
            np.float64(px), np.float64(py), np.float64(pz),
            v0[:, 0], v0[:, 1], v0[:, 2], v1[:, 0], v1[:, 1], v1[:, 2])
        return float(np.min(d))

    # -- cell predicates (coverer contract, S2Loop.cs:350-383) ------------------

    def _edges(self) -> tuple[np.ndarray, np.ndarray]:
        n = self.num_vertices
        return self.vertices, self.vertices[(np.arange(n) + 1) % n]

    def contains_cell(self, cell: Cell) -> bool:
        """True only if the loop definitely contains the cell (conservative
        False possible; IS2Region contract of S2Loop.Contains(S2Cell),
        S2Loop.cs:350-364).  Delegates to the batched predicate so scalar
        and batched paths can never disagree."""
        return bool(self.relate_cells(np.array([cell.id], dtype=np.uint64))[1][0])

    def may_intersect_cell(self, cell: Cell) -> bool:
        """False only if the loop definitely does not intersect the cell
        (S2Loop.cs:371-383)."""
        return bool(self.relate_cells(np.array([cell.id], dtype=np.uint64))[0][0])

    # -- loop-loop relations (S2Loop.cs:577-758) --------------------------------

    def find_vertex(self, p: tuple[float, float, float]) -> int:
        """Index (1..n) of a vertex equal to p, or -1 (S2Loop.cs:971-994)."""
        for i in range(1, self.num_vertices + 1):
            if self.vertex(i) == p:
                return i
        return -1

    def _check_edge_crossings(self, b: "Loop", wedge_test) -> int:
        """-1 on any proper edge crossing; else min wedge relation over
        shared vertices; +1 if neither (S2Loop.cs:1003-1045).  Brute force
        over edge pairs, crossing tests batched."""
        m, k = self.num_vertices, b.num_vertices
        a0, a1 = self._edges()
        b0, b1 = b._edges()
        A0 = np.repeat(a0, k, axis=0)
        A1 = np.repeat(a1, k, axis=0)
        B0 = np.tile(b0, (m, 1))
        B1 = np.tile(b1, (m, 1))
        rc = robust_crossing_batch(
            B0[:, 0], B0[:, 1], B0[:, 2], B1[:, 0], B1[:, 1], B1[:, 2],
            A0[:, 0], A0[:, 1], A0[:, 2], A1[:, 0], A1[:, 1], A1[:, 2]).reshape(m, k)
        if np.any(rc > 0):
            return -1
        result = 1
        for i in range(m):
            for j in range(k):
                if self.vertex(i + 1) == b.vertex(j + 1):
                    result = min(result, wedge_test(
                        self.vertex(i), self.vertex(i + 1), self.vertex(i + 2),
                        b.vertex(j), b.vertex(j + 2)))
                    if result < 0:
                        return result
        return result

    def contains_loop(self, b: "Loop") -> bool:
        """S2Loop.Contains(S2Loop) (S2Loop.cs:577-627)."""
        if not self.bound.contains_rect(b.bound):
            return False
        if not self._contains_vertex(b.vertex(0)) and self.find_vertex(b.vertex(0)) < 0:
            return False
        if self._check_edge_crossings(b, _wedge_contains) <= 0:
            return False
        if self.bound.union(b.bound).is_full:
            if b._contains_vertex(self.vertex(0)) and b.find_vertex(self.vertex(0)) < 0:
                return False
        return True

    def intersects_loop(self, b: "Loop") -> bool:
        """S2Loop.Intersects(S2Loop) (S2Loop.cs:633-684)."""
        if not self.bound.intersects_rect(b.bound):
            return False
        if b.bound.lng.length > self.bound.lng.length:
            return b.intersects_loop(self)
        if self._contains_vertex(b.vertex(0)) and self.find_vertex(b.vertex(0)) < 0:
            return True
        if self._check_edge_crossings(b, _wedge_intersects) < 0:
            return True
        if b.bound.contains_rect(self.bound):
            if b._contains_vertex(self.vertex(0)) and b.find_vertex(self.vertex(0)) < 0:
                return True
        return False

    def contains_nested(self, b: "Loop") -> bool:
        """S2Loop.ContainsNested (S2Loop.cs:690-708)."""
        if not self.bound.contains_rect(b.bound):
            return False
        m = self.find_vertex(b.vertex(1))
        if m < 0:
            return self._contains_vertex(b.vertex(1))
        return _wedge_contains(self.vertex(m - 1), self.vertex(m),
                               self.vertex(m + 1), b.vertex(0), b.vertex(2)) > 0

    def contains_or_crosses(self, b: "Loop") -> int:
        """+1 contains, -1 boundaries cross, 0 otherwise (S2Loop.cs:716-758)."""
        if not self.bound.intersects_rect(b.bound):
            return 0
        result = self._check_edge_crossings(b, _wedge_contains_or_crosses)
        if result <= 0:
            return result
        if not self.bound.contains_rect(b.bound):
            return 0
        if not self._contains_vertex(b.vertex(0)) and self.find_vertex(b.vertex(0)) < 0:
            return 0
        return 1

    def _contains_vertex(self, p: tuple[float, float, float]) -> bool:
        return bool(self.contains_points(np.array([p[0]]), np.array([p[1]]),
                                         np.array([p[2]]))[0])

    def relate_cells(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batched (may_intersect, contains) for an array of cell ids — one
        vectorized pass instead of per-cell Cell construction (the coverer's
        hot path; same conservative semantics as the scalar predicates)."""
        return _relate_cells([self], self.contains_points, ids)

    def cap_bound(self):
        from .cap import Cap
        full = LatLngRect.full()
        b = self.bound
        # conservative: cap around rect center covering rect corners
        if b.is_empty:
            return Cap.empty()
        if b.is_full or b == full:
            return Cap.full()
        lat_c = b.lat.center
        lng_c = b.lng.center
        ax = (math.cos(lat_c) * math.cos(lng_c),
              math.cos(lat_c) * math.sin(lng_c), math.sin(lat_c))
        cap = Cap.from_axis_height(ax, 0.0)
        for lat in (b.lat.lo, b.lat.hi):
            for lng in (b.lng.lo, b.lng.hi):
                x = math.cos(lat) * math.cos(lng)
                y = math.cos(lat) * math.sin(lng)
                z = math.sin(lat)
                cap = cap.add_point(x, y, z)
        # widen to be safe for wrapped longitude intervals
        if b.lng.is_inverted or b.lng.length > PI:
            return Cap.full()
        return cap

    def rect_bound(self) -> LatLngRect:
        return self.bound


class Polygon:
    """Nested loops; point inside iff inside an odd number of loops
    (S2Polygon.cs:943-963)."""

    def __init__(self, loops: list[Loop]):
        self.loops = loops
        b = LatLngRect.empty()
        for lp in loops:
            if lp.depth == 0 or lp.depth % 2 == 0:
                b = b.union(lp.bound)
        # reference combines bounds of shell loops (S2Polygon.cs:272-324)
        if not loops:
            b = LatLngRect.empty()
        self.bound = b

    @classmethod
    def from_nested(cls, loops: list["Loop"]) -> "Polygon":
        """Build a polygon from non-crossing loops, assigning nesting
        depths and ordering loops by PREORDER traversal of the nesting
        hierarchy (the invariant get_parent / get_last_descendant rely
        on; InitNested, S2Polygon.cs:214-268).

        Each loop's parent is its smallest container — the container
        that is itself contained by every other container of the loop.
        """
        n = len(loops)
        holds = [[i != j and loops[i].contains_nested(loops[j])
                  for j in range(n)] for i in range(n)]
        n_containers = [sum(holds[j][i] for j in range(n)) for i in range(n)]
        parent = [-1] * n
        for i in range(n):
            containers = [j for j in range(n) if holds[j][i]]
            if containers:
                # smallest container = the most-deeply-contained one
                parent[i] = max(containers, key=lambda j: n_containers[j])
        children: dict[int, list[int]] = {}
        roots = []
        for i in range(n):
            if parent[i] < 0:
                roots.append(i)
            else:
                children.setdefault(parent[i], []).append(i)
        ordered: list[Loop] = []

        def visit(i: int, depth: int) -> None:
            ordered.append(Loop(loops[i].vertices.copy(), depth=depth))
            for c in children.get(i, ()):
                visit(c, depth + 1)

        for r in roots:
            visit(r, 0)
        return cls(ordered)

    def get_parent(self, k: int) -> int:
        """Index of loop k's parent in the nesting hierarchy, or -1 for a
        shell at depth 0 (S2Polygon.cs:410-421).  With loops in preorder,
        the parent is the nearest preceding loop of smaller depth."""
        depth = self.loops[k].depth
        if depth == 0:
            return -1
        for j in range(k - 1, -1, -1):
            if self.loops[j].depth < depth:
                return j
        return -1

    def get_last_descendant(self, k: int) -> int:
        """Index of the last loop contained within loop k (num_loops-1
        for k < 0; S2Polygon.cs:432-443).  Immediate children of k are
        the loops in (k, last_descendant(k)] whose depth == depth(k)+1."""
        if k < 0:
            return len(self.loops) - 1
        depth = self.loops[k].depth
        j = k + 1
        while j < len(self.loops) and self.loops[j].depth > depth:
            j += 1
        return j - 1

    def contains_points(self, px, py, pz) -> np.ndarray:
        if len(self.loops) == 1 and self.bound == self.loops[0].bound:
            # one shell: its bound is the polygon's, so test it once
            return self.loops[0].contains_points(px, py, pz)
        px = np.asarray(px, dtype=np.float64)
        result = np.zeros(px.shape, dtype=bool)
        in_bound = self.bound.contains_points(px, py, pz)
        if not np.any(in_bound):
            return result
        qx = px[in_bound]
        qy = np.asarray(py)[in_bound]
        qz = np.asarray(pz)[in_bound]
        inside = np.zeros(qx.shape, dtype=bool)
        for lp in self.loops:
            inside ^= lp.contains_points(qx, qy, qz)
        result[in_bound] = inside
        return result

    def get_area_centroid(self) -> tuple[float, tuple[float, float, float]]:
        """Sum over loops of sign(depth) * loop area (S2Polygon.cs:446-468)."""
        area = 0.0
        cx = cy = cz = 0.0
        for lp in self.loops:
            sign = -1.0 if (lp.depth & 1) else 1.0
            a, (x, y, z) = lp.get_area_centroid()
            area += sign * a
            cx += sign * x; cy += sign * y; cz += sign * z
        return area, (cx, cy, cz)

    def get_distance(self, px: float, py: float, pz: float) -> float:
        """0 if contained, else min over loops (S2Polygon.cs:487-503)."""
        if bool(self.contains_points(np.array([px]), np.array([py]), np.array([pz]))[0]):
            return 0.0
        return min(lp.get_distance(px, py, pz) for lp in self.loops)

    def contains_cell(self, cell: Cell) -> bool:
        """Conservative polygon-cell containment (S2Polygon.cs:224-248);
        delegates to the batched predicate."""
        return bool(self.relate_cells(np.array([cell.id], dtype=np.uint64))[1][0])

    def may_intersect_cell(self, cell: Cell) -> bool:
        return bool(self.relate_cells(np.array([cell.id], dtype=np.uint64))[0][0])

    # -- polygon-polygon relations (S2Polygon.cs:511-601, 1044-1134) ------------

    @property
    def has_holes(self) -> bool:
        return any(lp.depth & 1 for lp in self.loops)

    def _any_loop_contains(self, b: Loop) -> bool:
        return any(lp.contains_loop(b) for lp in self.loops)

    def contains_or_crosses_loop(self, b: Loop) -> int:
        """+1 polygon contains loop b, -1 boundaries cross, 0 otherwise
        (XOR of per-loop results, S2Polygon.cs:1044-1062)."""
        inside = False
        for lp in self.loops:
            result = lp.contains_or_crosses(b)
            if result < 0:
                return -1
            if result > 0:
                inside = not inside
        return 1 if inside else 0

    def _contains_all_shells(self, b: "Polygon") -> bool:
        return all(self.contains_or_crosses_loop(lp) > 0
                   for lp in b.loops if not (lp.depth & 1))

    def _excludes_all_holes(self, b: "Polygon") -> bool:
        return all(self.contains_or_crosses_loop(lp) == 0
                   for lp in b.loops if lp.depth & 1)

    def _intersects_any_shell(self, b: "Polygon") -> bool:
        return any(self.contains_or_crosses_loop(lp) != 0
                   for lp in b.loops if not (lp.depth & 1))

    def contains_polygon(self, b: "Polygon") -> bool:
        """S2Polygon.Contains (S2Polygon.cs:511-554)."""
        if len(self.loops) == 1 and len(b.loops) == 1:
            return self.loops[0].contains_loop(b.loops[0])
        if not self.bound.contains_rect(b.bound):
            if not self.bound.lng.union(b.bound.lng).is_full:
                return False
        if not self.has_holes and not b.has_holes:
            return all(self._any_loop_contains(lp) for lp in b.loops)
        return self._contains_all_shells(b) and b._excludes_all_holes(self)

    def intersects_polygon(self, b: "Polygon") -> bool:
        """S2Polygon.Intersects (S2Polygon.cs:560-601)."""
        if len(self.loops) == 1 and len(b.loops) == 1:
            return self.loops[0].intersects_loop(b.loops[0])
        if not self.bound.intersects_rect(b.bound):
            return False
        if not self.has_holes and not b.has_holes:
            return any(la.intersects_loop(lb)
                       for la in self.loops for lb in b.loops)
        return self._intersects_any_shell(b) or b._intersects_any_shell(self)

    def relate_cells(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Batched (may_intersect, contains) across all loops."""
        return _relate_cells(self.loops, self.contains_points, ids)

    def cap_bound(self):
        from .cap import Cap
        if not self.loops:
            return Cap.empty()
        cap = self.loops[0].cap_bound()
        for lp in self.loops[1:]:
            cap = cap.add_cap(lp.cap_bound())
        return cap

    def rect_bound(self) -> LatLngRect:
        return self.bound


def _relate_cells(loops, contains_points, ids) -> tuple[np.ndarray, np.ndarray]:
    """(may_intersect, contains) of each cell against a region bounded by
    `loops` with point test `contains_points`: any loop edge crossing a
    cell edge, a cell corner inside, or a loop's first vertex inside the
    cell means may-intersect; all corners inside and neither of the others
    means contains.  Each id is decoded once."""
    from .cell import cells_uv_bounds, uv_bounds_contain_point, uv_bounds_vertices
    ids = np.asarray(ids, dtype=np.uint64)
    n = len(ids)
    face, uv = cells_uv_bounds(ids)
    cv = uv_bounds_vertices(face, uv)             # (n,4,3)
    flat = cv.reshape(n * 4, 3)
    inside = contains_points(flat[:, 0], flat[:, 1], flat[:, 2]).reshape(n, 4)
    crossing_any = np.zeros(n, dtype=bool)
    v0_in_cell = np.zeros(n, dtype=bool)
    ce1 = cv[:, [1, 2, 3, 0], :].reshape(n * 4, 3)
    for lp in loops:
        a0, a1 = lp._edges()
        m = len(a0)
        A0 = np.repeat(a0, n * 4, axis=0)
        A1 = np.repeat(a1, n * 4, axis=0)
        B0 = np.tile(flat, (m, 1))
        B1 = np.tile(ce1, (m, 1))
        rc = robust_crossing_batch(
            A0[:, 0], A0[:, 1], A0[:, 2], A1[:, 0], A1[:, 1], A1[:, 2],
            B0[:, 0], B0[:, 1], B0[:, 2], B1[:, 0], B1[:, 1], B1[:, 2])
        crossing_any |= (rc.reshape(m, n, 4) >= 0).any(axis=(0, 2))
        v0_in_cell |= uv_bounds_contain_point(face, uv, *lp.vertex(0))
    may = crossing_any | inside.any(axis=1) | v0_in_cell
    contains = ~crossing_any & inside.all(axis=1) & ~v0_in_cell
    return may, contains
