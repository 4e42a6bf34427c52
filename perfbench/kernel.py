"""The `kernel` workload: the numpy S2 kernel the executors and the driver
run, called in this process with no JVM.

A pass runs four operations on one seeded point set and the seed-placed
pipeline polygons, in an order the seed permutes:

- `encode`: lat/lng -> leaf cell ids (`cellid.from_latlng_deg`), what
  `points_with_cells` does per point;
- `cover`: `RegionCoverer.get_covering` plus one `Polygon.relate_cells`
  over the covering, what a covering build does per polygon;
- `refine`: `Polygon.contains_points`, the exact test of the join's
  refine stage;
- `tiles`: `cellid.parent_for_level` and per-tile counts of the matched
  points, what `assign_tiles` and the count do.

Every operation's output is checked against values computed another way:
decoding, a half-space test of each convex polygon with plain cross
products, and cell ranges and parents from bit arithmetic.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from .pipeline import TILE_LEVEL, place_polygons

N_POINTS = 1_000_000
OPS = ("cover", "encode", "refine", "tiles")
# Paris at level 10 in the public S2 library
PARIS = (48.8566, 2.3522, "47e66f")


def make_points(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Points in the pools the pipeline's pages use: Paris (polygon 2's
    edges), around (0, 0) (polygon 1's edges) and uniform on the sphere."""
    rng = np.random.default_rng([seed, 7])
    n_paris, n_near = int(N_POINTS * 0.4), int(N_POINTS * 0.3)
    n_far = N_POINTS - n_paris - n_near
    lat = np.concatenate([rng.uniform(48.3, 49.4, n_paris),
                          rng.uniform(-6, 6, n_near),
                          np.degrees(np.arcsin(rng.uniform(-1, 1, n_far)))])
    lng = np.concatenate([rng.uniform(1.8, 2.9, n_paris),
                          rng.uniform(-6, 6, n_near),
                          rng.uniform(-180, 180, n_far)])
    return lat, lng


def halfspace_inside(poly, x, y, z) -> np.ndarray:
    """Inside a convex one-loop polygon smaller than a hemisphere: on the
    same side of every edge's great circle as the vertex centroid."""
    v = poly.loops[0].vertices
    c = v.sum(axis=0)
    p = np.stack([x, y, z], axis=1)
    inside = np.ones(len(x), dtype=bool)
    for a, b in zip(v, np.roll(v, -1, axis=0)):
        n = np.cross(a, b)
        inside &= (p @ n) * (c @ n) > 0
    return inside


def _parent_bits(ids: np.ndarray, level: int) -> np.ndarray:
    lsb = np.uint64(1) << np.uint64(2 * (30 - level))
    return (ids & ~(lsb * np.uint64(2) - np.uint64(1))) | lsb


class Kernel:
    setup_phases_s: dict = {}

    def __init__(self, seed: int, tracer, cpu):
        self.seed = seed
        self.tracer = tracer
        self.cpu = cpu
        self.op_cpu: dict[str, list[float]] = {op: [] for op in OPS}

    def setup(self) -> None:
        from s2spark.kernel import cellid
        self.polygons = place_polygons(self.seed)
        self.lat, self.lng = make_points(self.seed)
        self.xyz = cellid.xyz_from_latlng_deg(self.lat, self.lng)
        self.ids = cellid.from_latlng_deg(self.lat, self.lng)
        self.inside = {pid: halfspace_inside(p, *self.xyz)
                       for pid, p in self.polygons.items()}
        # one untimed pass: first calls pay imports and numpy's first use
        for op in OPS:
            self._op(op)

    def order(self, k: int) -> list[str]:
        rng = np.random.default_rng([self.seed, k + 1])
        return [str(op) for op in rng.permutation(OPS)]

    def rows(self, name: str) -> int:
        """Flagship input rows an operation reads: the points."""
        return 0 if name == "cover" else N_POINTS

    def release(self) -> None:
        pass

    def _op(self, name: str) -> tuple[float, float, bool]:
        from s2spark.kernel import cellid
        from s2spark.kernel.cellunion import normalize
        from s2spark.kernel.coverer import RegionCoverer
        t0, c0 = time.perf_counter(), self.cpu()
        if name == "encode":
            out = cellid.from_latlng_deg(self.lat, self.lng)
        elif name == "cover":
            cov = RegionCoverer(max_cells=64)
            out = {}
            for pid, poly in self.polygons.items():
                cells = normalize(cov.get_covering(poly))
                out[pid] = (cells, poly.relate_cells(cells)[1])
        elif name == "refine":
            out = {pid: poly.contains_points(*self.xyz)
                   for pid, poly in self.polygons.items()}
        else:
            out = {pid: np.unique(cellid.parent_for_level(self.ids[m], TILE_LEVEL),
                                  return_counts=True)
                   for pid, m in self.inside.items()}
        dt, dc = time.perf_counter() - t0, self.cpu() - c0
        return dt, dc, getattr(self, f"_check_{name}")(out)

    def timed_op(self, name: str, trace: str) -> tuple[float, float, bool]:
        with self.tracer.span(name, trace):
            dt, dc, good = self._op(name)
        self.op_cpu[name].append(dc)
        return dt, dc, good

    # -- checks --------------------------------------------------------------

    def _check_encode(self, ids) -> bool:
        from s2spark.kernel import cellid
        lat, lng = cellid.to_latlng_deg(ids)
        # a leaf cell is under 1e-6 degrees across
        err = np.max(np.abs(lat - self.lat) + np.abs(np.cos(np.radians(lat)) * (
            (lng - self.lng + 180) % 360 - 180)))
        paris = cellid.to_token(cellid.parent_for_level(
            cellid.from_latlng_deg(np.array([PARIS[0]]), np.array([PARIS[1]])), 10))
        return bool(np.array_equal(ids, self.ids) and err < 1e-6
                    and str(paris[0]) == PARIS[2])

    def _check_cover(self, out) -> bool:
        """Every inside point lies in a covering cell, and every point in a
        cell classed as contained is inside."""
        from s2spark.kernel import cellid
        for pid, (cells, contained) in out.items():
            lo, hi = cellid.range_min(cells), cellid.range_max(cells)
            k = np.searchsorted(lo, self.ids, side="right") - 1
            hit = (k >= 0) & (self.ids <= hi[np.maximum(k, 0)])
            inside = self.inside[pid]
            if not np.all(hit[inside]):
                return False
            in_contained = hit & contained[np.maximum(k, 0)]
            if np.any(in_contained & ~inside):
                return False
        return True

    def _check_refine(self, out) -> bool:
        return all(np.array_equal(m, self.inside[pid]) for pid, m in out.items())

    def _check_tiles(self, out) -> bool:
        for pid, (tiles, counts) in out.items():
            ref, n = np.unique(_parent_bits(self.ids[self.inside[pid]], TILE_LEVEL),
                               return_counts=True)
            if not (np.array_equal(tiles, ref) and np.array_equal(counts, n)):
                return False
        return True

    # -- reports -------------------------------------------------------------

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """Median CPU seconds of each operation."""
        return {f"kernel.{op}_cpu_s": statistics.median(v)
                for op, v in self.op_cpu.items() if v}

    def regions(self) -> list:
        return list(self.polygons.values())
