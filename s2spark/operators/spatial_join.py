"""Point-in-polygon spatial join: the engine's headline operator.

Plan shape (SURVEY.md §3.3, reimagining S2EdgeIndex's range-scan join,
S2EdgeIndex.cs:327-603, as relational operators):

1. BUILD (driver-side, tiny): for each query polygon run the region coverer
   twice -> exterior covering (candidate generation) + interior covering
   (exact-test bypass, mirroring S2RegionCoverer.cs:312-329).  Emit a
   coverings table: (polygon_id, cell_id, level, is_interior).  Coverings
   are <= max_cells per polygon -> always broadcastable.

2. PROBE (distributed, one pass): points carry a leaf cell_id.  For the
   small set of distinct covering levels L1..Lk, generate each point's
   ancestors at those levels (pure bit ops) and explode -> equi-join
   ancestor == covering.cell_id.  This is a broadcast HASH join (never a
   nested-loop range join), so the probe scales linearly and Catalyst can
   still prune scans.

3. REFINE: matches on interior cells are accepted outright; matches on
   exterior cells run the exact crossing-parity kernel (Arrow-batched,
   polygon vertices broadcast).  The refine fraction is the covering's
   skin, a few % of candidates for max_cells=8.

Skew: a pre-aggregated per-cell match count drives optional salting of hot
covering cells; AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions import columns as C
from ..kernel import cellid as ci
from ..kernel.coverer import RegionCoverer
from ..kernel.loops import Loop, Polygon
from ..plans import covercache


def build_coverings(polygons: dict[int, Polygon], max_cells: int = 64,
                    interior_max_cells: int | None = None) -> pd.DataFrame:
    """Disjoint per-polygon candidate cells: interior covering I (accept
    fast, mirroring the coverer's interior fast-accept,
    S2RegionCoverer.cs:312-329) plus the skin E \\ I (exact-test cells),
    where E is the exterior covering and the set difference is cell-union
    range recursion.

    Disjointness means a point matches AT MOST ONE covering cell per
    polygon -> the probe join needs no dedup shuffle, and only skin matches
    pay the exact parity kernel.  max_cells defaults higher than the
    reference's 8: covering size only costs broadcast bytes here, while a
    finer covering shrinks the skin."""
    from ..kernel.cellunion import normalize
    rows = []
    cov = RegionCoverer(max_cells=max_cells)
    refine_levels = 3 if interior_max_cells is None else interior_max_cells
    for pid, poly in polygons.items():
        key = (tuple(lp.vertices.tobytes() for lp in poly.loops),
               tuple(lp.depth for lp in poly.loops),
               max_cells, refine_levels)
        cached = _COVERING_CACHE.get(key)
        if cached is None:
            cached = _load_disk_covering(key)
        if cached is None:
            # Level-synchronous skin refinement: classify the whole frontier
            # with ONE batched relate call per level (numpy amortizes), then
            # split only the straddlers.  Interior cells accept fast; the
            # final straddler set is the exact-test skin.
            frontier = normalize(cov.get_covering(poly))
            interior_cells: list[int] = []
            skin_cells: list[int] = []
            for depth in range(refine_levels + 1):
                if len(frontier) == 0:
                    break
                may, cont = poly.relate_cells(frontier)
                interior_cells.extend(int(c) for c in frontier[cont])
                straddle = frontier[may & ~cont & (ci.level_of(frontier) < 30)]
                leaf_straddle = frontier[may & ~cont & (ci.level_of(frontier) >= 30)]
                skin_cells.extend(int(c) for c in leaf_straddle)
                if depth == refine_levels:
                    skin_cells.extend(int(c) for c in straddle)
                    break
                frontier = ci.children(straddle).reshape(-1)
            cached = [(int(ci.to_signed(np.array([c], dtype=np.uint64))[0]),
                       int(ci.level_of(np.array([c], dtype=np.uint64))[0]), flag)
                      for c, flag in
                      [(c, True) for c in interior_cells] + [(c, False) for c in skin_cells]]
            _store_disk_covering(key, cached)
        _COVERING_CACHE[key] = cached
        rows.extend((pid, cell, level, flag) for cell, level, flag in cached)
    return pd.DataFrame(rows, columns=["polygon_id", "cov_cell_id", "cov_level", "is_interior"])


# coverings are pure functions of (loops, params); memoize driver-side so
# repeated joins against the same polygons skip the coverer entirely.
# A small on-disk cache (like a persisted spatial index) makes the skip
# work across processes — semantically an index build artifact, exactly
# like the reference's lazily-built S2EdgeIndex (S2EdgeIndex.cs:173-220).
_COVERING_CACHE: dict = {}
_DISK_CACHE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".cache", "coverings")


def _key_digest(key) -> str:
    h = hashlib.sha256(covercache.kernel_digest().encode())
    for part in key[0]:
        h.update(part)
    h.update(repr(key[1:]).encode())
    return h.hexdigest()[:32]


def _load_disk_covering(key):
    path = os.path.join(_DISK_CACHE_DIR, _key_digest(key) + ".json")
    try:
        with open(path) as f:
            return [tuple(row) for row in json.load(f)]
    except (OSError, ValueError):
        return None


def _store_disk_covering(key, rows) -> None:
    covercache.write_json(os.path.join(_DISK_CACHE_DIR, _key_digest(key) + ".json"),
                          [list(r) for r in rows])


def _make_contains_udf(spark: SparkSession, polygons: dict[int, Polygon]):
    """Pandas UDF (polygon_id, x, y, z) -> bool, vectorized per polygon
    group inside each Arrow batch; polygon vertices ride a broadcast.

    Null x marks a row that must NOT be refined (interior fast-accept) —
    the UDF skips it for free, which lets the caller run one single pass
    instead of splitting interior/exterior branches (each branch would
    re-evaluate the whole upstream pipeline).

    The reconstructed Polygon objects live in closure state shared by all
    Arrow batches of a task (construction computes loop bounds + origin
    parity, so per-batch rebuilds would dominate)."""
    spec = {int(pid): [(lp.vertices, lp.depth) for lp in poly.loops]
            for pid, poly in polygons.items()}
    bc = spark.sparkContext.broadcast(spec)
    state: dict[int, Polygon] = {}

    @F.pandas_udf(BooleanType())
    def polygon_contains(pid: pd.Series, x: pd.Series, y: pd.Series,
                         z: pd.Series) -> pd.Series:
        if not state:
            for p, loops_spec in bc.value.items():
                state[int(p)] = Polygon([Loop(v, depth=d) for v, d in loops_spec])
        out = np.zeros(len(pid), dtype=bool)
        valid = x.notna().to_numpy()
        if not valid.any():
            return pd.Series(out)
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        zs = z.to_numpy(np.float64)
        pids = pid.to_numpy(np.int64)
        for p in np.unique(pids[valid]):
            m = valid & (pids == p)
            out[m] = state[int(p)].contains_points(xs[m], ys[m], zs[m])
        return pd.Series(out)

    return polygon_contains


def spatial_join(spark: SparkSession, points: DataFrame,
                 polygons: dict[int, Polygon], max_cells: int = 64,
                 cell_col: str = "cell_id") -> DataFrame:
    """points (with leaf `cell_col` and x,y,z unit-vector columns) ->
    rows augmented with polygon_id for every containing polygon.

    Zero-shuffle plan: the covering side is broadcast; the probe explodes
    each point to one ancestor key per distinct covering level (<= ~10
    keys) and hash-joins; covering disjointness guarantees <= 1 match per
    (point, polygon), so no dedup aggregation is needed.  The exact parity
    kernel runs ONLY on exterior-cell matches (a filter on the match, not
    an OR the optimizer might evaluate eagerly)."""
    cov_pdf = build_coverings(polygons, max_cells=max_cells)
    cov_df = spark.createDataFrame(cov_pdf)
    levels = sorted(cov_pdf["cov_level"].unique().tolist())

    probe_keys = F.array(*[C.parent_for_level(F.col(cell_col), int(lv)) for lv in levels])
    probed = points.withColumn("probe_cell", F.explode(probe_keys))

    joined = (probed.join(F.broadcast(cov_df),
                          probed["probe_cell"] == cov_df["cov_cell_id"], "inner")
              .drop("probe_cell", "cov_cell_id", "cov_level"))

    contains_udf = _make_contains_udf(spark, polygons)
    # single pass: interior rows feed the UDF nulls (skipped for free),
    # exterior rows get the exact parity kernel; no branch re-evaluation
    masked = F.when(~F.col("is_interior"), F.col("x"))
    keep = F.col("is_interior") | contains_udf(
        F.col("polygon_id"), masked, F.col("y"), F.col("z"))
    return joined.where(keep).drop("is_interior")


def points_with_cells(pages_geo: DataFrame, lat_col: str = "lat",
                      lng_col: str = "lng") -> DataFrame:
    """Attach leaf cell_id (JVM expression) + unit-vector columns (needed by
    the exact refine kernel) to a mined geo table."""
    # keep_xyz reuses the unit vectors computed inside the encode — same
    # expressions (bit-identical), no recomputation, no extra plan nodes
    return C.with_cell_id(pages_geo, lat_col, lng_col, out="cell_id",
                          keep_xyz=True)
