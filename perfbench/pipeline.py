"""The flagship spatial-join + tiling job of the `spark` workload.

One job scans a stored pages table, mines coordinates from the text,
encodes leaf cells, joins against three polygons and counts matches per
level-10 tile.  The table is written once in set-up from
`synthesize_pages`, so the scan does not push synthesis into the mine
filters.  The seed places the polygons (the fixtures' shapes and sizes,
shifted by a few tenths of a degree); polygon 2 always covers the hot
Paris pool.

Every job's tile counts are checked against counts derived without Spark:
the stored text is parsed with Arrow, then encoded, tested for containment
and tiled with the numpy kernel.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

import numpy as np

from . import probes

PAGES = 100_000
TILE_LEVEL = 10
# polygon id -> (fixture loop as (lat, lng) vertices, largest shift in degrees)
BASE_POLYGONS = {
    1: ([(-4, -4), (-4, 4), (4, 4), (4, -4)], 0.5),          # NEAR pool
    2: ([(48.5, 2.0), (48.5, 2.7), (49.2, 2.7), (49.2, 2.0)], 0.25),  # Paris
    3: ([(-40, -40), (-40, 40), (40, 40), (40, -40)], 2.0),   # FAR, large
}
WARMUP_JOBS = 1


def place_polygons(seed: int) -> dict:
    from s2spark.sources.fixtures import make_polygon
    rng = np.random.default_rng(seed)
    out = {}
    for pid, (verts, shift) in BASE_POLYGONS.items():
        dlat, dlng = rng.uniform(-shift, shift, 2)
        out[pid] = make_polygon(", ".join(
            f"{lat + dlat!r}:{lng + dlng!r}" for lat, lng in verts) + ";")
    return out


def store_pages(spark, path: str) -> None:
    from s2spark.sources.pages import synthesize_pages
    synthesize_pages(spark, PAGES).write.mode("overwrite").parquet(path)


def _mined_points(path: str):
    """(lat, lng) mined from the stored text with Arrow's RE2, the same
    first-match pattern and range filter as `mine_coordinates`."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from s2spark.sources.pages import COORD_REGEX
    text = pq.read_table(path, columns=["text"]).column("text")
    m = pc.extract_regex(text, COORD_REGEX.replace("(", "(?P<lat>", 1)
                         .replace("), (", "), (?P<lng>", 1)).drop_null()
    lat = pc.cast(pc.struct_field(m, "lat"), "float64").to_numpy()
    lng = pc.cast(pc.struct_field(m, "lng"), "float64").to_numpy()
    ok = (np.abs(lat) <= 90) & (np.abs(lng) <= 180)
    return lat[ok], lng[ok]


def expected_tiles(path: str, polygons: dict) -> Counter:
    """(polygon_id, tile_id) -> matched pages, from the numpy kernel."""
    from s2spark.kernel import cellid
    lat, lng = _mined_points(path)
    ids = cellid.from_latlng_deg(lat, lng)
    tiles = cellid.to_signed(cellid.parent_for_level(ids, TILE_LEVEL))
    x, y, z = cellid.xyz_from_latlng_deg(lat, lng)
    out: Counter = Counter()
    for pid, poly in polygons.items():
        inside = poly.contains_points(x, y, z)
        t, n = np.unique(tiles[inside], return_counts=True)
        out.update({(pid, int(a)): int(b) for a, b in zip(t, n)})
    return out


def _tile_counts(joined):
    from pyspark.sql import functions as F

    from s2spark.operators.tiling import assign_tiles
    return (assign_tiles(joined, TILE_LEVEL)
            .groupBy("polygon_id", "tile_id")
            .agg(F.count(F.lit(1)).alias("n")))


def _points(mined):
    from s2spark.operators.spatial_join import points_with_cells
    return points_with_cells(mined).select("url", "lat", "lng", "cell_id",
                                           "x", "y", "z")


def run_job(spark, path: str, polygons: dict) -> Counter:
    """One pipeline job, forced by collecting its tile counts."""
    from s2spark.operators.spatial_join import spatial_join
    from s2spark.sources.pages import mine_coordinates
    pages = spark.read.parquet(path).select("url", "text")
    joined = spatial_join(spark, _points(mine_coordinates(pages)), polygons)
    return Counter({(r.polygon_id, r.tile_id): r.n
                    for r in _tile_counts(joined).collect()})


class Pipeline:
    def __init__(self, spark, work_dir: str, seed: int, tracer, cpu):
        self.spark = spark
        self.path = os.path.join(work_dir, "pages.parquet")
        self.tracer = tracer
        self.cpu = cpu
        self.polygons = place_polygons(seed)
        self.expected: Counter | None = None
        self.layer_runs: list[dict] = []
        self.details: dict = {}
        self.spark_runs: list[dict] = []

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from s2spark.operators.spatial_join import build_coverings
        store_pages(self.spark, self.path)
        self.expected = expected_tiles(self.path, self.polygons)
        t0 = time.perf_counter()
        cov = build_coverings(self.polygons)
        self.details["cover_s"] = time.perf_counter() - t0
        self.details["cover_cells"] = len(cov)
        # an untimed job: the first pays JIT, Python worker start-up and the
        # Arrow path's first use (2-4x a later job's time)
        for _ in range(WARMUP_JOBS):
            self._timed_job()

    def _timed_job(self) -> tuple[float, float, bool]:
        t0, c0 = time.perf_counter(), self.cpu()
        got = run_job(self.spark, self.path, self.polygons)
        return time.perf_counter() - t0, self.cpu() - c0, got == self.expected

    # -- timed operations ----------------------------------------------------

    def timed_op(self, name: str, trace: str) -> tuple[float, float, bool]:
        """(wall seconds, process-tree CPU seconds, output correct)"""
        if not self.tracer.enabled:
            return self._timed_job()
        c0 = self.cpu()
        dt, good = self._layered_job(trace)
        return dt, self.cpu() - c0, good

    def _layered_job(self, trace: str) -> tuple[float, bool]:
        """The same job, one layer at a time: each layer's public function
        runs on the previous layer's cached, counted output, so a layer's
        time is its own work (not a forced prefix of the whole job)."""
        from s2spark.operators.spatial_join import spatial_join
        from s2spark.sources.pages import mine_coordinates
        spark, tr = self.spark, self.tracer
        run: dict = {}
        cached = []

        def layer(name, build, parent):
            with tr.span(name, trace, parent):
                df = build().cache()
                n = df.count()
            cached.append(df)
            run[name] = tr.spans[-1]["end"] - tr.spans[-1]["start"]
            return df, n

        group = f"{trace}:pipeline"
        spark.sparkContext.setJobGroup(group, "pipeline")
        t0 = time.perf_counter()
        with tr.span("pipeline", trace) as root:
            scan, n_pages = layer(
                "sources.scan", lambda: spark.read.parquet(self.path)
                .select("url", "text"), root)
            mined, n_mined = layer("sources.mine",
                                   lambda: mine_coordinates(scan), root)
            pts, _ = layer("functions.encode", lambda: _points(mined), root)
            joined, _ = layer("operators.spatial_join",
                              lambda: spatial_join(spark, pts, self.polygons), root)
            with tr.span("operators.tiling", trace, root):
                rows = _tile_counts(joined).collect()
            run["operators.tiling"] = tr.spans[-1]["end"] - tr.spans[-1]["start"]
        dt = time.perf_counter() - t0
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        t1 = time.perf_counter()
        self.spark_runs.append(probes.stage_totals(spark, probes.job_ids(spark, group)))
        tr.bookkeeping_s += time.perf_counter() - t1
        got = Counter({(r.polygon_id, r.tile_id): r.n for r in rows})
        if not self.layer_runs:
            self._probe_counts(pts)
        run["mine_yield"] = n_mined / n_pages
        self.layer_runs.append(run)
        for df in cached:
            df.unpersist()
        return dt, got == self.expected

    def _probe_counts(self, pts) -> None:
        """Probe and refine volumes of the join, counted with the public
        covering build and parent expression on the cached points."""
        from pyspark.sql import functions as F

        from s2spark.functions import columns as C
        from s2spark.operators.spatial_join import build_coverings
        cov = build_coverings(self.polygons)
        levels = sorted(cov["cov_level"].unique().tolist())
        keys = F.explode(F.array(*[C.parent_for_level(F.col("cell_id"), int(lv))
                                   for lv in levels]))
        cand = (pts.select("cell_id", keys.alias("k"))
                .join(F.broadcast(self.spark.createDataFrame(cov)),
                      F.col("k") == F.col("cov_cell_id")))
        r = cand.agg(F.count(F.lit(1)).alias("n"),
                     F.sum((~F.col("is_interior")).cast("long")).alias("skin")
                     ).collect()[0]
        matched = sum(self.expected.values())
        interior = r.n - r.skin
        self.details.update({
            "probe_rows_per_point": float(len(levels)),
            "candidate_rows": float(r.n),
            "refine_share": r.skin / r.n,
            "refine_accept_ratio": (matched - interior) / r.skin,
            "contains_points_us": self._contains_us(cov),
        })

    def _contains_us(self, cov) -> float:
        """Polygon.contains_points cost per skin point (points that fall in
        a covering cell the join must refine)."""
        from s2spark.kernel import cellid
        lat, lng = _mined_points(self.path)
        ids = cellid.to_signed(cellid.from_latlng_deg(lat, lng))
        x, y, z = cellid.xyz_from_latlng_deg(lat, lng)
        total_s, n = 0.0, 0
        skin = cov[~cov["is_interior"]]
        for pid, poly in self.polygons.items():
            s = skin[skin["polygon_id"] == pid]
            hit = np.zeros(len(ids), dtype=bool)
            for lv, cells in s.groupby("cov_level")["cov_cell_id"]:
                par = cellid.to_signed(cellid.parent_for_level(
                    cellid.to_unsigned(ids), int(lv)))
                hit |= np.isin(par, cells.to_numpy())
            t0 = time.perf_counter()
            poly.contains_points(x[hit], y[hit], z[hit])
            total_s += time.perf_counter() - t0
            n += int(hit.sum())
        return total_s / max(n, 1) * 1e6

    # -- per-layer report ----------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """Per-job medians of the layer times and Spark totals."""
        def med(key):
            return statistics.median(r[key] for r in self.layer_runs)
        d = self.details
        spark_stats = {k: statistics.median(r[k] for r in self.spark_runs)
                       for k in probes.STAGE_KEYS}
        return {
            **spark_stats,
            "sources.scan_s": med("sources.scan"),
            "sources.mine_s": med("sources.mine"),
            "sources.mine_yield": med("mine_yield"),
            "functions.encode_s": med("functions.encode"),
            "operators.spatial_join.join_s": med("operators.spatial_join"),
            "operators.spatial_join.probe_rows_per_point": d["probe_rows_per_point"],
            "operators.spatial_join.candidate_rows": d["candidate_rows"],
            "operators.spatial_join.refine_share": d["refine_share"],
            "operators.spatial_join.refine_accept_ratio": d["refine_accept_ratio"],
            "operators.spatial_join.cover_s": d["cover_s"],
            "operators.spatial_join.cover_cells": float(d["cover_cells"]),
            "operators.tiling.tile_s": med("operators.tiling"),
            "kernel.contains_points_us": d["contains_points_us"],
        }

    def regions(self) -> list:
        return list(self.polygons.values())
