"""Streaming point-in-polygon == batch spatial join on the same rows."""

import pytest
from pyspark.sql import functions as F

from s2spark.operators.spatial_join import points_with_cells, spatial_join
from s2spark.sources.fixtures import make_polygon
from s2spark.sources.pages import mine_coordinates, synthesize_pages


@pytest.fixture(scope="module")
def spark():
    from s2spark.plans.session import build_session
    s = build_session(app_name="s2spark-spatial-stream", master="local[4]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_streaming_pip_matches_batch(spark, tmp_path):
    from s2spark.streaming.spatial_stream import streaming_point_in_polygon

    polygons = {1: make_polygon("-4:-4, -4:4, 4:4, 4:-4;"),
                2: make_polygon("48.5:2.0, 48.5:2.7, 49.2:2.7, 49.2:2.0;")}
    # first match out of range: the batch miner drops this page; a miner
    # without the range filter would wrap it to (0, 0), inside polygon 1
    bad = spark.createDataFrame(
        [("https://bad.example/wrap", "at 180.0000, 180.0000 and 0.0000, 0.0000")],
        "url string, text string")
    pages = synthesize_pages(spark, 5000).select("url", "text").unionByName(bad)
    src_dir = str(tmp_path / "pages_src")
    pages.coalesce(2).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(pages.schema).parquet(src_dir)
    out = streaming_point_in_polygon(spark, stream, polygons)
    q = (out.writeStream.format("memory").queryName("pip_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["url"], r["polygon_id"])
           for r in spark.sql("SELECT url, polygon_id FROM pip_out").collect()}

    batch = spatial_join(
        spark, points_with_cells(mine_coordinates(pages)), polygons)
    expect = {(r["url"], r["polygon_id"])
              for r in batch.select("url", "polygon_id").collect()}
    assert got == expect
    assert len(expect) > 0


def test_streaming_corridor_matches_batch(spark, tmp_path):
    """Stream-static corridor join == batch corridor join on the same rows."""
    from pyspark.sql import functions as F

    from s2spark.operators.distance_ops import corridor_join
    from s2spark.operators.spatial_join import points_with_cells
    from s2spark.sources.pages import mine_coordinates, synthesize_pages
    from s2spark.streaming.spatial_stream import streaming_corridor_join

    tracks = {1: [(0.0, -4.0), (0.0, 0.0), (0.0, 4.0)],
              2: [(48.0, 2.0), (49.5, 2.4)]}
    radius = 0.02
    pages = synthesize_pages(spark, 4000).select("url", "text")
    src_dir = str(tmp_path / "corridor_src")
    pages.coalesce(2).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(pages.schema).parquet(src_dir)
    out = streaming_corridor_join(spark, stream, tracks, radius)
    q = (out.writeStream.format("memory").queryName("corridor_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["url"], r["track_id"]) for r in
           spark.sql("SELECT url, track_id FROM corridor_out").collect()}

    pts = points_with_cells(mine_coordinates(pages))
    batch = {(r["url"], r["track_id"]) for r in
             corridor_join(spark, pts, tracks, radius)
             .select("url", "track_id").collect()}
    assert got == batch and len(batch) > 0


def test_streaming_pip_random_polygons_matches_batch(spark, tmp_path):
    """Randomized stream-static PIP equivalence: 5 random verified-convex
    polygons (the same generator the operator-fuzz suite grades against
    its independent determinant oracle) — streaming micro-batch output
    must equal the batch join row-for-row, closing the chain
    streaming == batch == independent oracle."""
    import numpy as np
    from test_operator_fuzz import _random_convex_vertex_string

    from s2spark.operators.spatial_join import points_with_cells, spatial_join
    from s2spark.sources.pages import mine_coordinates, synthesize_pages
    from s2spark.streaming.spatial_stream import streaming_point_in_polygon

    rng = np.random.default_rng(60606)
    polygons = {}
    for pid in range(1, 6):
        s, *_ = _random_convex_vertex_string(rng)
        polygons[pid] = make_polygon(s + ";")

    pages = synthesize_pages(spark, 6000).select("url", "text")
    src_dir = str(tmp_path / "pages_rand_src")
    pages.coalesce(3).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(pages.schema).parquet(src_dir)
    out = streaming_point_in_polygon(spark, stream, polygons)
    q = (out.writeStream.format("memory").queryName("pip_rand_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["url"], r["polygon_id"]) for r in spark.sql(
        "SELECT url, polygon_id FROM pip_rand_out").collect()}

    batch = spatial_join(
        spark, points_with_cells(mine_coordinates(pages)), polygons)
    expect = {(r["url"], r["polygon_id"])
              for r in batch.select("url", "polygon_id").collect()}
    assert got == expect
    assert len(expect) > 100   # 123 pairs at this seed: grades real matches
