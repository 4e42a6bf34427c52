"""Streaming point-in-polygon enrichment (stream-static covering join).

The batch spatial join (operators.spatial_join) is already expressed as a
stream-compatible plan: a static broadcast covering table joined to the
probe side, then a stateless pandas-UDF residual filter.  Structured
Streaming therefore runs the IDENTICAL logical plan per micro-batch —
nothing is reimplemented here; this module only fixes the entry shape
(mine -> encode -> join) for a pages stream.  The miner is the batch
`sources.pages.mine_coordinates` itself (its Generate runs per
micro-batch), so a streamed page is kept or dropped exactly as in batch,
range filter included.

Scale shape: the stream side never shuffles (broadcast join + stateless
filter), so per-micro-batch latency is one map pass regardless of the
polygon count; watermarks/state are not needed because the join is
stateless enrichment, not an aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..kernel.loops import Polygon
from ..operators.spatial_join import points_with_cells, spatial_join
from ..sources.pages import mine_coordinates


def streaming_point_in_polygon(spark: SparkSession, pages_stream: DataFrame,
                               polygons: dict[int, Polygon],
                               max_cells: int = 64) -> DataFrame:
    """pages stream (url, text, ...) -> (url, lat, lng, polygon_id) rows for
    every page whose mined coordinate falls inside a query polygon."""
    pts = points_with_cells(mine_coordinates(pages_stream))
    joined = spatial_join(spark, pts, polygons, max_cells=max_cells)
    return joined.select("url", "lat", "lng", "polygon_id")


def streaming_corridor_join(spark: SparkSession, pages_stream: DataFrame,
                            tracks: dict[int, list[tuple[float, float]]],
                            radius_rad: float) -> DataFrame:
    """Streaming corridor enrichment: pages whose mined coordinate lies
    within radius_rad of any polyline track ("live pages near the route").

    The batch corridor join is already a stream-compatible plan — a
    broadcast equi-join on buffered-covering ancestor keys plus a codegen
    min-edge-distance residual, all stateless — so the IDENTICAL logical
    plan runs per micro-batch, like the point-in-polygon enrichment above.
    """
    from ..operators.distance_ops import corridor_join

    pts = points_with_cells(mine_coordinates(pages_stream))
    joined = corridor_join(spark, pts, tracks, radius_rad)
    return joined.select("url", "lat", "lng", "track_id", "distance_rad")
