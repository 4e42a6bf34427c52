"""Structured-Streaming tile aggregation.

The reference has no streaming semantics (SURVEY.md §2.9), so this is
engine-added capability: a continuously-updating pages stream -> mined
coordinates -> JVM cell encode -> event-time-windowed per-tile counts with
a watermark for late data.  Every transformation is the SAME Column
expression stack used in batch (encode, tile assignment), demonstrating
the batch/streaming unification Spark gives us for free.

At production scale the source is Kafka/files; tests drive it with the
rate source + foreachBatch/memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import columns as C
from ..sources.pages import LANGS, mine_coordinates


def synthetic_page_stream(spark: SparkSession, rows_per_second: int = 10_000) -> DataFrame:
    """Rate-source stream shaped like the pages table (deterministic
    content per row id, mirroring sources.pages.synthesize_pages)."""
    df = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    i = F.col("value")
    h1 = F.pmod(i * 2654435761 + 1013904223, F.lit(2 ** 31)).cast("double") / 2 ** 31
    h2 = F.pmod(i * 1597334677 + 7, F.lit(2 ** 31)).cast("double") / 2 ** 31
    lat = F.degrees(F.asin(h1 * 2 - 1))
    lng = h2 * 360.0 - 180.0
    text = F.concat(F.lit("page "), i.cast("string"), F.lit(" located at "),
                    F.format_number(lat, 4), F.lit(", "), F.format_number(lng, 4))
    return df.select(
        F.col("timestamp").alias("warc_ts"),
        F.concat(F.lit("https://host"), F.pmod(i, F.lit(1000)).cast("string"),
                 F.lit(".example/page/"), i.cast("string")).alias("url"),
        text.alias("text"),
        F.element_at(F.lit(list(LANGS)), (F.pmod(i, F.lit(len(LANGS))) + 1).cast("int")).alias("lang"))


def streaming_tile_counts(pages_stream: DataFrame, level: int = 6,
                          window: str = "10 seconds",
                          watermark: str = "30 seconds") -> DataFrame:
    """Event-time windowed pages-per-tile counts with late-data watermark.

    Stateful aggregation keys on (window, tile): state size is bounded by
    (#active windows x #active tiles); the watermark evicts closed windows.
    """
    geo = C.with_cell_id(mine_coordinates(pages_stream), "lat", "lng")
    return (geo
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"),
                     C.parent_for_level(F.col("cell_id"), level).alias("tile_id"))
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.approx_count_distinct("url").alias("n_urls")))


def streaming_tile_topk(pages_stream: DataFrame, k: int = 10,
                        level: int = 6, window: str = "10 seconds",
                        watermark: str = "30 seconds") -> DataFrame:
    """Continuously-maintained hottest-k tiles (global ORDER BY + LIMIT over
    the windowed counts).  Sorting a streaming aggregate requires COMPLETE
    output mode, and complete mode DISABLES watermark-based state
    eviction: every (window, tile) aggregate ever seen is retained for
    the lifetime of the query, so state grows with stream duration x
    #active tiles.  That is the price of a continuously-ranked global
    top-k; acceptable for bounded runs and demos, NOT for an unbounded
    production stream.  At scale, rank per-window instead: consume
    streaming_tile_counts in append mode (watermark evicts closed
    windows, state bounded) and take the top-k of each emitted window in
    a foreachBatch sink or a downstream batch query.

        q = (streaming_tile_topk(stream, k=10).writeStream
             .outputMode("complete").format("memory")...)
    """
    counts = streaming_tile_counts(pages_stream, level, window, watermark)
    return (counts.orderBy(F.desc("n_pages"), F.asc("tile_id"))
            .limit(k))


def rank_window_topk(counts_batch: DataFrame, k: int) -> DataFrame:
    """Per-window top-k over FINALIZED windowed counts — the foreachBatch
    companion of streaming_tile_topk_append.

    Correctness leans on an append-mode invariant: a window's rows are
    all emitted in the single micro-batch whose advancing watermark
    closes that window, so ranking within the batch IS ranking within
    the complete window.  The rank is an ordinary batch window function
    (the input is a plain micro-batch DataFrame, not a stream).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("win").orderBy(F.desc("n_pages"), F.asc("tile_id"))
    return (counts_batch
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def streaming_tile_topk_append(pages_stream: DataFrame, k: int = 10,
                               level: int = 6, window: str = "10 seconds",
                               watermark: str = "30 seconds"):
    """BOUNDED-STATE per-window hottest-k: the production alternative to
    streaming_tile_topk's complete-mode global ranking.

    The windowed counts run in APPEND output mode, so the watermark
    evicts each window's state once it closes and emits its final counts
    exactly once — state stays bounded by (#open windows x #active
    tiles) for the stream's whole lifetime, unlike complete mode (see
    streaming_tile_topk).  The cost: ranking is per closed window (a
    window's top-k is final and immutable), not a continuously-revised
    global leaderboard.

    Returns (counts_stream, batch_ranker): start the stream with
    outputMode("append") and apply the ranker inside foreachBatch:

        counts, ranker = streaming_tile_topk_append(stream, k=10)
        q = (counts.writeStream.outputMode("append")
             .foreachBatch(lambda bdf, _id: sink(ranker(bdf)))
             .start())
    """
    counts = streaming_tile_counts(pages_stream, level, window, watermark)
    return counts, (lambda bdf: rank_window_topk(bdf, k))
