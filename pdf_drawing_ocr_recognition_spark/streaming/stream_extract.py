"""Streaming extraction — the batch pipeline rebound to readStream/writeStream.

The reference is strictly batch (SURVEY.md Table B: streaming absent), and the
north rule does not require streams; this module is the idiomatic Spark
extension: because the extract operator is a narrow ``mapInPandas`` over a
schema-stable source, the SAME operator runs unchanged under Structured
Streaming — continuous ingestion of newly landed WARC partitions with exactly
-once sinks via checkpointing.  ``Trigger.AvailableNow`` turns it back into an
incremental batch (the test uses that to prove stream==batch output).

Streaming output lands through one commit protocol, the snapshot table:
``stream_extraction(...).writeStream.foreachBatch(snapshot_sink(root))``
commits each micro-batch as one snapshot and skips a replayed batch id
(streaming/snapshot_sink.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages
from ..sources.pages import PAGES_SCHEMA


def stream_extraction(
    spark: SparkSession,
    pages_path: str,
    patterns: dict[str, dict],
    langs: tuple[str, ...] = ("en", "zh", "de"),
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the pages directory → the batch extract operator."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(pages_path)
    if langs:
        pages = pages.filter(F.col("lang").isin(*langs))
    return extract_pages(pages, patterns)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts (late-data-tolerant rollup).

    Works on either a streaming or batch events frame; under streaming the
    watermark bounds state so the 100 TB/day firehose cannot accumulate
    unbounded window state.
    """
    return (
        events.withColumn("ts_tz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_tz", watermark)
        .groupBy(F.window("ts_tz", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


def run_windowed_stream_to_memory(
    spark: SparkSession,
    events_path: str,
    query_name: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    schema: str = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE",
) -> None:
    """Drain a file-source event stream through the watermarked window agg into
    an append-mode memory sink, one file per micro-batch.

    ``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow`` makes the watermark
    advance between files, so late rows in later files are dropped exactly as
    they would be on the live firehose, and only windows finalized by the
    final watermark are emitted (open windows stay in state) — the
    bounded-state guarantee the 100 TB/day ingest relies on.
    """
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    q = (
        windowed_event_counts(ev, window=window, watermark=watermark)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def purchase_attribution_join(
    purchases: DataFrame,
    clicks: DataFrame,
    attribution_window: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: each purchase joined to the
    clicks of the same user in the preceding *attribution_window*.

    Both sides carry an event-time watermark and the join condition bounds
    the click time against the purchase time from BOTH directions, so Spark
    can evict buffered rows from each side's state once the other side's
    watermark passes the bound — the state-bounding contract that makes a
    stream-stream join survive an unbounded firehose (without the time
    bound, both sides buffer forever).  Works identically on batch frames
    (the tests cross-check against a plain join).
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    # explicit renames: both sides usually derive from the SAME source
    # lineage (one stream filtered twice), where p["user_id"] == c["user_id"]
    # silently resolves to a trivially-true self-reference
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").cast("timestamp").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (
                F.col("c_ts")
                >= F.col("p_ts") - F.expr(f"INTERVAL {attribution_window}")
            ),
        )
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            F.unix_micros(F.col("p_ts")).alias("purchase_ts_us"),
            F.unix_micros(F.col("c_ts")).alias("click_ts_us"),
        )
    )
