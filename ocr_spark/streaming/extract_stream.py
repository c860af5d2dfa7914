"""Structured Streaming: a streaming source, an unchanged batch operator,
and one writer.

The reference is batch-only (its generator loops forever but has no
event-time/state semantics — its ``DataPreprocess/DataGenerator.py:399``,
SURVEY §2.9). The north rule asks for *checkpoint
resume*; ``ocr_spark.sinks`` provides the date-granular variant (committed
lineage dates, partitioned and lineage-audited), and this module the
engine-managed one. A stream composes a source (``read_pages_stream``,
``read_events_stream`` or ``sources.warc.read_warc_stream``, optionally
through ``drop_recrawls``), a batch operator as it is (``extract_pages``,
``extract_full``: one map stage with no cross-batch state), and the one
writer, ``stream_to_parquet``::

    stream_to_parquet(
        extract_full(read_pages_stream(spark, inp), recognizer="font"),
        out, ckpt)

The writer is the parquet file sink with a ``checkpointLocation`` and
``Trigger.AvailableNow`` (drain everything available, then stop). A
restart resumes from the checkpoint's source offsets, and the sink skips
a replayed batch that its ``out_dir/_spark_metadata`` log already holds,
so the output is exactly-once with zero custom bookkeeping. Read
``out_dir`` through Spark: that log is what makes the output
exactly-once, and part files of a batch killed before its log entry can
stay on disk. At 10^12 documents the same job string runs as a
continuous incremental crawl-ingest by swapping the trigger.

``stream_event_counts`` is the stateful-aggregation surface: event-time
tumbling windows + watermark for late data — the standard telemetry rollup
shape over the ``events`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ocr_spark.functions.url import canonical_url
from ocr_spark.sources.pages import PAGES_SCHEMA

# re-crawls of a canonical url within this event-time window are dropped
RECRAWL_WATERMARK = "24 hours"


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of page parquet files, 8 files per micro-batch."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def read_events_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of ``events`` parquet files."""
    return spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(input_dir)


def drop_recrawls(pages: DataFrame) -> DataFrame:
    """Streaming URL dedup: one page per canonical url.

    ``dropDuplicatesWithinWatermark`` on the canonical url: re-crawls of a
    page arriving within RECRAWL_WATERMARK are emitted once; state is
    bounded by the watermark (at Common Crawl cadence a 24h window spans a
    segment's re-fetches). Apply it before extraction so duplicate pages
    never cost Python kernel time.
    """
    return (
        pages.withColumn("_curl", canonical_url("url"))
        .withWatermark("warc_ts", RECRAWL_WATERMARK)
        .dropDuplicatesWithinWatermark(["_curl"])
        .drop("_curl")
    )


def stream_to_parquet(
    df: DataFrame, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """The one streaming writer: append ``df`` to parquet at ``out_dir``
    through the file sink, draining all input (AvailableNow), exactly-once
    across restarts from ``checkpoint_dir``."""
    return (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_event_counts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Watermarked tumbling-window rollup over an events stream.

    Late rows beyond the watermark are dropped deterministically; state
    size is bounded by (watermark / window) × group cardinality — the knob
    that keeps a 10^12-event stream's state in memory.
    """
    agg = (
        read_events_stream(spark, input_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return stream_to_parquet(agg, out_dir, checkpoint_dir)
