"""Partitioned output sink: (crawl-date bucket, url-host hash) layout,
hot-host salting, per-partition lineage metrics, checkpoint resume.

North-rule scale plumbing (SURVEY §7 M5). Layout:

    out_dir/
      data/crawl_date=YYYY-MM-DD/host_bucket=NN/part-*.parquet
      _lineage/   per-(date, bucket) rows/bytes/checksum rows
      _manifest/  one row per COMMITTED crawl_date (the resume unit)

Design decisions, written for the 1000-executor case:

* **Partition keys.** ``crawl_date = date(warc_ts)`` (time pruning) ×
  ``host_bucket = pmod(xxhash64(host), HOST_HASH_BUCKETS)`` (bounded
  directory fan-out regardless of distinct-host cardinality — hosts are
  ~10^8 at crawl scale, buckets stay at HOST_HASH_BUCKETS).
* **Salting.** The write exchange repartitions by ``(crawl_date,
  host_bucket, salt)`` where ``salt = pmod(xxhash64(url), HOT_HOST_SALT)``.
  A hot host (30% of a crawl in the synth suite) therefore spreads over
  HOT_HOST_SALT writer tasks instead of serializing one task, while its
  rows still land in the same directory partition — salt changes task
  placement, never layout. This is the explicit-salt variant of what AQE
  skew-split does for joins; writes need it done by hand because the
  exchange before a write is not AQE-splittable.
* **Lineage.** Per (crawl_date, host_bucket): row count, byte count, and
  an order-insensitive checksum (``bit_xor(xxhash64(url, text))`` —
  commutative and overflow-free under ANSI mode, so partition-internal
  ordering is free to vary). Appended to ``_lineage`` in the same driver
  step as the data commit.
* **Resume.** The unit of commit is one crawl_date. A date is appended to
  ``_manifest`` only AFTER its data + lineage writes return; restart
  recomputes ``pending = input dates ANTI JOIN manifest`` and re-runs only
  those. Partially-written dates are re-written wholesale (dynamic
  partition overwrite), so the sink is idempotent at date granularity —
  the same determinism-first discipline as the reference's fixture-driven
  pipeline, minus its RNG trap.

The reference has no distribution story at all (SURVEY §2.9, §4) — this
module is where our engine earns the 10^12-document claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.config import HOST_HASH_BUCKETS, HOT_HOST_SALT


def with_partition_keys(extracted: DataFrame) -> DataFrame:
    """Adds crawl_date / host_bucket / salt columns from (url, warc_ts)."""
    from ocr_spark.functions import salt_of_url, url_host_bucket

    return (
        extracted.withColumn("crawl_date", F.to_date("warc_ts"))
        .withColumn("host_bucket", url_host_bucket("url", HOST_HASH_BUCKETS))
        .withColumn("salt", salt_of_url("url", HOT_HOST_SALT))
    )


def lineage_metrics(keyed: DataFrame) -> DataFrame:
    """Per-(crawl_date, host_bucket) audit row: counts, bytes, checksum."""
    return keyed.groupBy("crawl_date", "host_bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.octet_length("extracted_text")).alias("n_bytes"),
        F.bit_xor(F.xxhash64("url", "extracted_text")).alias("checksum"),
    )


def verify_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Audit: recompute per-partition metrics from the data and anti-match
    them against the stored lineage. Returns the discrepancy rows
    (empty DataFrame = table verified) — the operational check run after
    any resume/backfill, and the integrity half of checkpoint recovery.
    """
    data = spark.read.parquet(f"{out_dir}/data")
    stored = spark.read.parquet(f"{out_dir}/_lineage").select(
        "crawl_date", "host_bucket", "n_rows", "n_bytes", "checksum"
    )
    recomputed = lineage_metrics(data)
    cols = ["crawl_date", "host_bucket", "n_rows", "n_bytes", "checksum"]
    return stored.select(cols).exceptAll(recomputed.select(cols)).unionByName(
        recomputed.select(cols).exceptAll(stored.select(cols))
    )


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    try:
        return spark.read.parquet(f"{out_dir}/_manifest")
    except Exception:
        return None  # first run: no manifest yet


def _partition_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check (works on local FS and any cluster FS)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def extract_and_write(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    resume: bool = True,
    max_dates_per_write: int | None = 30,
) -> dict:
    """Full production job: extract → salt-partitioned write → lineage →
    manifest commit, resumable at crawl_date granularity.

    Pending dates are written in BATCHES of ``max_dates_per_write``
    (default 30 — about a month per commit, so a crash late in a 365-date
    backfill loses at most one month's work, not the whole run; an
    unconfigured long backfill must not silently adopt the riskiest
    granularity). The commit unit stays the crawl_date: manifest rows are
    per-date, and a crash mid-batch commits nothing for that batch, so
    restart re-extracts exactly the uncommitted dates (idempotent — the
    dynamic overwrite replaces any partial partitions). Raise
    ``max_dates_per_write`` (or pass ``None`` for one all-dates job: one
    data write, one lineage write, one manifest append) when per-job
    fixed costs dominate and the operator accepts the crash-loss window.

    Returns {"dates_processed": [...], "dates_skipped": [...]}.
    """
    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sinks.tableio import write_table

    # dynamic overwrite: re-running a partially-committed date replaces
    # only that date's directories, making the job idempotent
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    keyed_input = pages.withColumn("crawl_date", F.to_date("warc_ts"))
    all_dates = sorted(
        r.crawl_date
        for r in keyed_input.select("crawl_date").distinct().collect()
    )
    if resume:
        # resume = input dates ANTI manifest dates; the input was already
        # scanned once above, so only the (tiny) manifest is read here
        manifest = read_manifest(spark, out_dir)
        committed = (
            {r.crawl_date for r in manifest.select("crawl_date").collect()}
            if manifest is not None
            else set()
        )
        todo = [d for d in all_dates if d not in committed]
    else:
        todo = all_dates
    skipped = [d for d in all_dates if d not in set(todo)]

    step = max_dates_per_write or max(len(todo), 1)
    for at in range(0, len(todo), step):
        chunk = todo[at : at + step]
        chunk_pages = keyed_input.filter(
            F.col("crawl_date").isin(chunk)
        ).drop("crawl_date")
        keyed = with_partition_keys(extract_pages(chunk_pages))
        # salt in the exchange, not the layout (see module docstring)
        write_table(
            keyed.repartition("crawl_date", "host_bucket", "salt").drop("salt"),
            f"{out_dir}/data",
            ["crawl_date", "host_bucket"],
            mode="overwrite_partitions",
        )
        # lineage + manifest commit AFTER the data write returns. Lineage
        # is dynamic-overwritten BY DATE (not appended): a crash between
        # the lineage and manifest writes re-runs the chunk on restart,
        # and the rewrite replaces those dates' lineage rows instead of
        # duplicating them — audits stay exactly-once. Zero-row dates
        # write no data directory at all (nothing to audit), detected
        # EXPLICITLY via the filesystem — any other lineage-write failure
        # (disk full, permissions, schema) must propagate, or the dates
        # would be committed with their audit trail silently missing.
        audited = [
            d
            for d in chunk
            if _partition_exists(spark, f"{out_dir}/data/crawl_date={d}")
        ]
        if audited:
            out_keyed = spark.read.parquet(f"{out_dir}/data").filter(
                F.col("crawl_date").isin(audited)
            )
            write_table(
                lineage_metrics(out_keyed).withColumn(
                    "committed_at", F.current_timestamp()
                ),
                f"{out_dir}/_lineage",
                ["crawl_date"],
                mode="overwrite_partitions",
            )
        spark.createDataFrame(
            [(d,) for d in chunk], "crawl_date date"
        ).withColumn("committed_at", F.current_timestamp()).write.mode(
            "append"
        ).parquet(f"{out_dir}/_manifest")

    return {"dates_processed": todo, "dates_skipped": skipped}
