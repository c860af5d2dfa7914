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
  ordering is free to vary). Read back from the written data and
  dynamic-overwritten into ``_lineage`` by date, so a rewrite replaces a
  date's audit rows instead of duplicating them.
* **Resume.** The commit unit is a chunk of up to MAX_DATES_PER_WRITE (30)
  pending crawl_dates, about a month: one data write, one lineage write,
  then one ``_manifest`` append of the chunk's dates. A crash late in a
  365-date backfill loses at most that chunk. Restart recomputes
  ``pending = input dates ANTI JOIN manifest`` and re-runs only those;
  each date of a chunk is re-written wholesale (its ``crawl_date=D``
  directory is deleted, then written with dynamic partition overwrite,
  set per write, never on the session), so the sink is idempotent at
  date granularity — the same determinism-first discipline
  as the reference's fixture-driven pipeline, minus its RNG trap.
* **Format.** Hive-style partitioned parquet, one write path. A catalog
  table sink (Iceberg) waits until an Iceberg runtime ships with the
  engine (SURVEY §7).

The reference has no distribution story at all (SURVEY §2.9, §4) — this
module is where our engine earns the 10^12-document claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.config import HOST_HASH_BUCKETS, HOT_HOST_SALT

MAX_DATES_PER_WRITE = 30  # dates per commit (see module docstring)


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


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — local FS or any cluster FS."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_path(spark, path)
    return bool(fs.exists(jpath))


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The committed dates, or None on a first run (no ``_manifest`` yet).

    The explicit schema makes a manifest that holds only ``_temporary/``
    (a kill during the first append) read as zero committed dates; any
    other read error, such as a corrupt part file, raises.
    """
    path = f"{out_dir}/_manifest"
    if not _path_exists(spark, path):
        return None
    return spark.read.schema("crawl_date date, committed_at timestamp").parquet(path)


def extract_and_write(
    spark: SparkSession, pages: DataFrame, out_dir: str, resume: bool = True
) -> dict:
    """Full production job: extract → salt-partitioned write → lineage →
    manifest commit, resumable at crawl_date granularity.

    Pending dates are committed in chunks of MAX_DATES_PER_WRITE (see the
    module docstring). Raises ValueError before any write when a page has
    no ``warc_ts``, since its rows would have no date to commit under.

    Returns {"dates_processed": [...], "dates_skipped": [...]}.
    """
    from ocr_spark.operators.extract_html import extract_pages

    keyed_input = pages.withColumn("crawl_date", F.to_date("warc_ts"))
    input_dates = {
        r.crawl_date for r in keyed_input.select("crawl_date").distinct().collect()
    }
    if None in input_dates:
        raise ValueError("pages with a null warc_ts have no crawl_date to commit")
    all_dates = sorted(input_dates)
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

    for at in range(0, len(todo), MAX_DATES_PER_WRITE):
        chunk = todo[at : at + MAX_DATES_PER_WRITE]
        chunk_pages = keyed_input.filter(
            F.col("crawl_date").isin(chunk)
        ).drop("crawl_date")
        keyed = with_partition_keys(extract_pages(chunk_pages))
        # replace each date wholesale: dynamic overwrite replaces only the
        # (date, bucket) directories this write produces, so a rewrite
        # from smaller input would leave the old rows in the other
        # buckets. A pending date killed after the delete re-runs on
        # resume; a committed date rewritten with resume=False and killed
        # here is left empty, which verify_lineage reports.
        for d in chunk:
            fs, jpath = _fs_path(spark, f"{out_dir}/data/crawl_date={d}")
            fs.delete(jpath, True)
        # salt in the exchange, not the layout (see module docstring)
        (
            keyed.repartition("crawl_date", "host_bucket", "salt")
            .drop("salt")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("crawl_date", "host_bucket")
            .parquet(f"{out_dir}/data")
        )
        # lineage + manifest commit AFTER the data write returns. Lineage
        # is dynamic-overwritten BY DATE (not appended): a crash between
        # the lineage and manifest writes re-runs the chunk on restart,
        # and the rewrite replaces those dates' lineage rows instead of
        # duplicating them — audits stay exactly-once. Every page yields
        # one row, so every date of the chunk has data to audit.
        out_keyed = spark.read.parquet(f"{out_dir}/data").filter(
            F.col("crawl_date").isin(chunk)
        )
        (
            lineage_metrics(out_keyed)
            .withColumn("committed_at", F.current_timestamp())
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("crawl_date")
            .parquet(f"{out_dir}/_lineage")
        )
        spark.createDataFrame(
            [(d,) for d in chunk], "crawl_date date"
        ).withColumn("committed_at", F.current_timestamp()).write.mode(
            "append"
        ).parquet(f"{out_dir}/_manifest")

    return {"dates_processed": todo, "dates_skipped": skipped}
