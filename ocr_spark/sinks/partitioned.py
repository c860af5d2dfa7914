"""Partitioned output sink: (crawl-date bucket, url-host hash) layout,
hot-host salting, per-partition lineage metrics, checkpoint resume.

North-rule scale plumbing (SURVEY §7 M5). Layout:

    out_dir/
      data/crawl_date=YYYY-MM-DD/host_bucket=NN/part-*.parquet
      _lineage/crawl_date=YYYY-MM-DD/   per-(date, bucket) rows/bytes/checksum
                                        rows; the directory is the date's commit

Design decisions, written for the 1000-executor case:

* **Partition keys.** ``crawl_date = date(warc_ts)`` (time pruning) ×
  ``host_bucket = pmod(xxhash64(host), HOST_HASH_BUCKETS)`` (bounded
  directory fan-out regardless of distinct-host cardinality — hosts are
  ~10^8 at crawl scale, buckets stay at HOST_HASH_BUCKETS).
* **Salting.** The write exchange is ``repartition(tasks, crawl_date,
  host_bucket, salt)`` with ``tasks`` the context's default parallelism
  and ``salt = pmod(xxhash64(url), salts)``. A fixed partition count is
  never merged by AQE, so every core writes. ``salts`` is sized from the
  input's per-directory row counts (``write_salts``): a directory is
  split only when it alone holds more than one writer task's share of
  the chunk, over at most HOT_HOST_SALT tasks. A hot host (half of a
  date in ``tests/test_skew.py``) then spreads over several writer tasks
  instead of serializing one, while its rows still land in the same
  directory partition: salt changes task placement, never layout. When
  no directory holds more than a task's share, the salt is 1 and each
  directory is written by one task, as one file.
* **Lineage.** Per (crawl_date, host_bucket): row count, byte count, and
  an order-insensitive checksum (``bit_xor(xxhash64(url, text))`` —
  commutative and overflow-free under ANSI mode, so partition-internal
  ordering is free to vary). Computed from the rows the job meant to
  write (the persisted keyed extraction output, not a read back of the
  table) and dynamic-overwritten into ``_lineage`` by date, so a
  rewrite replaces a date's audit rows instead of duplicating them.
  ``verify_lineage`` therefore compares what is on disk against intent.
* **Resume.** The commit unit is a chunk of up to MAX_DATES_PER_WRITE (30)
  pending crawl_dates, about a month: one data write, then one lineage
  write. A crash late in a 365-date backfill loses at most that chunk.
  ``_lineage/crawl_date=D`` is the commit record: Spark moves it into
  place at the lineage job's commit, after the data write has returned,
  so if it exists the date is complete. Restart re-runs only ``pending
  = input dates minus committed_dates``. A chunk's dates are re-written
  wholesale: lineage then data ``crawl_date=D`` directories are deleted
  first (so a rewrite killed before its commit leaves the date pending),
  then written with dynamic partition overwrite, set per write, never on
  the session. A run with pending dates first deletes every
  ``.spark-staging-*`` directory under ``data/`` and ``_lineage/`` (the
  partial output of a write killed mid-job), which assumes one writer
  per ``out_dir`` at a time: a second concurrent writer's staging would
  be deleted under it. The sink is idempotent at date granularity — the
  same determinism-first discipline as the reference's fixture-driven
  pipeline, minus its RNG trap.
* **Format.** Hive-style partitioned parquet, one write path. A catalog
  table sink (Iceberg) waits until an Iceberg runtime ships with the
  engine (SURVEY §7).

The reference has no distribution story at all (SURVEY §2.9, §4) — this
module is where our engine earns the 10^12-document claim.
"""

from __future__ import annotations

from datetime import date

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.config import HOST_HASH_BUCKETS, HOT_HOST_SALT

MAX_DATES_PER_WRITE = 30  # dates per commit (see module docstring)
LINEAGE_COLS = ["crawl_date", "host_bucket", "n_rows", "n_bytes", "checksum"]


def write_salts(dir_rows: list[int], tasks: int) -> int:
    """Salt values for a write of ``tasks`` writer tasks whose directories
    hold ``dir_rows`` rows: a directory is split only when it alone holds
    more than one task's share of the write, over at most HOT_HOST_SALT
    tasks."""
    # ceil(max / (sum / tasks)) in integers
    return min(HOT_HOST_SALT, max(1, -(-max(dir_rows) * tasks // sum(dir_rows))))


def with_partition_keys(extracted: DataFrame, salts: int = HOT_HOST_SALT) -> DataFrame:
    """Adds crawl_date / host_bucket / salt columns from (url, warc_ts)."""
    from ocr_spark.functions import salt_of_url, url_host_bucket

    return (
        extracted.withColumn("crawl_date", F.to_date("warc_ts"))
        .withColumn("host_bucket", url_host_bucket("url", HOST_HASH_BUCKETS))
        .withColumn("salt", salt_of_url("url", salts))
    )


def lineage_metrics(keyed: DataFrame) -> DataFrame:
    """Per-(crawl_date, host_bucket) audit row: counts, bytes, checksum.

    ``host_bucket`` is cast to int, the type the table's directories read
    back as, so lineage rows have one schema whether they come from the
    keyed rows or from the table."""
    return keyed.groupBy(
        "crawl_date", F.col("host_bucket").cast("int").alias("host_bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.octet_length("extracted_text")).alias("n_bytes"),
        F.bit_xor(F.xxhash64("url", "extracted_text")).alias("checksum"),
    )


def verify_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Audit: recompute per-partition metrics from the data and match them
    against the stored lineage. Returns the discrepancy rows (empty
    DataFrame = table verified) — the operational check run after any
    resume/backfill, and the integrity half of checkpoint recovery.

    One pass: stored rows count +1 and recomputed rows -1, grouped on
    every column; a group whose sum is not 0 is repeated |sum| times. That
    is the multiset ``stored - recomputed`` plus ``recomputed - stored``
    (two ``exceptAll``), with the data scanned once.
    """
    stored = spark.read.parquet(f"{out_dir}/_lineage").select(
        *LINEAGE_COLS, F.lit(1).alias("w")
    )
    recomputed = lineage_metrics(spark.read.parquet(f"{out_dir}/data")).select(
        *LINEAGE_COLS, F.lit(-1).alias("w")
    )
    return (
        stored.unionByName(recomputed)
        .groupBy(*LINEAGE_COLS)
        .agg(F.sum("w").alias("w"))
        .filter(F.col("w") != 0)
        .select(*LINEAGE_COLS, F.explode(F.array_repeat(F.lit(1), F.abs("w").cast("int"))))
        .select(*LINEAGE_COLS)
    )


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — local FS or any cluster FS."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def committed_dates(spark: SparkSession, out_dir: str) -> set[date]:
    """The committed dates: one per ``_lineage/crawl_date=D`` directory.

    Lists the directory without running a Spark job. A kill mid-write
    leaves only hidden ``_temporary/`` or ``.spark-staging-*`` entries,
    which are not ``crawl_date=`` directories and so never count.
    """
    fs, jpath = _fs_path(spark, f"{out_dir}/_lineage")
    if not fs.exists(jpath):
        return set()
    names = (st.getPath().getName() for st in fs.listStatus(jpath))
    return {
        date.fromisoformat(n.removeprefix("crawl_date="))
        for n in names
        if n.startswith("crawl_date=")
    }


def extract_and_write(
    spark: SparkSession, pages: DataFrame, out_dir: str, resume: bool = True
) -> dict:
    """Full production job: extract → salt-partitioned write → lineage
    commit, resumable at crawl_date granularity.

    Pending dates are committed in chunks of MAX_DATES_PER_WRITE (see the
    module docstring). Raises ValueError before any write when a page has
    no ``warc_ts``, since its rows would have no date to commit under.

    Returns {"dates_processed": [...], "dates_skipped": [...]}.
    """
    from ocr_spark.functions import url_host_bucket
    from ocr_spark.operators.extract_html import extract_pages

    keyed_input = pages.withColumn("crawl_date", F.to_date("warc_ts"))
    # one job: rows per (crawl_date, host_bucket) directory, which gives
    # the input dates and sizes each chunk's write exchange
    dir_rows: dict[date | None, list[int]] = {}
    for r in (
        keyed_input.groupBy("crawl_date", url_host_bucket("url", HOST_HASH_BUCKETS))
        .count()
        .collect()
    ):
        dir_rows.setdefault(r.crawl_date, []).append(r["count"])
    if None in dir_rows:
        raise ValueError("pages with a null warc_ts have no crawl_date to commit")
    all_dates = sorted(dir_rows)
    if resume:
        committed = committed_dates(spark, out_dir)
        todo = [d for d in all_dates if d not in committed]
    else:
        todo = all_dates
    skipped = [d for d in all_dates if d not in set(todo)]

    if todo:  # staging left by killed writes (single writer assumed)
        for tree in ("data", "_lineage"):
            fs, staged = _fs_path(spark, f"{out_dir}/{tree}/.spark-staging-*")
            # globStatus returns null, not an empty array, on some filesystems
            for st in fs.globStatus(staged) or []:
                fs.delete(st.getPath(), True)

    tasks = spark.sparkContext.defaultParallelism
    for at in range(0, len(todo), MAX_DATES_PER_WRITE):
        chunk = todo[at : at + MAX_DATES_PER_WRITE]
        chunk_pages = keyed_input.filter(
            F.col("crawl_date").isin(chunk)
        ).drop("crawl_date")
        salts = write_salts([n for d in chunk for n in dir_rows[d]], tasks)
        keyed = with_partition_keys(extract_pages(chunk_pages), salts)
        # replace each date wholesale: dynamic overwrite replaces only the
        # (date, bucket) directories this write produces, so a rewrite
        # from smaller input would leave the old rows in the other
        # buckets. The commit record goes first, so a rewrite killed
        # from here on leaves the date pending and resume re-runs it.
        for d in chunk:
            for tree in ("_lineage", "data"):
                fs, jpath = _fs_path(spark, f"{out_dir}/{tree}/crawl_date={d}")
                fs.delete(jpath, True)
        # the lineage is computed from the rows written, so the extraction
        # output is kept for it instead of read back from the table
        keyed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # salt in the exchange, not the layout (see module docstring)
            (
                keyed.repartition(tasks, "crawl_date", "host_bucket", "salt")
                .drop("salt")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("crawl_date", "host_bucket")
                .parquet(f"{out_dir}/data")
            )
            # the lineage write is the commit, AFTER the data write returns.
            # Every page yields one row, so every date of the chunk gets a
            # lineage directory.
            (
                lineage_metrics(keyed)
                .withColumn("committed_at", F.current_timestamp())
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("crawl_date")
                .parquet(f"{out_dir}/_lineage")
            )
        finally:
            keyed.unpersist()

    return {"dates_processed": todo, "dates_skipped": skipped}
