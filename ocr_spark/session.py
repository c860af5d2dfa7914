"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB / 1000-executor target and merely
*also* works on ``local[32]``:

* AQE on (runtime coalesce + skew-join splitting) — the engine-level answer
  to skewed hosts/pages the north rule calls out.
* Arrow enabled with a bounded batch size — our heavy kernels are
  iterator-style pandas UDFs; batch size bounds peak memory per task the way
  the reference bounds recognition batches at 12
  (``/root/reference/config.py:7``).
* ``shuffle.partitions`` defaults sized for local mode; on a real cluster
  AQE coalesces from a high initial number, so we set the *initial* high and
  let AQE shrink.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """One session factory for tests, benches and the spark-submit job.

    ``master=None`` under spark-submit (the launcher sets
    ``PYSPARK_GATEWAY_PORT``) leaves the master to the launcher's
    ``--master``; elsewhere it falls back to ``SPARK_GRAFT_MASTER``, then
    ``local[SPARK_GRAFT_CPUS or *]``. An explicit ``master`` always wins."""
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = os.environ.get("SPARK_GRAFT_MASTER") or (
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
        )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    b = (
        SparkSession.builder.appName(app_name)
        # --- adaptive execution: runtime partition coalescing + skew splits
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow path for all pandas UDFs; bounded batches = bounded task memory
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # --- scan sizing: at 100 TB, 128 MB splits keep ~800k tasks, fine for AQE
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # wide-blob columnar batches: html blobs at ~10 KB/row make the
        # default 4096-row reader batch reserve tens of MB contiguously per
        # column; 512 bounds it (observed OOM-abort at 320k pages otherwise)
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # --- broadcast joins for dimension tables
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # static conf: warehouse for bucketed saveAsTable (co-located joins)
        .config("spark.sql.warehouse.dir", "/tmp/ocr_spark_warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
