"""TableIO seam: Iceberg when the runtime is on the classpath, partitioned
parquet otherwise — identical partition spec and write semantics either way.

The north rule targets an Iceberg table keyed by (crawl-date bucket,
url-host hash). This sandbox ships no iceberg-spark-runtime jar, so the
seam (SURVEY §7 "Iceberg in sandbox" risk) keeps every caller
format-agnostic: `write_table` takes a logical identifier;
with Iceberg present the identifier is a catalog table and writes go
through `writeTo(...)` (hidden-partition `days(warc_ts)` / `bucket(N,
host)` transforms, snapshot isolation, atomic commit); without it, the
identifier is a path and the same columns become hive-style directory
partitions with dynamic partition overwrite. The manifest/lineage logic
in `partitioned.py` is format-independent on purpose — under Iceberg it
becomes redundant with snapshot metadata but stays correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame,
    identifier: str,
    partition_cols: list[str],
    mode: str = "overwrite_partitions",
) -> None:
    """Write with the engine's partition spec.

    mode: 'append' | 'overwrite_partitions' (dynamic: only the partitions
    present in df are replaced — the idempotent-resume write).
    """
    spark = df.sparkSession
    if iceberg_available(spark) and "/" not in identifier:
        writer = df.writeTo(identifier)
        if mode == "append":
            writer.append()
        else:
            writer.overwritePartitions()
        return
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        df.write.mode("append" if mode == "append" else "overwrite")
        .partitionBy(*partition_cols)
        .parquet(identifier)
    )
