from ocr_spark.sinks.partitioned import (  # noqa: F401
    extract_and_write,
    lineage_metrics,
    read_manifest,
    with_partition_keys,
)
