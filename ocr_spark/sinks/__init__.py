from ocr_spark.sinks.partitioned import (  # noqa: F401
    committed_dates,
    extract_and_write,
    lineage_metrics,
    with_partition_keys,
)
