from ocr_spark.streaming.extract_stream import (  # noqa: F401
    drop_recrawls,
    read_events_stream,
    read_pages_stream,
    stream_event_counts,
    stream_to_parquet,
)
