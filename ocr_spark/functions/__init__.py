from ocr_spark.functions.text import (  # noqa: F401
    host_of_url,
    quality_expr,
    salt_of_url,
    url_host_bucket,
)
from ocr_spark.functions.url import canonical_url, dedup_by_url  # noqa: F401
