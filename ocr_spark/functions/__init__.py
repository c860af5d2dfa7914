from ocr_spark.functions.text import (  # noqa: F401
    host_of_url,
    salt_of_url,
    url_host_bucket,
)
from ocr_spark.functions.url import canonical_url  # noqa: F401
