"""Public scalar-expression library: reusable column builders.

Everything here returns a ``pyspark.sql.Column`` built from built-in
functions only — JVM-side, codegen-friendly, usable in any DataFrame
pipeline. These are the engine's equivalents of the reference's scalar
function layer (SURVEY §2.7): url host extraction, hashing, and the
partition-key derivations used by the sink. The quality score is
``operators.textstats.quality_cols``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ocr_spark.config import HOST_HASH_BUCKETS, HOT_HOST_SALT


def host_of_url(col: str | Column = "url") -> Column:
    """Host component of a url column (scheme-agnostic)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"^[a-z]+://([^/]+)", 1)


def url_host_bucket(col: str | Column = "url", buckets: int = HOST_HASH_BUCKETS) -> Column:
    """Bounded host-hash bucket — the sink's directory partition key."""
    return F.pmod(F.xxhash64(host_of_url(col)), F.lit(buckets))


def salt_of_url(col: str | Column = "url", salts: int = HOT_HOST_SALT) -> Column:
    """Write-exchange salt: spreads a hot host over ``salts`` tasks."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(salts))
