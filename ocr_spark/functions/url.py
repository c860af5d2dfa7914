"""URL canonicalization column expressions (crawl dedup prerequisite).

The same document commonly appears under many URL spellings: http vs
https, uppercase hosts, default ports, trailing slashes, fragments, and
tracking query parameters. ``canonical_url`` normalizes all of these with
built-in regexp expressions (JVM-side, codegen) so URL-level dedup
(``streaming.drop_recrawls``) keys on one column — the cheapest dedup
tier, run before any content hashing.

Steps (order matters):
1. scheme → lowercase, http:// and https:// unified to https://
2. host → lowercase; default :80/:443 port stripped
3. fragment (#...) dropped
4. tracking params (utm_*, fbclid, gclid, ref) dropped; a trailing lone
   '?' dropped
5. trailing '/' stripped (except the bare host root)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# param-name boundary: the lookbehind pins the match to a parameter START
# (right after ? or &) so 'href=' / 'xutm_a=' can never be misread as
# tracking params
_TRACKING = r"(?:utm_[a-z]+|fbclid|gclid|msclkid|ref)=[^&#]*"


def canonical_url(col: str | Column = "url") -> Column:
    raw = F.col(col) if isinstance(col, str) else col
    # only http(s) URLs are canonicalized; other schemes (dns:, ftp:,
    # mailto: — all present in real WARC Target-URIs) pass through verbatim
    c = F.regexp_replace(raw, r"(?i)^https?://", "https://")
    # lowercase the host portion only; strip default ports
    host = F.lower(F.regexp_extract(c, r"^https://([^/?#]+)", 1))
    host = F.regexp_replace(host, r":(?:80|443)$", "")
    rest = F.regexp_replace(c, r"^https://[^/?#]+", "")
    c = F.concat(F.lit("https://"), host, rest)
    # drop fragment
    c = F.regexp_replace(c, r"#.*$", "")
    # drop tracking params: non-trailing ones keep their leading separator
    # for the next param (lookbehind, not consumed — handles runs), then a
    # trailing one goes together with its separator
    c = F.regexp_replace(c, r"(?<=[?&])" + _TRACKING + r"&", "")
    c = F.regexp_replace(c, r"[?&]" + _TRACKING + r"$", "")
    c = F.regexp_replace(c, r"\?$", "")
    # strip trailing slash (not the root's)
    c = F.regexp_replace(c, r"(https://[^/]+/.+?)/$", "$1")
    return F.when(raw.rlike(r"(?i)^https?://"), c).otherwise(raw)

