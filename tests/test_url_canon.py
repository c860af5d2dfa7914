"""URL canonicalization + bucketed co-located join."""

from __future__ import annotations

from ocr_spark.functions.url import canonical_url

CASES = [
    ("HTTP://Example.COM/path/", "https://example.com/path"),
    ("https://example.com:443/path", "https://example.com/path"),
    ("http://example.com:80/", "https://example.com/"),
    ("https://example.com/a?utm_source=x&id=1", "https://example.com/a?id=1"),
    ("https://example.com/a?id=1&utm_campaign=y", "https://example.com/a?id=1"),
    ("https://example.com/a?utm_source=x", "https://example.com/a"),
    ("https://example.com/a#section-2", "https://example.com/a"),
    ("https://example.com/a?fbclid=abc#frag", "https://example.com/a"),
    ("https://EXAMPLE.com/CaseKeptInPath", "https://example.com/CaseKeptInPath"),
    ("https://example.com/x?id=1&gclid=z&b=2", "https://example.com/x?id=1&b=2"),
]


def test_canonical_url_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in CASES], "url string")
    got = [r.c for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [e for _, e in CASES]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Pre-bucketing both join sides on the key removes the exchange —
    the co-located-join technique the 100 TB plan relies on."""
    from ocr_spark.plans.inspect import count_exchanges

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.select("doc_id", "lang").write.bucketBy(8, "doc_id").sortBy(
        "doc_id"
    ).mode("overwrite").saveAsTable("t_left")
    docs.select("doc_id", "n_chars").write.bucketBy(8, "doc_id").sortBy(
        "doc_id"
    ).mode("overwrite").saveAsTable("t_right")
    l = spark.table("t_left")
    r = spark.table("t_right")
    joined = l.join(r, "doc_id")
    assert count_exchanges(joined) == 0, "bucketed join must not shuffle"
    assert joined.count() == docs.count()
    # the unbucketed equivalent DOES shuffle — the control
    lu = docs.select("doc_id", "lang")
    ru = docs.select("doc_id", "n_chars")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert count_exchanges(lu.join(ru, "doc_id")) >= 1
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS t_left")
        spark.sql("DROP TABLE IF EXISTS t_right")


def test_canonical_url_boundary_and_scheme_cases(spark):
    cases = [
        # href= / xutm_ must NOT be treated as tracking params
        ("https://x.com/?href=abc&b=1", "https://x.com/?href=abc&b=1"),
        ("https://x.com/?xutm_a=1&b=2", "https://x.com/?xutm_a=1&b=2"),
        # runs of tracking params
        ("https://x.com/?utm_a=1&utm_b=2&id=3", "https://x.com/?id=3"),
        ("https://x.com/?utm_a=1&utm_b=2", "https://x.com/"),  # root slash kept
        # non-http schemes pass through verbatim
        ("dns:example.com", "dns:example.com"),
        ("ftp://example.com/x", "ftp://example.com/x"),
        ("mailto:me@example.com", "mailto:me@example.com"),
    ]
    from ocr_spark.functions.url import canonical_url

    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [e for _, e in cases]
