"""WARC connector: round-trip through plain and gzip archives, then the
full extraction pipeline over WARC input."""

from __future__ import annotations

import datetime

import duckdb
import pyspark.sql.functions as F
import pytest

from ocr_spark.kernels.synth import url_for_doc, wrap_html
from ocr_spark.sources.warc import parse_warc, read_warc, write_warc

SF = "/root/testdata/sf0.001"


def _records(n=40):
    rows = duckdb.sql(
        f"SELECT doc_id, text, source FROM '{SF}/documents.parquet' "
        f"WHERE doc_id < {n}"
    ).fetchall()
    recs = []
    for doc_id, text, source in rows:
        url = url_for_doc(doc_id, source)
        recs.append(
            {
                "url": url,
                "warc_ts": "2024-01-01T00:00:00Z",
                "html": wrap_html(text, url),
                "text": text,
            }
        )
    return recs


@pytest.mark.parametrize("compress", [False, True], ids=["plain", "gzip"])
def test_warc_roundtrip(spark, tmp_path, compress):
    recs = _records()
    path = str(tmp_path / ("a.warc.gz" if compress else "a.warc"))
    write_warc(path, recs, compress=compress)

    # kernel-level parse
    with open(path, "rb") as f:
        parsed = parse_warc(f.read(), compress)
    assert len(parsed) == len(recs)
    assert {p["url"] for p in parsed} == {r["url"] for r in recs}
    by_url = {p["url"]: p["html"] for p in parsed}
    for r in recs:
        assert by_url[r["url"]] == r["html"]  # byte-identical payloads

    # Spark source → extraction → byte-identical text
    pages = read_warc(spark, path)
    assert pages.count() == len(recs)
    from ocr_spark.operators.extract_html import extract_pages

    got = {
        r.url: r.extracted_text for r in extract_pages(pages).collect()
    }
    for r in recs:
        assert got[r["url"]] == r["text"]
    ts = pages.select("warc_ts").first().warc_ts
    assert ts == datetime.datetime(2024, 1, 1, 0, 0, 0)


def test_warc_skips_non_response_and_garbage(spark, tmp_path):
    recs = _records(5)
    path = str(tmp_path / "b.warc")
    write_warc(path, recs)
    with open(path, "ab") as f:
        # a metadata record and trailing garbage must both be skipped
        f.write(
            b"WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Target-URI: x://m\r\n"
            b"Content-Length: 3\r\n\r\nabc\r\n\r\n"
        )
        f.write(b"\x00\xffgarbage not a warc record at all")
    with open(path, "rb") as f:
        parsed = parse_warc(f.read(), False)
    assert len(parsed) == 5
    assert all(p["url"].startswith("https://") for p in parsed)


def test_warc_truncation_fuzz():
    """Every byte-truncation of a valid archive parses a prefix of its
    records without crashing (truncated WARC segments are routine)."""
    recs = _records(6)
    import io

    from ocr_spark.sources.warc import write_warc

    import tempfile, os
    with tempfile.NamedTemporaryFile(suffix=".warc", delete=False) as f:
        path = f.name
    write_warc(path, recs)
    data = open(path, "rb").read()
    os.unlink(path)
    full = parse_warc(data, False)
    urls = [r["url"] for r in full]
    for cut in range(0, len(data), 97):
        part = parse_warc(data[:cut], False)
        assert [r["url"] for r in part] == urls[: len(part)]
        assert len(part) <= len(full)


def test_warc_gzip_corruption_returns_empty():
    assert parse_warc(b"\x1f\x8b" + b"\x00" * 64, True) == []
    assert parse_warc(b"not gzip at all", True) == []


def test_gzip_one_corrupt_member_loses_only_itself():
    import gzip as _gz

    recs = _records(4)
    members = []
    for i, r in enumerate(recs):
        http = b"HTTP/1.1 200 OK\r\n\r\n" + r["html"]
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Target-URI: {r['url']}\r\n".encode()
            + f"WARC-Date: {r['warc_ts']}\r\n".encode()
            + f"Content-Length: {len(http)}\r\n\r\n".encode()
            + http
            + b"\r\n\r\n"
        )
        m = _gz.compress(rec)
        if i == 1:  # corrupt the second member's deflate stream
            m = m[:20] + b"\x00\x00\x00\x00" + m[24:]
        members.append(m)
    parsed = parse_warc(b"".join(members), True)
    got = {p["url"] for p in parsed}
    assert recs[0]["url"] in got and recs[2]["url"] in got and recs[3]["url"] in got
    assert len(parsed) == 3


def test_http_chunked_and_gzip_payloads():
    import gzip as _gz

    html = b"<body><p>the content of a chunked gzip page with enough words</p></body>"
    # chunked framing
    chunked = (
        hex(len(html[:20]))[2:].encode() + b"\r\n" + html[:20] + b"\r\n"
        + hex(len(html[20:]))[2:].encode() + b"\r\n" + html[20:] + b"\r\n"
        + b"0\r\n\r\n"
    )
    body_c = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + chunked
    body_g = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + _gz.compress(html)
    )
    recs = []
    for i, body in enumerate((body_c, body_g)):
        recs.append(
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Target-URI: https://t/{i}\r\n".encode()
            + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
            + b"\r\n\r\n"
        )
    parsed = parse_warc(b"".join(recs), False)
    assert len(parsed) == 2
    assert parsed[0]["html"] == html and parsed[1]["html"] == html


def test_utf8_iri_target_uri_roundtrip(tmp_path):
    from ocr_spark.sources.warc import write_warc

    url = "https://example.com/café/中文"
    path = str(tmp_path / "iri.warc")
    write_warc(
        path,
        [{"url": url, "warc_ts": "2024-01-01T00:00:00Z", "html": b"<p>x words here ok</p>"}],
    )
    parsed = parse_warc(open(path, "rb").read(), False)
    assert parsed[0]["url"] == url


def test_warc_fixture_contract_roundtrip(spark, tmp_path, monkeypatch):
    """The contract front door: warc_fixture materializes the documents
    table as member-gzipped multi-file WARC, read_warc + extract_pages
    recover every url with byte-identical text, and the fixture cache
    reuses the built crawl on the second call."""
    import os

    import pyspark.sql.functions as F

    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.warc import read_warc, warc_fixture

    monkeypatch.setenv("SPARK_GRAFT_FIXTURE_CACHE", str(tmp_path))
    sf = "/root/testdata/sf0.001"
    path = warc_fixture(spark, sf, n_files=4)
    files = [f for f in os.listdir(path) if f.endswith(".warc.gz")]
    assert len(files) >= 2  # genuinely multi-file
    assert warc_fixture(spark, sf, n_files=4) == path  # cache hit

    pages = read_warc(spark, path + "/*.warc.gz")
    out = extract_pages(pages).select("url", "extracted_text")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    from ocr_spark.kernels.synth import url_for_doc

    expected = {
        url_for_doc(r.doc_id, r.source): r.text
        for r in docs.select("doc_id", "source", "text").collect()
    }
    got = {r.url: r.extracted_text for r in out.collect()}
    assert got == expected
    # WARC-Date survives the header parse: every page has a timestamp
    assert pages.filter(F.col("warc_ts").isNull()).count() == 0


def test_warc_streaming_twin_and_incremental_resume(spark, tmp_path, monkeypatch):
    """The streaming WARC source under the batch extraction equals the
    batch path, and a second AvailableNow run after new archives land
    processes ONLY the new files (checkpoint resume — the continuous-crawl
    contract)."""
    import os
    import shutil

    from ocr_spark.operators.extract_html import extract_pages
    from ocr_spark.sources.warc import read_warc, read_warc_stream, warc_fixture
    from ocr_spark.streaming.extract_stream import stream_to_parquet

    monkeypatch.setenv("SPARK_GRAFT_FIXTURE_CACHE", str(tmp_path / "cache"))
    sf = "/root/testdata/sf0.001"
    built = warc_fixture(spark, sf, n_files=4)
    warc_dir = str(tmp_path / "landing")
    os.makedirs(warc_dir)
    files = sorted(f for f in os.listdir(built) if f.endswith(".warc.gz"))
    assert len(files) >= 2
    # first drop: all but one archive
    for f in files[:-1]:
        shutil.copy(os.path.join(built, f), warc_dir)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    def start():
        pages = read_warc_stream(spark, warc_dir)
        return stream_to_parquet(extract_pages(pages), out, ckpt)

    q = start()
    q.awaitTermination(120)
    first = spark.read.parquet(out).count()
    expect_first = read_warc(spark, warc_dir + "/*.warc.gz").count()
    assert first == expect_first > 0

    # second drop: the remaining archive lands; resume processes only it
    shutil.copy(os.path.join(built, files[-1]), warc_dir)
    q = start()
    q.awaitTermination(120)
    total = spark.read.parquet(out).count()
    assert total == 500  # the whole sf0.001 corpus exactly once
    # extracted text matches the batch contract per url
    row = spark.read.parquet(out).select("url", "extracted_text").first()
    assert row.extracted_text
