"""HTML main-content extraction as a fused ``mapInPandas`` stage.

Scale rationale (the core architectural decision of this engine): extraction
is *per-document* — parse, score, threshold, merge, order, assemble all
consume only one page's data. The reference reaches the same conclusion with
its per-image grouping via ``boxes_masks``
(``/root/reference/DataPreprocess/DataGen.py:538-548``). So the production
path fuses the whole chain into ONE ``mapInPandas`` stage:

    scan(pages) → mapInPandas(extract) → write

**zero shuffles** between scan and sink. The alternative (explode nodes into
a DataFrame, score relationally, ``applyInPandas`` per url) costs two
shuffles of the full node table — at 10^12 documents that is petabytes of
shuffle for no semantic gain. The exploded node table still exists as an
*analysis* operator (``ocr_spark.operators.nodes``) for queries that need
node-level relational access.

Catalyst still owns the plan: column pruning drops the wide ``html`` blob
immediately after this stage, and the scan only reads the columns the UDF
declares.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.kernels.html import extract_main_text

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.LongType()),
                        T.StructField("end", T.LongType()),
                    ]
                )
            ),
        ),
        T.StructField("n_blocks", T.IntegerType()),
        # extraction-confidence signal: char mass dropped as boilerplate /
        # total block-node char mass (unrounded; consumers round at the
        # query layer so HALF_UP semantics match SQL oracles)
        T.StructField("boilerplate_ratio", T.DoubleType()),
    ]
)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Iterator-of-batches kernel (amortizes per-batch setup, the way the
    reference batches recognition in RECOG_BATCH chunks,
    ``/root/reference/test_img.py:97-116``)."""
    for pdf in batches:
        texts, spans_col, n_blocks, bp_ratio = [], [], [], []
        for html in pdf["html"]:
            text, spans, nb, (total, kept) = extract_main_text(html)
            texts.append(text)
            spans_col.append([{"start": s, "end": e} for s, e in spans])
            n_blocks.append(nb)
            bp_ratio.append(1.0 - kept / total if total > 0 else 0.0)
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"],
                "lang": pdf["lang"],
                "extracted_text": texts,
                "spans": spans_col,
                "n_blocks": n_blocks,
                "boilerplate_ratio": bp_ratio,
            }
        )


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extracted rows.

    Only (url, warc_ts, html, lang) are shipped into Python — the noisy raw
    ``text`` column is pruned before the Arrow boundary.
    """
    slim = pages.select("url", "warc_ts", "lang", "html")
    return slim.mapInPandas(_extract_batches, schema=EXTRACTED_SCHEMA)


def extraction_match_rate(extracted: DataFrame, expected: DataFrame) -> DataFrame:
    """Join extracted vs expected on url; emit match booleans (byte-level
    equality on UTF-8 text). Small helper for the pytest gate and bench."""
    e = expected.select("url", F.col("expected_text"))
    joined = extracted.join(e, "url", "left")
    return joined.select(
        "url",
        (
            F.coalesce(F.col("extracted_text") == F.col("expected_text"), F.lit(False))
        ).alias("match"),
    )
