"""Exploded DOM-node table operator (analysis path).

Produces the flattened node rows the north star describes — one row per
block-level DOM node with structural features and the Arc90 score column —
for relational analysis (node-level filters, aggregations, joins). The
production extraction path does NOT route through this table (see
``extract_html.py`` for why); this operator exists for the node-level query
surface, the way the reference exposes its score/geometry maps as
inspectable intermediates (``/root/reference/DetectUtil.py:229-233``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ocr_spark.kernels.html import NODE_FIELDS, score_nodes, tokenize_html

NODE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("node_id", T.IntegerType()),
        T.StructField("tag", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("text_len", T.LongType()),
        T.StructField("link_text_len", T.LongType()),
        T.StructField("n_tags", T.IntegerType()),
        T.StructField("n_links", T.IntegerType()),
        T.StructField("span_start", T.LongType()),
        T.StructField("span_end", T.LongType()),
        T.StructField("negative", T.BooleanType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _tokenize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        # parse every doc in the batch, extending one list per node field
        rows: dict[str, list] = {k: [] for k in ("url", *NODE_FIELDS)}
        for url, html in zip(pdf["url"], pdf["html"]):
            cols = tokenize_html(html)
            for k in NODE_FIELDS:
                rows[k].extend(cols[k])
            rows["url"].extend([url] * len(cols["node_id"]))
        if not rows["url"]:
            continue
        # vectorized scoring across ALL nodes of the batch at once
        scores = score_nodes(
            np.array(rows["tag"], dtype=object),
            np.array(rows["text_len"], dtype=np.int64),
            np.array(rows["link_text_len"], dtype=np.int64),
            np.array(rows["negative"], dtype=bool),
            np.array(rows.pop("attr_pos"), dtype=bool),
        )
        rows["score"] = scores.tolist()
        yield pd.DataFrame(rows)


def tokenize_to_nodes(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) → one row per DOM block node, scored."""
    return pages.select("url", "html").mapInPandas(
        _tokenize_batches, schema=NODE_SCHEMA
    )
