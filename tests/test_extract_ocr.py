"""OCR-branch Spark operator: strip recognition."""

import pytest
from pyspark.sql import types as T

from ocr_spark.kernels.ocr import render_line
from ocr_spark.operators.extract_ocr import recognize_line_strips

LINE_TEXTS = [
    "first-line!", "SECOND?", "", "aabbcc", "0123456789",
    "MiXeD-CaSe.42", "~`<>'.:;^/|", "!?$%#@&*()", "[]{}_+=,\\\"",
]


def test_recognize_line_strips_spark(spark):
    rows = []
    for i, t in enumerate(LINE_TEXTS):
        strip, w = render_line(t)
        rows.append((f"ocr://doc-{i}", i, [float(x) for x in strip.ravel()], w))
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("line_id", T.IntegerType()),
            T.StructField("strip", T.ArrayType(T.FloatType())),
            T.StructField("width", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    got = recognize_line_strips(df).sort("line_id").collect()
    assert [r.text for r in got] == LINE_TEXTS


def test_recognition_is_batch_size_invariant(spark):
    rows = []
    for i, t in enumerate(LINE_TEXTS * 10):
        strip, w = render_line(t)
        rows.append((f"b://{i}", i, [float(x) for x in strip.ravel()], w))
    schema = "url string, line_id int, strip array<float>, width int"
    df = spark.createDataFrame(rows, schema)
    one = recognize_line_strips(df.coalesce(1)).sort("line_id").toPandas()
    four = recognize_line_strips(df.repartition(4)).sort("line_id").toPandas()
    assert one.text.tolist() == four.text.tolist()


def test_unknown_recognizer_is_rejected(spark):
    df = spark.createDataFrame(
        [], "url string, line_id int, strip array<float>, width int"
    )
    with pytest.raises(ValueError, match="unknown recognizer"):
        recognize_line_strips(df, recognizer="nope")
