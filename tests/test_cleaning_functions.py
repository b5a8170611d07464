"""Unit tests for the native scalar-function layer (SURVEY.md §2.3),
asserting the reference UDFs' exact semantics incl. the traps:
F4 error→0, F5 rounding, F1 short-form append, F6 regex no-match→null.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipelinedemo_spark.functions import cleaning as C


def _vals(spark, data, expr, schema="v string"):
    df = spark.createDataFrame(data, schema)
    return [r[0] for r in df.select(expr).collect()]


def test_clean_timestamp(spark):
    out = _vals(
        spark,
        [("Mar 4",), ("Mar 4, 2019",), ("Dec 31, 2020",)],
        C.clean_timestamp("v"),
    )
    assert out == ["Mar 4 2020", "Mar 4 2019", "Dec 31 2020"]


def test_parse_timestamp_date(spark):
    out = _vals(
        spark,
        [("Mar 4 2019",), ("Dec 31 2020",), ("not a date",)],
        C.parse_timestamp_date(C.clean_timestamp("v")),
    )
    # try-parse semantics: unparseable → null (demo.py:67-70 drops them)
    assert str(out[0]) == "2019-03-04"
    assert str(out[1]) == "2020-12-31"
    assert out[2] is None


def test_parse_human_number(spark):
    cases = {
        "17": 17,
        "1.2K": 1200,
        "3M": 3000000,
        "2.5m": 2500000,
        "0": 0,
        "abc": 0,  # bare except → 0 (demo.py:46-47)
        "1.5.3": 0,
        "": 0,
        None: 0,
    }
    out = _vals(spark, [(k,) for k in cases], C.parse_human_number("v"))
    assert out == list(cases.values())


def test_log2_bucket_matches_numpy_rounding(spark):
    import numpy as np

    xs = [0, 1, 2, 3, 5, 10, 100, 1000, 1200, 3000000]
    out = _vals(spark, [(x,) for x in xs], C.log2_bucket("v"), "v long")
    expected = [int(round(float(np.log2(x + 1)))) + 1 for x in xs]
    assert out == expected


def test_keyword_from_url(spark):
    url = "https://x.com/search?searchq=ginger%20ale%20until%20x lang%3Aen until 2020"
    out = _vals(
        spark,
        [(url,), ("https://x.com/nomatch",), (None,)],
        C.keyword_from_url("v"),
    )
    assert out[0] is not None and "ginger ale" in out[0]
    assert out[1] is None
    assert out[2] is None


def test_keyword_to_category(spark):
    out = _vals(
        spark,
        [("soda",), ("tonic",), ("ginger ale",), ("coke",), ("pop",),
         ("club soda",), ("coffee",), (None,)],
        C.keyword_to_category("v"),
    )
    # demo.py:122-131: coke/pop → ginger ale; club soda is NOT mapped
    assert out == ["soda", "tonic", "ginger ale", "ginger ale", "ginger ale",
                   None, None, None]


def test_month_label_no_zero_pad(spark):
    df = spark.createDataFrame([(2018, 1)], "y int, m int")
    out = df.select(C.month_label("Frequency", "y", "m")).collect()[0][0]
    assert out == "Frequency_2018-1"


def test_ngrams_edges(spark):
    from datapipelinedemo_spark.functions import text as TX

    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("a",), ("",)], ["text"]
    ).withColumn("t", TX.tokenize("text"))
    out = df.select(
        TX.ngrams(F.col("t"), 2).alias("g2"),
        TX.ngrams(F.col("t"), 3).alias("g3"),
    ).collect()
    assert out[0].g2 == ["a b", "b c", "c d"]
    assert out[0].g3 == ["a b c", "b c d"]
    assert out[1].g2 == ["a b"] and out[1].g3 == []
    assert out[2].g2 == [] and out[2].g3 == []
    assert out[3].g2 == [] and out[3].g3 == []
