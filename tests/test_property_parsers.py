"""Property-based spot checks (SURVEY §5.4) for the string parsers —
random suffixed numbers, URLs, and garbage vs a Python oracle of the
reference's intended semantics (demo.py:38-47, 61-64, 92-102)."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st

from datapipelinedemo_spark.functions import cleaning as C

pytestmark = pytest.mark.usefixtures("spark")


def _py_parse_human(x: str | None) -> int:
    if x is None:
        return 0
    s = x
    m = re.match(r"^\s*([0-9]*\.?[0-9]+)\s*([KkMm]?)\s*$", s)
    if not m:
        return 0
    v = float(m.group(1))
    if m.group(2) in ("K", "k"):
        v *= 1000
    elif m.group(2) in ("M", "m"):
        v *= 1000000
    return int(v)


def _batch(spark, vals, expr, schema="v string"):
    df = spark.createDataFrame([(v,) for v in vals], schema)
    return [r[0] for r in df.select(expr).collect()]


num_strings = st.one_of(
    st.integers(0, 10**9).map(str),
    st.floats(0, 10**6, allow_nan=False).map(lambda f: f"{f:.3f}"),
    st.tuples(
        st.floats(0, 999, allow_nan=False), st.sampled_from(["K", "k", "M", "m"])
    ).map(lambda t: f"{t[0]:.2f}{t[1]}"),
    st.text(max_size=12),
    st.none(),
)


@settings(max_examples=20, deadline=None)
@given(st.lists(num_strings, min_size=1, max_size=50))
def test_parse_human_number_matches_python(spark, vals):
    got = _batch(spark, vals, C.parse_human_number("v"))
    exp = [_py_parse_human(v) for v in vals]
    assert got == exp


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.sampled_from(
                    ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                     "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
                ),
                st.integers(1, 28),
                st.integers(2015, 2023),
            ).map(lambda t: f"{t[0]} {t[1]}, {t[2]}"),
            st.tuples(
                st.sampled_from(["Jan", "Mar", "Sep"]), st.integers(1, 9)
            ).map(lambda t: f"{t[0]} {t[1]}"),
            st.text(max_size=10),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_timestamp_clean_parse_never_errors(spark, vals):
    out = _batch(
        spark, vals, C.parse_timestamp_date(C.clean_timestamp("v"))
    )
    # invariants: short forms land in 2020; well-formed forms parse
    for v, d in zip(vals, out):
        if v and re.fullmatch(r"[A-Z][a-z]{2} [1-9]", v):
            assert d is not None and d.year == 2020, (v, d)
        if v and re.fullmatch(r"[A-Z][a-z]{2} \d{1,2}, \d{4}", v):
            assert d is not None, v


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.tuples(st.sampled_from(["soda", "ginger%20ale", "x y"])).map(
                lambda t: f"https://a.b/s?searchq={t[0]}%20until%202020 until x"
            ),
            st.text(max_size=20),
            st.none(),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_keyword_from_url_total(spark, vals):
    out = _batch(spark, vals, C.keyword_from_url("v"))
    for v, kw in zip(vals, out):
        if v and "searchq=" in v and " until" not in v.split("?")[-1].replace("%20", " "):
            # no match → null, never an error
            assert kw is None or isinstance(kw, str)
        if v is None:
            assert kw is None


# ---------------------------------------------------------------- text norm
texty = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",)
    ),
    max_size=80,
)


@settings(max_examples=15, deadline=None)
@given(st.lists(texty, min_size=1, max_size=30))
def test_normalize_for_dedup_idempotent_and_clean(spark, vals):
    """normalize_for_dedup is a projection (idempotent), and its output
    never contains doubled whitespace, leading/trailing space, URLs, or
    uppercase letters — the properties exact-dedup keying relies on."""
    from datapipelinedemo_spark.functions.text import normalize_for_dedup

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    out = df.select(
        normalize_for_dedup("v").alias("n1"),
        normalize_for_dedup(normalize_for_dedup("v")).alias("n2"),
    ).collect()
    for r in out:
        assert r.n1 == r.n2  # idempotent
        # engine \s is ASCII: assert ASCII-space hygiene (Unicode
        # spaces like NBSP intentionally pass through unchanged)
        assert not r.n1.startswith(" ") and not r.n1.endswith(" ")
        assert "  " not in r.n1
        assert not any(ord(ch) < 0x20 and ch not in "\t\n\r" for ch in r.n1)
        assert "http://" not in r.n1 and "https://" not in r.n1
        assert r.n1 == r.n1.lower()
