"""Reference scalar UDFs re-expressed as native Column expressions.

The reference implements every one of these as a row-at-a-time Python
UDF (SURVEY.md §2.3); each function here is a pure Catalyst expression
— whole-stage-codegen'd, pushdown-transparent, ~100× cheaper at scale.
Reference file:line cites point at /root/reference/demo.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = "Column | str"


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def clean_timestamp(c) -> Column:
    """F1 — timestamp pre-clean (demo.py:61-64).

    Short current-year form (``"MMM dd"``, len<8) gets ``" 2020"``
    appended; otherwise the comma in ``"MMM dd, yyyy"`` is dropped.
    Null-safe: null in → null out (the UDF original would have raised;
    rows are pre-filtered on ``Timestamp IS NOT NULL`` there, demo.py:58).
    """
    c = _col(c)
    return F.when(F.length(c) < 8, F.concat(c, F.lit(" 2020"))).otherwise(
        F.regexp_replace(c, ",", "")
    )


def parse_timestamp_date(c) -> Column:
    """F2 — ``to_date(c, 'MMM dd yyyy')`` (demo.py:67), unparseable→null.

    Spark 3+/4 CORRECTED parser: ``MMM d yyyy`` accepts both padded and
    single-digit days, so it subsumes the legacy behavior. ``try_to_date``
    gives the legacy unparseable→null instead of ANSI's error.
    """
    return F.try_to_date(_col(c), "MMM d yyyy")


def parse_human_number(c) -> Column:
    """F4 — ``"1.2K"→1200``, ``"3M"→3000000``, plain numerics pass
    through, anything unparseable→0 (demo.py:38-47 bare ``except→0``).

    Native mapping: regexp-extract the numeric prefix, scale by suffix,
    ``try_cast`` reproduces the error→null, ``coalesce`` the null→0.
    """
    c = _col(c)
    num = F.regexp_extract(c, r"^\s*([0-9]*\.?[0-9]+)\s*[KkMm]?\s*$", 1)
    scale = (
        F.when(c.rlike(r"[Kk]\s*$"), F.lit(1000.0))
        .when(c.rlike(r"[Mm]\s*$"), F.lit(1000000.0))
        .otherwise(F.lit(1.0))
    )
    parsed = (num.try_cast("double") * scale).cast("long")
    return F.coalesce(parsed, F.lit(0)).cast("long")


def log2_bucket(c) -> Column:
    """F5 — ``int(round(np.log2(x+1)))+1`` (demo.py:85-87).

    np.round is banker's (half-to-even) while Spark ``round`` is
    HALF_UP. log2(x+1) for integer x only lands exactly on .5 when
    2^(k+0.5)-1 is an integer — never (irrational), so the modes agree
    on all reachable inputs and the plain expression is exact parity.
    """
    c = _col(c)
    return (F.round(F.log2(c.cast("double") + F.lit(1.0)), 0) + F.lit(1)).cast("int")


def keyword_from_url(c) -> Column:
    """F6 — extract the scraper search keyword from ``Page_URL``
    (demo.py:92-102): take the part after ``?``, replace ``%20`` with
    spaces, regex ``searchq=(.+) until`` group 1, drop `` lang%3Aen``,
    strip. No match / malformed → null (the UDF's except→None).
    """
    c = _col(c)
    after_q = F.regexp_replace(c, r"^[^?]*\?", "")
    spaced = F.regexp_replace(after_q, r"%20", " ")
    kw = F.regexp_extract(spaced, r"searchq=(.+) until", 1)
    kw = F.regexp_replace(kw, r" lang%3Aen", "")
    kw = F.trim(kw)
    return F.when(kw == "", F.lit(None).cast("string")).otherwise(kw)


# F7 — the reference's exact 7-keyword dict (demo.py:122-131:
# SODA=[fizzy drink, soda, sparkling water], TONIC=[tonic],
# GINGERALE=[ginger ale, coke, pop]). Kept as data, not code, so it can
# also be broadcast-joined as a mapping table at scale.
KEYWORD_CATEGORIES: dict[str, str] = {
    "fizzy drink": "soda",
    "soda": "soda",
    "sparkling water": "soda",
    "tonic": "tonic",
    "ginger ale": "ginger ale",
    "coke": "ginger ale",
    "pop": "ginger ale",
}


def keyword_to_category(c, mapping: dict[str, str] | None = None) -> Column:
    """F7 — keyword→Category2 CASE lookup; unknown→null (demo.py:117-135)."""
    c = _col(c)
    mapping = KEYWORD_CATEGORIES if mapping is None else mapping
    expr = F.lit(None).cast("string")
    # build the when-chain in reverse so the first key wins
    for k, v in reversed(list(mapping.items())):
        expr = F.when(c == k, F.lit(v)).otherwise(expr)
    return expr


def month_label(prefix: str, year, month) -> Column:
    """F13 — ``"<prefix>_<Year>-<Month>"``, month NOT zero-padded, matching
    golden headers like ``Frequency_2018-1`` (demo.py:218,311,411,471)."""
    return F.concat(
        F.lit(prefix + "_"),
        _col(year).cast("string"),
        F.lit("-"),
        _col(month).cast("string"),
    )
