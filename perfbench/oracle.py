"""Independent pure-Python oracle for the tweet pipeline.

Re-derives the four topic x month tables from the raw CSV rows with the
reference's intended semantics, without importing the library:
tokenising, greedy longest-span ``filter_spans``, set-dedup, lexicon
mean, log2 buckets, the four aggregations with their smoothing
asymmetries (A1 sums ``Retweets_log + 1``; A4 is ``1 + sum``), and
lexicographically sorted month labels.

It also counts the rows each layer must produce on the input (tokens,
first-token candidates, verified spans, lexicon hits, grouped and pair
rows); the traced run checks the program's own counts against them.

Tables are returned as ``{"header": [...], "rows": [[...], ...]}`` with
rows sorted, the form ``canonical`` gives a written Spark output; the
benchmark stores and compares their ``digest``.
"""

from __future__ import annotations

import collections
import csv
import glob
import hashlib
import json
import math
import os
import re

MONTHS = {m: i + 1 for i, m in enumerate(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
     "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"])}
CATEGORIES = {
    "fizzy drink": "soda", "soda": "soda", "sparkling water": "soda",
    "tonic": "tonic", "ginger ale": "ginger ale", "coke": "ginger ale",
    "pop": "ginger ale",
}
TOKEN = re.compile(r"[A-Za-z0-9_']+|[^A-Za-z0-9_'\s]")
SENT_SPLIT = re.compile(r"[^a-z0-9']+")
NUMBER = re.compile(r"^\s*([0-9]*\.?[0-9]+)\s*[KkMm]?\s*$")
DATE = re.compile(r"^([A-Z][a-z]{2}) ([0-9]{1,2}) ([0-9]{4})$")


def load_patterns(path: str) -> dict[str, list[tuple[list[str], str | None]]]:
    """First token -> [(lower tokens, id or None)], unique per (pattern, id)."""
    seen: set[tuple] = set()
    by_head: dict[str, list] = collections.defaultdict(list)
    with open(path) as f:
        for line in f:
            obj = json.loads(line)
            toks = [t["LOWER"].lower() for t in obj["pattern"]]
            key = (" ".join(toks), obj.get("id"))
            if key not in seen:
                seen.add(key)
                by_head[toks[0]].append((toks, obj.get("id")))
    return by_head


def _number(v: str | None) -> int:
    v = "0" if v is None else v
    m = NUMBER.search(v)
    if not m:
        return 0
    scale = 1000.0 if re.search(r"[Kk]\s*$", v) else (
        1000000.0 if re.search(r"[Mm]\s*$", v) else 1.0)
    return int(float(m.group(1)) * scale)


def _log2_bucket(x: int) -> int:
    return math.floor(math.log(x + 1.0) / math.log(2.0) + 0.5) + 1


def _year_month(ts: str | None) -> tuple[int, int] | None:
    if ts is None:
        return None
    ts = ts + " 2020" if len(ts) < 8 else ts.replace(",", "")
    m = DATE.match(ts)
    if not m or m.group(1) not in MONTHS or not 1 <= int(m.group(2)) <= 28:
        return None
    return int(m.group(3)), MONTHS[m.group(1)]


def _keyword(url: str | None) -> str | None:
    if url is None:
        return None
    spaced = re.sub(r"^[^?]*\?", "", url).replace("%20", " ")
    m = re.search(r"searchq=(.+) until", spaced)
    kw = (m.group(1) if m else "").replace(" lang%3Aen", "").strip(" ")
    return kw or None


def phrases(text: str | None, by_head, c: collections.Counter) -> list[str]:
    """entity_ruler matching + filter_spans + set-dedup, in span order."""
    toks = TOKEN.findall(text) if text is not None else []
    low = [t.lower() for t in toks]
    c["ner_tokens"] += len(toks)
    spans = []
    for i, t in enumerate(low):
        for pat, ent in by_head.get(t, ()):
            c["ner_candidates"] += 1
            n = len(pat)
            if low[i:i + n] == pat:
                c["ner_verified"] += 1
                spans.append((i, n, ent if ent is not None else " ".join(toks[i:i + n])))
    kept: list[tuple[int, int, str]] = []
    for s, n, p in sorted(spans, key=lambda x: (-x[1], x[0])):
        if not any(s < ks + kn and ks < s + n for ks, kn, _ in kept):
            kept.append((s, n, p))
    return list(dict.fromkeys(p for _, _, p in kept))


def sentiment(text: str, lexicon: dict[str, float], c: collections.Counter) -> float:
    toks = [t for t in SENT_SPLIT.split(text.lower()) if t]
    hits = [lexicon[t] for t in toks if t in lexicon]
    c["sent_hits"] += len(hits)
    if not hits:
        return 0.0
    snapped = sum(math.floor(p * 1000000.0 + 0.5) for p in hits)
    return (float(snapped) / 1000000.0) / float(len(hits))


def enrich(rows: list[list], by_head, lexicon: dict[str, float], c: collections.Counter) -> list[tuple]:
    """Rows -> (Year, Month, Category2, Likes_log, Retweets_log, Sentiment, phrases)."""
    out = []
    for ts, text, _comments, likes, retweets, url in rows:
        ym = _year_month(ts)
        kw = _keyword(url)
        if ym is None or kw is None:
            continue
        c["cleaned_rows"] += 1
        ph = phrases(text, by_head, c)
        if not ph:
            continue
        out.append((ym[0], ym[1], CATEGORIES.get(kw, "None"),
                    _log2_bucket(_number(likes)), _log2_bucket(_number(retweets)),
                    sentiment(text, lexicon, c), ph))
    c["enriched_rows"] += len(out)
    return out


def _pivot(long: dict[tuple, float], names: list[str], prefix: str) -> dict:
    """(Year, Month, key) -> value as the wide table: one column per
    label, labels sorted as strings, missing cells 0."""
    labels = sorted({f"{prefix}_{y}-{m}" for y, m, _ in long})
    col = {lab: i for i, lab in enumerate(labels)}
    zero = 0.0 if prefix == "Sentiment" else 0
    wide: dict[tuple, list] = {}
    for (y, m, key), v in long.items():
        wide.setdefault(key, [zero] * len(labels))[col[f"{prefix}_{y}-{m}"]] = v
    return {"header": [*names, *labels, "Category1"],
            "rows": sorted([*k, *v, "Beverage"] for k, v in wide.items())}


def tables(enriched: list[tuple], c: collections.Counter) -> dict[str, dict]:
    f1: dict = collections.defaultdict(int)
    s1: dict = collections.defaultdict(lambda: [0, 0])
    f2: dict = collections.defaultdict(lambda: 1)
    s2: dict = collections.defaultdict(lambda: [0, 0])
    for y, m, cat, ll, rl, sent, ph in enriched:
        w = math.floor(sent * (ll + 1) * 1000000.0 + 0.5)
        for t in ph:
            f1[(y, m, (t, cat))] += rl + 1
            acc = s1[(y, m, (t, cat))]
            acc[0] += w
            acc[1] += ll
        for i in range(len(ph)):
            for t2 in ph[i + 1:]:
                c["pair_rows"] += 1
                f2[(y, m, (ph[i], t2, cat))] += rl
                acc = s2[(y, m, (cat, ph[i], t2))]
                acc[0] += w
                acc[1] += ll
    c["long_rows_1d"] += len(f1)
    c["long_rows_2d"] += len(f2)

    def mean(d):
        return {k: (float(n) / 1000000.0) / float(l + 1) for k, (n, l) in d.items()}

    return {
        "frequency_monthly": _pivot(f1, ["Topic", "Category2"], "Frequency"),
        "sentiments_monthly": _pivot(mean(s1), ["Topic", "Category2"], "Sentiment"),
        "sentiment2d_monthly": _pivot(mean(s2), ["Category2", "Topic", "Topic2"], "Sentiment"),
        "frequency_2d_monthly": _pivot(f2, ["Topic", "Topic2", "Category2"], "Frequency"),
    }


def canonical(out_dir: str) -> dict:
    """A written single-file Spark CSV table in the oracle's form."""
    (path,) = glob.glob(os.path.join(out_dir, "part-*.csv"))
    with open(path, newline="") as f:
        it = csv.reader(f)
        header = next(it)
        conv = [int if h.startswith("Frequency_") else float if h.startswith("Sentiment_")
                else str for h in header]
        rows = sorted([fn(v) for fn, v in zip(conv, r)] for r in it)
    return {"header": header, "rows": rows}


def digest(table: dict) -> str:
    return hashlib.sha256(json.dumps(table).encode()).hexdigest()
