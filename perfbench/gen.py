"""Seeded input generator for the tweet-pipeline benchmark.

Everything the program under test receives is a file written here:

- ``patterns.jsonl`` — an entity_ruler dictionary shaped like the
  reference's (about 12.3k unique (pattern, id) rows, about 70%
  multi-token, 1-16 tokens, first tokens shared across patterns, a few
  id-less patterns that emit their surface form);
- ``lexicon.csv`` — about 2k (token, polarity) sentiment words;
- multi-file tweet CSVs with the reference's raw columns and messy
  fields (``MMM d, yyyy`` / ``MMM d`` timestamps, K/M counts, nulls,
  the 7 scraper keywords plus unknown and malformed URLs).

The dictionary and lexicon are a model, not traffic, so they come from
a fixed seed; tweet corpora come from the workload seed. Text is ASCII
without quotes or backslashes so the CSV round trip is unambiguous.
"""

from __future__ import annotations

import csv
import itertools
import json
import os
import random

MODEL_SEED = 0
N_PATTERNS = 12_300
N_LEXICON = 2_000
N_FILES = 4
COLUMNS = ["Timestamp", "Text", "Comments", "Likes", "Retweets", "Page_URL"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
KEYWORDS = ["fizzy drink", "soda", "sparkling water", "tonic",
            "ginger ale", "coke", "pop"]
UNKNOWN_KEYWORDS = ["lemonade", "iced tea", "kombucha"]
PUNCT = [",", ".", "!", "?", ":", "-", "#", "@", "&"]
_CONS = "bcdfghjklmnprstvwz"
_VOW = "aeiou"


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(rng.choice(_CONS) + rng.choice(_VOW) for _ in range(syllables))


def _distinct_words(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        w = _word(rng, rng.choice((2, 2, 3, 3, 4)))
        if w not in taken and w != "empty":
            taken.add(w)
            out.append(w)
    return out


def _zipf_cum(n: int, s: float = 1.1) -> list[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))


class Model:
    """The shared vocabulary: filler words, dictionary patterns, lexicon."""

    def __init__(self) -> None:
        rng = random.Random(MODEL_SEED)
        taken: set[str] = set()
        self.filler = _distinct_words(rng, 6_000, taken)
        heads = _distinct_words(rng, 4_000, taken)
        body = _distinct_words(rng, 4_000, taken)
        # a fifth of the head tokens are also everyday words, so natural
        # text produces first-token candidates that fail verification
        self.filler += heads[:800]
        rng.shuffle(self.filler)
        self.filler_cum = _zipf_cum(len(self.filler))
        head_cum = _zipf_cum(len(heads), 0.6)
        lengths = [1] * 60 + [2] * 30 + [3] * 20 + [4] * 10 + list(range(5, 17))
        seen: set[str] = set()
        patterns: list[tuple[list[str], str | None]] = []
        n_ids = 0
        while len(patterns) < N_PATTERNS:
            n = rng.choice(lengths)
            toks = rng.choices(heads, cum_weights=head_cum)
            toks += [rng.choice(body) for _ in range(n - 1)]
            key = " ".join(toks)
            if key in seen:
                continue
            seen.add(key)
            if rng.random() < 0.05:
                ent = None  # id-less: emits the surface text
            elif patterns and rng.random() < 0.3:
                # synonym of an earlier entity: set-dedup merges them
                ent = rng.choice(patterns)[1] or f"ent_{n_ids:05d}"
            else:
                ent = f"ent_{n_ids:05d}"
                n_ids += 1
            patterns.append((toks, ent))
        self.patterns = patterns
        self.pattern_cum = _zipf_cum(len(patterns), 0.9)
        lex_words = rng.sample(self.filler[:3_000], N_LEXICON)
        self.lexicon = [(w, round(rng.uniform(-1.0, 1.0), 2)) for w in lex_words]

    def write(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "patterns.jsonl"), "w") as f:
            for toks, ent in self.patterns:
                obj = {"label": "ORG", "pattern": [{"LOWER": t} for t in toks]}
                if ent is not None:
                    obj["id"] = ent
                f.write(json.dumps(obj) + "\n")
        with open(os.path.join(out_dir, "lexicon.csv"), "w", newline="") as f:
            csv.writer(f, lineterminator="\n").writerows(self.lexicon)


def read_lexicon(path: str) -> list[tuple[str, float]]:
    with open(path, newline="") as f:
        return [(w, float(p)) for w, p in csv.reader(f)]


class TweetGen:
    def __init__(self, model: Model, seed: int) -> None:
        self.m = model
        self.rng = random.Random(seed)

    def fillers(self, k: int) -> list[str]:
        return self.rng.choices(self.m.filler, cum_weights=self.m.filler_cum, k=k)

    def phrase(self) -> list[str]:
        toks, _ = self.rng.choices(self.m.patterns, cum_weights=self.m.pattern_cum)[0]
        r = self.rng.random()
        if r < 0.2:
            return [t.capitalize() for t in toks]
        if r < 0.25:
            return [t.upper() for t in toks]
        return list(toks)

    def timestamp(self) -> str | None:
        r = self.rng.random()
        if r < 0.03:
            return None
        if r < 0.06:
            return self.rng.choice(["2h", "yesterday", "3 hours ago", "now"])
        day = self.rng.randint(1, 28)
        if r < 0.18:  # short current-year form; the pipeline reads it as 2020
            return f"{self.rng.choice(MONTHS[:6])} {day}"
        year, month = divmod(18 * 12 + 6 + self.rng.randrange(18), 12)
        return f"{MONTHS[month]} {day}, {2000 + year}"

    def count(self) -> str | None:
        r = self.rng.random()
        if r < 0.05:
            return None
        if r < 0.08:
            return self.rng.choice(["1,234", "n/a", "--"])
        if r < 0.25:
            return f"{self.rng.randint(1, 99) / 10:g}K"
        if r < 0.30:
            return f"{self.rng.randint(1, 50) / 10:g}M"
        return str(int(self.rng.paretovariate(0.8)) - 1)

    def url(self) -> str | None:
        r = self.rng.random()
        if r < 0.01:
            return None
        if r < 0.03:
            return "https://x.example/home?lang=en"
        kw = self.rng.choice(UNKNOWN_KEYWORDS if r < 0.06 else KEYWORDS)
        lang = "%20lang%3Aen" if self.rng.random() < 0.5 else ""
        return (f"https://x.example/search?searchq={kw.replace(' ', '%20')}"
                f"{lang}%20until%202020-01-01")

    def text(self, n_tokens: int, phrases: list[list[str]]) -> str:
        toks = self.fillers(max(n_tokens - sum(map(len, phrases)), 3))
        for _ in range(self.rng.randrange(3)):
            toks.insert(self.rng.randrange(len(toks) + 1), self.rng.choice(PUNCT))
        for p in phrases:
            at = self.rng.randrange(len(toks) + 1)
            toks[at:at] = p
        return " ".join(toks)

    def natural(self) -> list:
        """The paper's density: ~25 tokens, 0-4 Zipf-drawn phrases."""
        k = self.rng.choices(range(5), weights=[10, 35, 30, 15, 10])[0]
        text = self.text(self.rng.randint(15, 35), [self.phrase() for _ in range(k)])
        return [self.timestamp(), text, self.count(), self.count(),
                self.count(), self.url()]


def write_csvs(rows: list[list], out_dir: str) -> list[str]:
    """Rows dealt round-robin over N_FILES CSVs, each with a header."""
    os.makedirs(out_dir, exist_ok=True)
    paths = [os.path.join(out_dir, f"part-{i}.csv") for i in range(N_FILES)]
    files = [open(p, "w", newline="", encoding="ascii") for p in paths]
    try:
        writers = [csv.writer(f, lineterminator="\n") for f in files]
        for w in writers:
            w.writerow(COLUMNS)
        for i, r in enumerate(rows):
            writers[i % N_FILES].writerow(["" if v is None else v for v in r])
    finally:
        for f in files:
            f.close()
    return paths


def read_csvs(paths: list[str]) -> list[list]:
    """Rows as Spark's CSV reader sees them: empty field -> null."""
    rows = []
    for p in paths:
        with open(p, newline="", encoding="ascii") as f:
            it = csv.reader(f)
            next(it)
            rows += [[v if v != "" else None for v in r] for r in it]
    return rows
