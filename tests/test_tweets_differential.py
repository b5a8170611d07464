"""Differential check of the paper's job against the benchmark's
independent oracle (perfbench/oracle.py) on generated input.

About 200 messy tweets from ``perfbench/gen.py`` (null and relative
timestamps, unparseable counts, unknown keywords, mixed-case phrases)
go through the same path the benchmark runs: CSV read → ``run_all`` →
CSV sinks. Each written table must hash equal to the oracle's.
"""

from __future__ import annotations

import collections
import os
import sys

from datapipelinedemo_spark.functions import ner, sentiment
from datapipelinedemo_spark.plans import tweets
from datapipelinedemo_spark.sources import csv as csv_source, sinks

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench"))
import gen  # noqa: E402
import oracle  # noqa: E402

N_TWEETS = 200
SEED = 1


def test_tables_match_oracle_on_generated_tweets(spark, tmp_path):
    model = gen.Model()
    mdir = str(tmp_path / "model")
    model.write(mdir)
    g = gen.TweetGen(model, SEED)
    paths = gen.write_csvs([g.natural() for _ in range(N_TWEETS)], str(tmp_path / "in"))

    rows = gen.read_csvs(paths)
    lexicon = gen.read_lexicon(os.path.join(mdir, "lexicon.csv"))
    counts = collections.Counter()
    expect = oracle.tables(oracle.enrich(
        rows, oracle.load_patterns(os.path.join(mdir, "patterns.jsonl")),
        dict(lexicon), counts), counts)

    outs = tweets.run_all(
        csv_source.read_tweets_csv(spark, paths),
        ner.pattern_table(spark, os.path.join(mdir, "patterns.jsonl")),
        sentiment.lexicon_table(spark, lexicon),
    )
    assert set(outs) == set(expect)
    for name, df in outs.items():
        out = str(tmp_path / "out" / name)
        sinks.write_csv(df, out)
        assert oracle.digest(oracle.canonical(out)) == oracle.digest(expect[name]), name
    # the input exercises both the 1-D and the pair tables
    assert counts["enriched_rows"] and counts["pair_rows"]
