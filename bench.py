"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall seconds.

Each query is materialized with ``collect()`` (results are small
aggregates); a warmup query absorbs JVM/codegen startup so the numbers
measure the plans, not the JIT.

TWO passes, both reported (VERDICT r5 #3 — the r4→r5
training_corpus_pipeline confusion was exactly this distinction):

- **standalone** (``queries``/``value``): ``clearCache()`` before each
  timed run, min of 2 — what one query costs with no shared state.
  The headline metric, comparable round-over-round.
- **amortized** (``amortized_queries``): one further run per query
  with NO cache clearing, in suite order — shared frames (persisted
  shingle/candidate memos, the disk-resident near-dup index) stay
  warm across queries, which is how a production session actually
  runs the family.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "brand_revenue",
    "window_top3_orders_per_customer",
    "events_tumbling_1h",
    "monthly_event_type_pivot",
    "asof_latest_order_before_event",
    "a1_weighted_monthly_frequency",
    "a2_smoothed_weighted_mean",
    "a4_pair_frequency",
    "minhash_lsh_candidates",
    "ngram_jaccard_neardups",
    "similarity_topk_bruteforce",
    "doc_fingerprints",
    "hll_distinct_users",
    "kmeans_embedding_clusters",
    "bm25_topk_docs",
    "simhash_neardup_pairs",
    "hybrid_retrieval_rrf",
]


# Reference time of the calibration probe on an idle build box, keyed
# by host identity in fixtures/calib_ref.json (ADVICE r10: a constant
# baked into source silently mis-normalizes on any other host — the
# reference only applies to the host that produced it; elsewhere drift
# is emitted as null). drift = calib_now / ref is the host-load
# correction factor — r9's diffuse 1.2x inflation on untouched queries
# exceeded any real regression the bench could catch (VERDICT r9 #5),
# so per-round comparisons divide by drift before flagging a query.
def _calib_ref() -> tuple[float | None, str]:
    import platform

    host_key = f"{platform.node()}|{os.cpu_count()}"
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "fixtures",
        "calib_ref.json",
    )
    try:
        with open(path) as fh:
            entry = json.load(fh)["refs"].get(host_key)
        ref = entry["ref"] if entry else None
    except (OSError, ValueError, KeyError, TypeError):
        # TypeError: malformed refs entry (e.g. a bare number) —
        # treat like an absent reference (ADVICE r11)
        ref = None
    return ref, host_key


def _prev_full(repo: str) -> tuple[str | None, dict | None]:
    """Full per-query artifact of the newest recorded round.

    Driver artifacts (``BENCH_r{NN}.json``) hold only a bounded
    stdout TAIL whose ``parsed.queries`` is truncated to the slowest
    entries, and the per-query dicts live under ``parsed``, not at
    the top level — r11's comparator read ``prev['queries']`` from
    them and was vacuously empty (VERDICT r11 "What's wrong #1").
    The full dict is the BENCH_LOCAL.json committed at the same
    round boundary: prefer a materialized copy under
    ``fixtures/bench_rounds/r{NN}.json``, else read BENCH_LOCAL.json
    from git at the commit that recorded BENCH_r{NN}.json, else fall
    back to the truncated ``parsed.queries`` tail (partial coverage —
    better than nothing, and marked as partial in the output).

    ``SPARK_GRAFT_BENCH_PREV`` overrides with an explicit path (for
    re-running bench after the current round's own artifact has been
    committed, when "newest" would otherwise be a self-comparison —
    ADVICE r11).
    """
    import glob
    import re
    import subprocess

    override = os.environ.get("SPARK_GRAFT_BENCH_PREV")
    if override:
        try:
            with open(override) as fh:
                return os.path.basename(override), json.load(fh)
        except (OSError, ValueError):
            return None, None

    # Numeric sort on the extracted round number, not lexicographic on
    # a two-digit glob — a future r100+ artifact must not be silently
    # skipped (ADVICE r14). Anchored fullmatch so a stray
    # BENCH_r15_backup.json / BENCH_r15.json.orig can't shadow or tie
    # with the real newest artifact (ADVICE r15).
    cands = []
    for p in glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        if m:
            cands.append((int(m.group(1)), p))
    if not cands:
        return None, None
    nn, newest = max(cands)

    # The driver-recorded total for the round: any materialized fixture
    # must agree with it, else the fixture is a stale pre-final-run copy
    # (the r12/r13 failure class — a late bench refresh rewrote
    # BENCH_LOCAL.json after the fixture was staged). The driver commits
    # BENCH_LOCAL.json and BENCH_r{NN}.json together, so the git
    # fallback below is always the authoritative copy; a mismatched
    # fixture is skipped rather than trusted.
    driver_value = None
    try:
        with open(newest) as fh:
            driver_value = (json.load(fh).get("parsed") or {}).get("value")
    except (OSError, ValueError):
        pass

    # 1) materialized full artifact for that round (validated). A
    # fixture may carry an explicit `accept_value_mismatch` note when
    # NO full artifact matching the driver total exists — the r16
    # seam: the driver's post-snapshot 8-core scaling run overwrote
    # BENCH_LOCAL.json before the boundary commit, so the only full
    # 32-core per-query baseline is the builder's final run. The note
    # must say why (a string over 40 characters); an unexplained
    # mismatch is still skipped as stale.
    full_path = os.path.join(
        repo, "fixtures", "bench_rounds", f"r{nn}.json"
    )
    try:
        with open(full_path) as fh:
            fixture = json.load(fh)
        note = fixture.get("accept_value_mismatch")
        if (
            driver_value is None
            or abs(fixture.get("value", 0.0) - driver_value) < 1e-6
            or (isinstance(note, str) and len(note) > 40)
        ):
            return f"bench_rounds/r{nn}.json", fixture
    except (OSError, ValueError):
        pass

    # 2) BENCH_LOCAL.json from git at the round-boundary commit —
    # validated against the driver total like the fixture branch: the
    # r16 seam above proved "the driver commits them together" does
    # not guarantee the committed copy is the SAME RUN (a later
    # scaling run can overwrite BENCH_LOCAL.json pre-commit).
    try:
        commit = subprocess.run(
            ["git", "-C", repo, "log", "-n1", "--format=%H", "--",
             os.path.basename(newest)],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if commit:
            blob = subprocess.run(
                ["git", "-C", repo, "show", f"{commit}:BENCH_LOCAL.json"],
                capture_output=True, text=True, timeout=30,
            )
            if blob.returncode == 0:
                committed = json.loads(blob.stdout)
                if driver_value is None or abs(
                    committed.get("value", 0.0) - driver_value
                ) < 1e-6:
                    return (
                        f"git:{commit[:9]}:BENCH_LOCAL.json",
                        committed,
                    )
    except (OSError, ValueError, subprocess.SubprocessError):
        pass

    # 2b) round-boundary state: the newest driver artifact is still
    # UNTRACKED (the driver drops BENCH_r{NN}.json post-snapshot; the
    # round-boundary commit that pairs it with BENCH_LOCAL.json hasn't
    # happened yet), so the git lookup above found nothing and no
    # fixture was materialized. The artifact's `full` pointer is the
    # working-tree BENCH_LOCAL.json — trust it iff its total matches
    # the driver-recorded value, same validation as the fixture branch
    # (VERDICT r14 #1: this seam cost three consecutive rounds via
    # three mechanisms; this branch closes the last one).
    try:
        with open(os.path.join(repo, "BENCH_LOCAL.json")) as fh:
            local = json.load(fh)
        if driver_value is not None and abs(
            local.get("value", 0.0) - driver_value
        ) < 1e-6:
            return "BENCH_LOCAL.json@worktree", local
    except (OSError, ValueError):
        pass

    # 3) the truncated driver tail (slowest-only) — partial
    try:
        with open(newest) as fh:
            parsed = json.load(fh).get("parsed")
        if isinstance(parsed, dict) and isinstance(
            parsed.get("queries"), dict
        ):
            parsed = dict(parsed)
            parsed["partial"] = True
            return os.path.basename(newest) + "#parsed", parsed
    except (OSError, ValueError):
        pass
    return None, None


def _flag_regressions(
    ratios: dict[str, float],
    times: dict[str, float],
    prev_queries: dict[str, float],
) -> dict[str, float]:
    """Queries regressed in BOTH views — normalized ratio >1.5 AND raw
    ratio >1.5 (VERDICT r16 #2). The calibration probe is known to
    over/understate real box speed under load (the r15 verdict measured
    it claiming 1.843 while untouched queries ran ~1.0x raw), so
    probe-only normalization manufactures phantom flags whenever the
    probe disagrees with the true box factor — r16's ~80-entry flag
    storm on ZERO raw regressions, plus 2 wasted isolation reruns per
    phantom. A real regression moves raw seconds too. Sub-0.5s queries
    additionally regress by whole ratios on scheduler jitter alone, so
    the flag requires real seconds on one side."""
    out = {}
    for n, r in ratios.items():
        t_now, t_prev = times.get(n, 0), prev_queries.get(n, 0)
        if (
            r > 1.5
            and max(t_now, t_prev) >= 0.5
            and t_prev > 0
            and t_now / t_prev > 1.5
        ):
            out[n] = r
    return out


def _pack_summary(
    summary: dict,
    times: dict[str, float],
    pre_rerun_flagged: dict[str, float],
    flagged: dict[str, float],
    budget: int = 1800,
) -> dict:
    """VERDICT r16 #1: queries pack FIRST — in r16 the two uncapped
    flag dicts (~80 entries each) consumed the whole line budget before
    a single per-query timing packed, leaving the driver's comparator
    and scaling analysis blind for the round. The slowest queries carry
    the signal; flags get the remaining budget, capped at 10 entries
    each (largest ratios first). Full dicts live in BENCH_LOCAL.json.
    """
    q_budget = budget - 500  # reserve the tail of the line for flags
    for name in sorted(times, key=lambda n: -times[n]):
        summary["queries"][name] = times[name]
        if len(json.dumps(summary)) > q_budget:
            del summary["queries"][name]
            break
    for key, d in (
        ("flagged_pre_rerun", pre_rerun_flagged),
        ("flagged_over_1p5x", flagged),
    ):
        for name, r in sorted(d.items(), key=lambda kv: -kv[1])[:10]:
            summary[key][name] = r
            if len(json.dumps(summary)) > budget - 30:
                del summary[key][name]
                break
    summary["queries_omitted"] = len(times) - len(summary["queries"])
    return summary


def _calibration_probe(spark) -> float:
    """Fixed synthetic plan, corpus- and repo-independent: one codegen
    scan + one shuffle over spark.range — measures what the HOST is
    doing right now, so round-over-round query deltas can be separated
    from machine drift."""
    from pyspark.sql import functions as F

    runs = []
    for _ in range(2):
        t0 = time.time()
        spark.range(0, 48_000_000, 1, 32).select(
            F.sum((F.col("id") % 97) * 13).alias("s")
        ).collect()
        spark.range(0, 8_000_000, 1, 32).groupBy(
            (F.col("id") % 4096).alias("k")
        ).count().agg(F.sum("count")).collect()
        runs.append(time.time() - t0)
    return round(min(runs), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as e
    from datapipelinedemo_spark.session import get_spark

    spark = get_spark(app_name="bench")
    qs = e.queries()
    # tweets_* run on a fixed-size committed fixture (correctness
    # showpieces) — excluded from the sf-scaled timing set
    qs = {n: f for n, f in qs.items() if not n.startswith("tweets_")}
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]

    # warmup: run the cheapest plan once to absorb JVM + codegen startup
    try:
        qs[names[0]](spark, sf_dir).limit(1).collect()
    except Exception:
        pass

    calib_pre = _calibration_probe(spark)

    # Each query runs TWICE and records the min: the first execution of
    # any unique plan pays whole-stage-codegen javac/JIT compilation,
    # which is 2-6x the steady-state time and lands with several
    # seconds of per-run variance (measured: q21 7.8s cold / 1.3s warm
    # — see PERF.md "bench noise root cause"). At 100 TB the compile
    # cost is amortized over minutes of execution, so steady-state is
    # the number that scales; cold totals are reported alongside.
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        runs = []
        for _ in range(2):
            # drop cross-run cached plans: Spark's CacheManager matches
            # by logical plan, so a query that .cache()s an intermediate
            # would otherwise serve run 2 from memory and the "min"
            # would measure a cache re-read, not the query
            spark.catalog.clearCache()
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).collect()
                runs.append(round(time.time() - t0, 3))
            except Exception as ex:
                print(f"# bench error {name}: {ex}", file=sys.stderr)
                break
        if runs:
            cold[name] = runs[0]
            times[name] = min(runs)
        else:
            cold[name] = times[name] = -1.0

    # isolation re-run for the slowest standalone queries: one more
    # clearCache'd run each, taken into the min — a transient host
    # stall during a query's two runs otherwise sticks to this round's
    # number and reads as a regression (VERDICT r9 #5)
    for name in sorted(
        (n for n in times if times[n] > 0), key=lambda n: -times[n]
    )[:8]:
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            qs[name](spark, sf_dir).collect()
            times[name] = min(times[name], round(time.time() - t0, 3))
        except Exception:
            pass

    # amortized pass: no cache clearing — memoized/persisted frames
    # shared across queries stay warm (the production-session shape)
    amortized: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        try:
            qs[name](spark, sf_dir).collect()
            amortized[name] = round(time.time() - t0, 3)
        except Exception as ex:
            print(f"# bench error (amortized) {name}: {ex}", file=sys.stderr)
            amortized[name] = -1.0

    calib_post = _calibration_probe(spark)

    calib = round((calib_pre + calib_post) / 2, 3)
    calib_ref, host_key = _calib_ref()
    drift = round(calib / calib_ref, 3) if calib_ref else None
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # VERDICT r10 #8 / r11 #1: per-query drift-normalized ratios
    # against the PREVIOUS ROUND'S FULL per-query artifact (see
    # _prev_full — the driver's BENCH_r*.json tail is truncated and
    # nests queries under `parsed`, which made r11's comparator
    # vacuously empty). Each shared query's
    # (t_now / drift_now) / (t_prev / drift_prev); rows >1.5x where
    # either side is >=0.5s are flagged and immediately isolated-re-run
    # (two more clearCache'd runs, min taken) so a transient host stall
    # doesn't stick to this round's number as a phantom regression.
    repo = os.path.dirname(os.path.abspath(__file__))
    prev_path, prev = _prev_full(repo)
    if prev and prev.get("sf") != (float(sf) if sf else None):
        prev = None  # cross-sf ratios are meaningless
    prev_queries = (prev or {}).get("queries") or {}
    prev_drift = (prev or {}).get("drift") or 1.0
    cur_drift = drift or 1.0

    def _ratios() -> dict[str, float]:
        out = {}
        for name, t_prev in prev_queries.items():
            t_now = times.get(name)
            if t_now and t_now > 0 and t_prev and t_prev > 0:
                out[name] = round(
                    (t_now / cur_drift) / (t_prev / prev_drift), 3
                )
        return out

    def _flags(ratios: dict[str, float]) -> dict[str, float]:
        return _flag_regressions(ratios, times, prev_queries)

    pre_rerun_flagged = _flags(_ratios())
    # Every rerun attempt is RECORDED, not just min()-folded: r15's
    # final artifact left the streaming query's pre/post ratio
    # bit-identical (2.036 = 2.036), which read as "rerun skipped" —
    # in fact the reruns executed but never beat the first min on a
    # busy box. rerun_attempts makes that self-adjudicating: an
    # unchanged ratio beside two recorded attempt times is a noisy
    # box, an unchanged ratio beside [] or an 'error' entry is a bug.
    rerun_attempts: dict[str, list] = {}
    for name in pre_rerun_flagged:
        rerun_attempts[name] = []
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).collect()
                t = round(time.time() - t0, 3)
                rerun_attempts[name].append(t)
                times[name] = min(times[name], t)
            except Exception as ex:
                rerun_attempts[name].append(f"error: {ex}"[:120])
                break
    normalized_vs_prev = _ratios()
    flagged = _flags(normalized_vs_prev)

    total = round(sum(t for t in times.values() if t >= 0), 3)
    cold_total = round(sum(t for t in cold.values() if t >= 0), 3)
    amortized_total = round(
        sum(t for t in amortized.values() if t >= 0), 3
    )

    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "cold_total": cold_total,
        "cold_queries": cold,
        "amortized_total": amortized_total,
        "amortized_queries": amortized,
        "queries": times,
        "sf": float(sf) if sf else None,
        # host-drift calibration: divide per-query times by `drift`
        # before comparing rounds (CALIB_REF = idle-box probe time)
        "calib_pre": calib_pre,
        "calib_post": calib_post,
        "calib_ref": calib_ref,
        "calib_host": host_key,
        "drift": drift,
        "prev_artifact": prev_path,
        "prev_partial": bool((prev or {}).get("partial")),
        "normalized_vs_prev": normalized_vs_prev,
        # flagged BEFORE the isolated re-run (what the workflow caught)
        # vs after (what survived — real regressions to investigate)
        "flagged_pre_rerun": pre_rerun_flagged,
        "flagged_over_1p5x": flagged,
        # per-flagged-query rerun evidence (see comment at the rerun
        # loop): times of each isolated attempt, error text if one threw
        "rerun_attempts": rerun_attempts,
    }
    # The driver records a bounded 2000-char TAIL of stdout; with 150+
    # queries the full payload is ~3x that, so a single full line gets
    # its head truncated and parses as null (BENCH_r06). Emit the full
    # payload FIRST (and as the BENCH_LOCAL.json artifact — every
    # query, every round, no capture window), then a compact
    # size-budgeted summary as the LAST line so the tail always holds
    # one complete, parseable JSON object.
    print(json.dumps(full))
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_LOCAL.json"),
        "w",
    ) as fh:
        json.dump(full, fh, indent=1)

    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "cold_total": cold_total,
        "amortized_total": amortized_total,
        "sf": float(sf) if sf else None,
        "n_queries": len(times),
        "calib": calib,
        "calib_ref": calib_ref,
        "drift": drift,
        "prev": prev_path,
        "n_ratios": len(normalized_vs_prev),
        # counts always present; the (capped) dicts are appended AFTER
        # the queries pack — full dicts live in BENCH_LOCAL.json
        "n_flagged_pre_rerun": len(pre_rerun_flagged),
        "n_flagged_over_1p5x": len(flagged),
        "flagged_pre_rerun": {},
        "flagged_over_1p5x": {},
        "full": "BENCH_LOCAL.json",
        "queries": {},
    }
    _pack_summary(summary, times, pre_rerun_flagged, flagged)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
