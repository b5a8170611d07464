"""Tweet-pipeline benchmark: the paper's batch job, end to end.

    python3 perfbench/run.py --workload tweets_batch --seed 1 --seconds 15 --trace 0

Runs ``sources.csv.read_tweets_csv`` -> ``plans.tweets.run_all`` (enrich,
then the four topic x month pivots) -> ``sources.sinks.write_csv`` on
``local[nproc]`` from this one process, over seeded inputs generated by
``gen.py``. Inputs and their oracle tables are cached under
``.perfbench/`` keyed by workload, seed and size, so generation is never
on the clock. Every job's four written tables are compared with the
oracle; a job that raises or differs counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs traced
jobs (spans around each layer, engine event log) and prints the
per-layer metrics instead. The last stdout line is the JSON result.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

import pyspark  # noqa: E402
from datapipelinedemo_spark import session  # noqa: E402
from datapipelinedemo_spark.functions import ner, sentiment  # noqa: E402
from datapipelinedemo_spark.plans import tweets  # noqa: E402
from datapipelinedemo_spark.sources import csv as csv_source, sinks  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import layertrace  # noqa: E402

SETUP_REPS = 2
# The warm-up job runs the same plans on a small batch: codegen and the
# JIT warm per plan shape, not per row.
WARMUP_TWEETS = 200
# The first job after the warm set-ups is the first on a fresh context and
# runs 15-30% slower than the next, and later jobs keep speeding up while
# the JIT compiles. The median is only comparable between runs that ran
# the same number of jobs, so run_seconds is set for exactly MIN_JOBS.
MIN_JOBS = 2
NPROC = len(os.sched_getaffinity(0))
# caps the JVM heap: the library's 24g default is sized for a dedicated
# host, and these inputs need a fraction of 1g
HEAP = "1g"


@dataclass(frozen=True)
class Workload:
    tweets: int  # per batch
    batches: int  # distinct input batches, run in turn

    def key(self, name: str, seed: int) -> str:
        return f"{name}-s{seed}-n{self.tweets}x{self.batches}-w{WARMUP_TWEETS}"


def load_workloads() -> dict[str, Workload]:
    """Workload sizes live in layers.json, next to the layer map."""
    with open(os.path.join(HERE, "layers.json")) as f:
        return {name: Workload(**w) for name, w in json.load(f)["workloads"].items()}


# ----------------------------------------------------------------- inputs --
def _atomic_dir(path: str, build) -> str:
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.replace(tmp, path)
    return path


def model_dir() -> str:
    return _atomic_dir(os.path.join(WORK, "model"), lambda d: gen.Model().write(d))


def prepare(name: str, w: Workload, seed: int) -> tuple[dict, list[dict]]:
    """The warm-up batch and the measured batches: per batch its CSV
    paths, tweet count and oracle result."""
    mdir = model_dir()
    names = ["warmup"] + [f"batch-{b:03d}" for b in range(w.batches)]

    def build(d: str) -> None:
        g = gen.TweetGen(gen.Model(), seed)
        by_head = oracle.load_patterns(os.path.join(mdir, "patterns.jsonl"))
        lexicon = dict(gen.read_lexicon(os.path.join(mdir, "lexicon.csv")))
        for b in names:
            bdir = os.path.join(d, b)
            n = WARMUP_TWEETS if b == "warmup" else w.tweets
            paths = gen.write_csvs([g.natural() for _ in range(n)], bdir)
            counts = collections.Counter()
            rows = gen.read_csvs(paths)
            expect = oracle.tables(oracle.enrich(rows, by_head, lexicon, counts), counts)
            digests = {t: oracle.digest(v) for t, v in expect.items()}
            with open(os.path.join(bdir, "oracle.json"), "w") as f:
                json.dump({"tweets": len(rows), "counts": counts, "tables": digests}, f)

    d = _atomic_dir(os.path.join(WORK, "inputs", w.key(name, seed)), build)
    batches = []
    for b in names:
        bdir = os.path.join(d, b)
        with open(os.path.join(bdir, "oracle.json")) as f:
            o = json.load(f)
        o["paths"] = sorted(os.path.join(bdir, p) for p in os.listdir(bdir) if p.endswith(".csv"))
        batches.append(o)
    return batches[0], batches[1:]


# ------------------------------------------------------------------ spark --
def configure_env() -> None:
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP


def spark_conf(event_log: str | None) -> dict[str, str]:
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def setup_once(conf: dict, model: str) -> tuple:
    """Session up, dictionary and lexicon tables built: the set-up cost."""
    t0 = time.perf_counter()
    spark = session.get_spark(extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    patterns = ner.pattern_table(spark, os.path.join(model, "patterns.jsonl"))
    patterns.count()
    t2 = time.perf_counter()
    lexicon = sentiment.lexicon_table(spark, gen.read_lexicon(os.path.join(model, "lexicon.csv")))
    lexicon.count()
    t3 = time.perf_counter()
    return spark, patterns, lexicon, {"start_s": t1 - t0, "pattern_table_s": t2 - t1,
                                      "setup_s": t3 - t0, "end": t3}


def setup(conf: dict, model: str, not_setup_s: float, warm_up) -> tuple:
    """Set up once in a new JVM, run ``warm_up`` on that session, then set
    up SETUP_REPS more times on fresh Spark contexts; keep the last.

    The first set-up includes the JVM launch (reported as the cold start,
    less ``not_setup_s`` spent generating inputs); ``setup_s`` is the
    median of the others, in the warm JVM. The warm-up job comes before
    them so that the JIT compiles what that job queued while they run,
    not while the measured jobs do."""
    spark, patterns, lexicon, cold = setup_once(conf, model)
    warm_up(spark, patterns, lexicon)
    reps = []
    for _ in range(SETUP_REPS):
        spark.stop()
        spark, patterns, lexicon, t = setup_once(conf, model)
        reps.append(t)
    return spark, patterns, lexicon, {
        "cold_start_s": cold["end"] - PROCESS_START - not_setup_s,
        **{k: statistics.median(r[k] for r in reps) for k in ("setup_s", "start_s", "pattern_table_s")},
    }


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it ran in, and wait for it to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus this Python driver."""
    jvm = spark.sparkContext._gateway.proc.pid

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))

    return (hwm(jvm) + hwm("self")) / 1024.0


# ------------------------------------------------------------------- jobs --
def out_dirs() -> dict[str, str]:
    base = os.path.join(WORK, "out")
    return {name: os.path.join(base, name) for name in (
        "frequency_monthly", "sentiments_monthly", "sentiment2d_monthly", "frequency_2d_monthly")}


def run_job(spark, batch: dict, patterns, lexicon, tracer: layertrace.Tracer | None = None) -> float:
    """Read -> enrich + four pivots -> four CSV tables; wall seconds."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    if tracer is None:
        outs = tweets.run_all(csv_source.read_tweets_csv(spark, batch["paths"]), patterns, lexicon)
        for name, path in out_dirs().items():
            sinks.write_csv(outs[name], path)
        return time.perf_counter() - t0
    with tracer.span("job"), tracer.patched():
        with tracer.span("sources.csv") as rec:
            tw = tracer.materialise(rec, csv_source.read_tweets_csv(spark, batch["paths"]))
        outs = tweets.run_all(tw, patterns, lexicon)
        for name, path in out_dirs().items():
            with tracer.span("sources.sinks"):
                sinks.write_csv(outs[name], path)
    return time.perf_counter() - t0


def matches_oracle(batch: dict) -> bool:
    for name, path in out_dirs().items():
        if oracle.digest(oracle.canonical(path)) != batch["tables"][name]:
            print(f"# MISMATCH {name} vs oracle ({path})", file=sys.stderr)
            return False
    return True


def attempt(spark, batch, patterns, lexicon, tracer=None) -> float | None:
    """One checked job: wall seconds, or None if it raised or was wrong."""
    try:
        wall = run_job(spark, batch, patterns, lexicon, tracer)
    except Exception:
        traceback.print_exc()
        return None
    return wall if matches_oracle(batch) else None


# ---------------------------------------------------------------- metrics --
def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with >= 10 samples above."""
    n = len(values)
    if n < 11:
        return None
    k = n - 11  # index with exactly ten samples beyond it
    return 100.0 * (k + 1) / n, sorted(values)[k]


def layer_metrics(spans: list[dict], engine: dict, batch: dict, run_id: int) -> dict[str, float]:
    mine = [s for s in spans if s["run"] == run_id]
    eng = collections.defaultdict(collections.Counter)
    for s in mine:
        eng[s["name"]].update(engine.get(f"r{run_id}/s{s['id']}", {}))
    total = collections.Counter()
    for c in eng.values():
        total.update(c)

    def dur(name):
        return sum(s["dur"] for s in mine if s["name"] == name)

    def rows(name):
        return sum(s.get("rows", 0) for s in mine if s["name"] == name)

    def mb(name):
        return sum(s.get("mb", 0.0) for s in mine if s["name"] == name)

    ner, sent = eng["functions.ner"], eng["functions.sentiment"]
    sink_files = [os.path.join(d, f) for d in out_dirs().values()
                  for f in os.listdir(d) if f.startswith("part-")]
    return {
        "sources.csv.scan_s": dur("sources.csv"),
        "sources.csv.rows_in": rows("sources.csv"),
        "sources.csv.bytes_in": sum(os.path.getsize(p) for p in batch["paths"]),
        "functions.cleaning.s": dur("functions.cleaning"),
        "functions.cleaning.rows_kept": rows("functions.cleaning"),
        "pin.materialize_s": dur("pin"),
        "pin.mb": mb("pin"),
        "functions.ner.s": dur("functions.ner"),
        # token explode -> first-token join -> full-span join
        "functions.ner.token_rows": ner["explode_rows"],
        "functions.ner.candidates": ner["explode_join1_rows"],
        "functions.ner.verified": ner["explode_join2_rows"],
        "functions.ner.verify_ratio": ner["explode_join2_rows"] / max(ner["explode_join1_rows"], 1),
        "functions.ner.shuffle_mb": ner["shuffle_write_mb"],
        "functions.sentiment.s": dur("functions.sentiment"),
        # token explode -> lexicon join
        "functions.sentiment.token_rows": sent["explode_rows"],
        "functions.sentiment.hit_ratio": sent["explode_join1_rows"] / max(sent["explode_rows"], 1),
        "functions.sentiment.shuffle_mb": sent["shuffle_write_mb"],
        "plans.tweets.enrich_s": dur("plans.tweets.enrich"),
        "plans.tweets.enriched_rows": rows("plans.tweets.enrich"),
        "plans.tweets.cache_mb": mb("plans.tweets.enrich"),
        **{f"plans.tweets.{t}_s": dur(f"plans.tweets.{t}") for t in out_dirs()},
        "plans.tweets.long_rows_1d": rows("plans.tweets.frequency_monthly.long"),
        "plans.tweets.long_rows_2d": rows("plans.tweets.frequency_2d_monthly.long"),
        "plans.tweets.label_jobs": eng["plans.tweets._month_labels"]["jobs"],
        "operators.pairs.s": dur("operators.pairs"),
        "operators.pairs.rows_out": rows("operators.pairs"),
        "sources.sinks.write_s": dur("sources.sinks"),
        "sources.sinks.bytes_out": sum(os.path.getsize(p) for p in sink_files),
        "sources.sinks.files": len(sink_files),
        **{f"spark.{k}": total[k] for k in (
            "jobs", "stages", "tasks", "scheduler_delay_s", "shuffle_write_mb", "spill_mb", "gc_s")},
    }


def trace_consistent(m: dict, batch: dict) -> bool:
    """Row counts the program produced agree with the oracle's."""
    cnt = batch["counts"]
    return (m["sources.csv.rows_in"] == batch["tweets"]
            and m["functions.cleaning.rows_kept"] == cnt["cleaned_rows"]
            and m["functions.ner.token_rows"] == cnt["ner_tokens"]
            and m["functions.ner.candidates"] == cnt["ner_candidates"]
            and m["functions.ner.verified"] == cnt["ner_verified"]
            and round(m["functions.sentiment.hit_ratio"] * m["functions.sentiment.token_rows"])
            == cnt["sent_hits"]
            and m["plans.tweets.enriched_rows"] == cnt["enriched_rows"]
            and m["plans.tweets.long_rows_1d"] == cnt["long_rows_1d"]
            and m["plans.tweets.long_rows_2d"] == cnt["long_rows_2d"]
            and m["operators.pairs.rows_out"] == 2 * cnt["pair_rows"])


# ------------------------------------------------------------------- main --
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    workloads = load_workloads()
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_prep = time.perf_counter()
    warmup, batches = prepare(args.workload, workloads[args.workload], args.seed)
    model = model_dir()
    prepare_s = time.perf_counter() - t_prep
    configure_env()
    log_dir = os.path.join(WORK, "eventlog", f"{os.getpid()}") if args.trace else None
    warm = {}

    def warm_up(spark, patterns, lexicon) -> None:
        t = time.perf_counter()
        warm["failed"] = int(attempt(spark, warmup, patterns, lexicon) is None)  # also checked
        warm["s"] = time.perf_counter() - t

    spark, patterns, lexicon, st = setup(spark_conf(log_dir), model, prepare_s, warm_up)
    failed, attempted, warmup_s = warm["failed"], 1, warm["s"]

    walls: list[float] = []
    traced: list[tuple[int, float, dict]] = []
    tracers: list[layertrace.Tracer] = []
    t_measure = time.perf_counter()
    longest = 0.0

    def more_jobs(done: int) -> bool:
        """A traced run makes one untraced and one traced job of one batch.
        Otherwise jobs run back to back, at least MIN_JOBS, while one as
        long as the longest so far would still end within --seconds."""
        if args.trace:
            return done < 1
        return done < MIN_JOBS or time.perf_counter() - t_measure + longest <= args.seconds

    i = 0
    while more_jobs(i):
        batch = batches[i % len(batches)]
        t0 = time.perf_counter()
        wall = attempt(spark, batch, patterns, lexicon)
        longest = max(longest, time.perf_counter() - t0)
        attempted += 1
        if wall is None:
            failed += 1
        else:
            walls.append(wall)
        if args.trace:
            tr = layertrace.Tracer(spark, i)
            tracers.append(tr)
            twall = attempt(spark, batch, patterns, lexicon, tr)
            attempted += 1
            if twall is None:
                failed += 1
            elif wall is not None:
                traced.append((i, wall, batch))
        i += 1
    rss = peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    stop_spark(spark)
    if not walls:
        print("# no job completed correctly", file=sys.stderr)
        return 1

    info = {"workload": args.workload, "seed": args.seed, "nproc": NPROC,
            "spark": pyspark.__version__, "python": platform.python_version(),
            "prepare_s": round(prepare_s, 3), "warmup_s": round(warmup_s, 3),
            "wall_s": round(time.perf_counter() - PROCESS_START, 3)}
    if not args.trace:
        job_s = statistics.median(walls)
        metrics = {
            "setup_s": (st["setup_s"], "s"),
            "job_s": (job_s, "s"),
            "tweets_per_s": (statistics.mean(b["tweets"] for b in batches) / job_s, "1/s"),
            "peak_rss_mb": (rss, "MB"),
        }
        t = tail(walls)
        info.update(jobs=len(walls), walls=[round(w, 3) for w in walls],
                    cold_start_s=round(st["cold_start_s"], 3), failed_frac=failed / attempted,
                    job_tail_s=None if t is None else {"pct": round(t[0], 1), "value": t[1],
                                                       "samples": len(walls)})
    else:
        spans = [s for tr in tracers for s in tr.spans]
        layertrace.self_times(spans)
        engine = layertrace.engine_counters(os.path.join(log_dir, app_id))
        per_run = []
        for run_id, wall, batch in traced:
            m = layer_metrics(spans, engine, batch, run_id)
            if not trace_consistent(m, batch):
                print(f"# trace run {run_id}: span row counts disagree with the oracle",
                      file=sys.stderr)
                failed += 1
            root = next(s for s in spans if s["run"] == run_id and s["parent"] is None)
            selfsum = sum(s["self"] for s in spans if s["run"] == run_id)
            assert abs(selfsum - root["dur"]) < 1e-6
            m.update({"bench.untraced_job_s": wall, "bench.traced_job_s": root["dur"],
                      "bench.trace_overhead_frac": root["dur"] / wall - 1.0,
                      "bench.unattributed_s": root["self"]})
            per_run.append(m)
        spans_path = os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            for s in spans:
                f.write(json.dumps({**s, "engine": engine.get(f"r{s['run']}/s{s['id']}", {})}) + "\n")
        units = layer_units()
        metrics = {"session.cold_start_s": (st["cold_start_s"], "s"),
                   "session.start_s": (st["start_s"], "s"),
                   "functions.ner.pattern_table_s": (st["pattern_table_s"], "s")}
        for k in per_run[0] if per_run else []:
            metrics[k] = (statistics.median(m[k] for m in per_run), units[k])
        if per_run and set(metrics) != set(units):
            raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: "
                               f"{sorted(set(metrics) ^ set(units))}")
        info.update(traced_runs=len(per_run), spans=os.path.relpath(spans_path, ROOT))
        shutil.rmtree(log_dir, ignore_errors=True)

    for k, (v, u) in metrics.items():
        print(f"# {k} = {v:.6g} {u}")
    print("# " + json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


def layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
