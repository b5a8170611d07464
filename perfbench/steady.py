"""Steadiness self-check: do two sets of runs of the same code agree?

    python3 perfbench/steady.py --runs 10 [--workloads tweets_batch ...]

For each workload, runs ``run.py`` ``--runs`` times with seeds
1..runs (set A) and again with seeds runs+1..2*runs (set B), one run at
a time. For every end-to-end metric it reports each set's median and
quartile spread (IQR / median) and whether set B's median is within the
metric's bound of set A's, using the bounds in ``BENCHMARK.json``. The
spread must also stay within the bound for every metric but
``setup_s``. The report, with nproc, the Spark and Python versions and
every run's seed and metrics, is written to ``.perfbench/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    info = json.loads(lines[-2][2:]) if len(lines) > 1 and lines[-2].startswith("# {") else {}
    return {"seed": seed, "info": info, **json.loads(lines[-1])}


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()

    report = {"runs_per_set": args.runs, "workloads": {}}
    ok = True
    for wl in args.workloads:
        sets = [[run_once(wl, seed, bench["run_seconds"])
                 for seed in range(1 + k * args.runs, 1 + (k + 1) * args.runs)] for k in (0, 1)]
        rows = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name]["value"] for r in s] for s in sets]
            med = [statistics.median(v) for v in vals]
            sp = [spread(v) for v in vals]
            worse = (med[1] - med[0]) / med[0] * (1 if m["better"] == "lower" else -1)
            agree = worse <= bound and (name == "setup_s" or max(sp) <= bound)
            ok &= agree
            rows[name] = {"median": med, "spread": sp, "b_worse_than_a": worse,
                          "bound": bound, "agree": agree}
            print(f"{wl:20} {name:14} median {med[0]:.4g} / {med[1]:.4g}  spread "
                  f"{sp[0]:.3f} / {sp[1]:.3f}  bound {bound}  {'ok' if agree else 'NOT STEADY'}")
        correct = all(r["correct"] for s in sets for r in s)
        ok &= correct
        report["workloads"][wl] = {
            "metrics": rows,
            "correct": correct,
            "runs": sets,
        }
        first = sets[0][0]["info"]
        report.update({k: first.get(k) for k in ("nproc", "spark", "python")})
    out = os.path.join(ROOT, ".perfbench", "steady.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"steady: {ok}; report in {os.path.relpath(out, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
