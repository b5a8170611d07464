"""Materialize fixtures/bench_rounds/r{NN}.json from git — mechanized.

The r12 and r13 rounds were both lost to the same bookkeeping class
(VERDICT r13 "What's wrong #1"): the builder staged the round fixture
mid-round, a later bench run refreshed BENCH_LOCAL.json, and the
driver's round-boundary commit recorded the refreshed totals — leaving
the committed fixture describing a different run than BENCH_r{NN}.json.

The authoritative copy is unambiguous: the driver commits
BENCH_LOCAL.json and BENCH_r{NN}.json in the SAME commit, so
``git show <commit-of-BENCH_r{NN}.json>:BENCH_LOCAL.json`` is exactly
the full artifact the driver summarized. This tool materializes that
blob for every recorded round, overwriting any stale fixture, and
verifies the totals agree with the driver's parsed summary.

Run at round start (idempotent, offline, <1s):

    python tools/sync_bench_fixture.py

bench._prev_full additionally self-heals at read time (a fixture whose
total disagrees with the driver artifact is skipped in favor of the
git blob), so even an unsynced checkout never poisons the comparator.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sync(repo: str = REPO) -> list[str]:
    out_dir = os.path.join(repo, "fixtures", "bench_rounds")
    os.makedirs(out_dir, exist_ok=True)
    synced = []
    # numeric sort via the extracted round number — a two-digit glob
    # would silently skip r100+ artifacts (ADVICE r14); anchored so
    # stray BENCH_r15_backup.json-style files don't match (ADVICE r15)
    artifacts = []
    for p in glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        if m:
            artifacts.append((int(m.group(1)), p))
    for nn, artifact in sorted(artifacts):
        with open(artifact) as fh:
            parsed = json.load(fh).get("parsed") or {}
        driver_value = parsed.get("value")

        commit = subprocess.run(
            ["git", "-C", repo, "log", "-n1", "--format=%H", "--",
             os.path.basename(artifact)],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        if not commit:
            print(f"r{nn:02d}: no commit records the driver artifact; skip")
            continue
        blob = subprocess.run(
            ["git", "-C", repo, "show", f"{commit}:BENCH_LOCAL.json"],
            capture_output=True, text=True, timeout=30,
        )
        if blob.returncode != 0:
            print(f"r{nn:02d}: no BENCH_LOCAL.json at {commit[:9]}; skip")
            continue
        full = json.loads(blob.stdout)
        if (
            driver_value is not None
            and abs(full.get("value", 0.0) - driver_value) > 1e-6
        ):
            # happened at r16 and r17: the 8-core scaling bench ran after
            # the 32-core one and overwrote BENCH_LOCAL.json before the
            # boundary commit. Such a round gets a hand-made fixture
            # carrying an `accept_value_mismatch` note; refuse to write
            # one that would re-introduce the mismatch silently
            print(
                f"r{nn:02d}: git blob total {full.get('value')} != driver "
                f"parsed {driver_value} — NOT writing; investigate"
            )
            continue

        dest = os.path.join(out_dir, f"r{nn}.json")
        existing = None
        try:
            with open(dest) as fh:
                existing = json.load(fh)
        except (OSError, ValueError):
            pass
        if existing == full:
            continue
        with open(dest, "w") as fh:
            fh.write(blob.stdout)
        synced.append(f"r{nn}.json")
        print(
            f"r{nn:02d}: wrote {dest} "
            f"({full.get('value')}s / {len(full.get('queries', {}))} queries)"
        )
    if not synced:
        print("all fixtures already in sync")
    return synced


if __name__ == "__main__":
    sys.exit(0 if sync() is not None else 1)
