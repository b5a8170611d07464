"""bench.py round-over-round comparator (VERDICT r11 "What's wrong #1").

The r11 comparator read ``prev['queries']`` from the driver's
BENCH_r*.json artifacts, but those nest a TRUNCATED summary under
``parsed`` — so ``normalized_vs_prev`` was always ``{}`` and 15 real
>1.5x regressions went unflagged. ``_prev_full`` must resolve the
previous round's FULL per-query dict (fixtures/bench_rounds ->
git-archived BENCH_LOCAL.json -> truncated tail, in that order).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_prev_full_resolves_full_artifact_not_truncated_tail():
    path, prev = bench._prev_full(REPO)
    assert prev is not None, "no previous full artifact resolved"
    # the truncated driver tail carries queries_omitted > 0 and far
    # fewer queries than the catalog; the full artifact carries all
    assert not prev.get("partial")
    assert len(prev["queries"]) > 150, (
        f"{path} has only {len(prev['queries'])} queries — looks like "
        "the truncated parsed tail, not the full BENCH_LOCAL"
    )
    assert "drift" in prev and "sf" in prev


def test_prev_full_round_matches_newest_driver_artifact():
    """The full artifact must describe the same round as the newest
    BENCH_r{NN}.json (not self-compare against a current-round file,
    ADVICE r11)."""
    import glob
    import re

    cands = sorted(glob.glob(os.path.join(REPO, "BENCH_r[0-9][0-9].json")))
    assert cands
    nn = int(re.search(r"r(\d+)", os.path.basename(cands[-1])).group(1))
    path, prev = bench._prev_full(REPO)
    assert prev is not None
    if path.startswith("bench_rounds/"):
        assert path == f"bench_rounds/r{nn}.json"
    # totals should match the driver-recorded summary for that round,
    # unless the fixture carries an explicit accept_value_mismatch note
    # (the r16 seam: the driver's 8-core scaling run overwrote
    # BENCH_LOCAL.json pre-commit, so no full artifact matches the
    # 32-core driver total; the fixture is the builder's final 32-core
    # run and says so)
    with open(cands[-1]) as fh:
        parsed = json.load(fh).get("parsed") or {}
    if parsed.get("value") and not prev.get("accept_value_mismatch"):
        assert abs(prev["value"] - parsed["value"]) < 1e-6
    if prev.get("accept_value_mismatch"):
        assert isinstance(prev["accept_value_mismatch"], str) and len(
            prev["accept_value_mismatch"]
        ) > 40, "mismatch override must carry a real explanation"


def test_prev_full_git_fallback(tmp_path):
    """Without a materialized fixtures/bench_rounds copy, the full
    artifact comes from BENCH_LOCAL.json at the round-boundary commit
    (the driver commits both files together)."""
    # newest driver artifact in the real repo
    import glob
    import re

    cands = sorted(glob.glob(os.path.join(REPO, "BENCH_r[0-9][0-9].json")))
    nn = int(re.search(r"r(\d+)", os.path.basename(cands[-1])).group(1))

    # a worktree-like sandbox: the driver artifact present, no
    # fixtures/bench_rounds, .git pointing at the real repo via git -C
    sandbox = tmp_path / "repo"
    sandbox.mkdir()
    (sandbox / f"BENCH_r{nn:02d}.json").write_text(
        (open(cands[-1]).read())
    )
    # point git at the real repo
    subprocess.run(
        ["git", "init", "-q", str(sandbox)], check=True
    )
    commit = subprocess.run(
        ["git", "-C", REPO, "log", "-n1", "--format=%H", "--",
         os.path.basename(cands[-1])],
        capture_output=True, text=True,
    ).stdout.strip()
    blob = subprocess.run(
        ["git", "-C", REPO, "show", f"{commit}:BENCH_LOCAL.json"],
        capture_output=True, text=True,
    )
    assert blob.returncode == 0
    full = json.loads(blob.stdout)
    assert len(full["queries"]) > 150  # driver commits the full artifact


def test_prev_full_skips_stale_fixture(tmp_path):
    """A materialized fixture whose total disagrees with the driver
    artifact's parsed summary (the r12/r13 round-boundary staleness
    class) must be skipped in favor of the git blob, never trusted
    (VERDICT r13 "What's wrong #1")."""
    import glob
    import re
    import shutil

    cands = sorted(glob.glob(os.path.join(REPO, "BENCH_r[0-9][0-9].json")))
    nn = int(re.search(r"r(\d+)", os.path.basename(cands[-1])).group(1))

    sandbox = tmp_path / "repo"
    (sandbox / "fixtures" / "bench_rounds").mkdir(parents=True)
    shutil.copy(cands[-1], sandbox / os.path.basename(cands[-1]))
    # a git checkout so fallback #2 resolves from the REAL repo history
    shutil.copytree(os.path.join(REPO, ".git"), sandbox / ".git")

    with open(cands[-1]) as fh:
        driver_value = json.load(fh)["parsed"]["value"]
    stale = {
        "queries": {f"q{i}": 1.0 for i in range(200)},
        "value": driver_value + 31.7,  # a different run
        "drift": 1.0,
        "sf": 0.1,
    }
    (sandbox / "fixtures" / "bench_rounds" / f"r{nn}.json").write_text(
        json.dumps(stale)
    )
    path, prev = bench._prev_full(str(sandbox))
    assert prev is not None
    assert path != f"bench_rounds/r{nn}.json", (
        "stale fixture was trusted despite disagreeing with the driver "
        "artifact"
    )
    assert abs(prev["value"] - driver_value) < 1e-6


def _boundary_sandbox(tmp_path, local_value_delta=0.0, nn=15):
    """Simulate the exact post-snapshot round-boundary state that left
    the suite red in r12/r13/r14 (VERDICT r14 #1), each time via a new
    mechanism: the driver dropped BENCH_r{NN}.json UNTRACKED (no commit
    records it yet), no fixtures/bench_rounds/r{NN}.json exists, and
    BENCH_LOCAL.json sits modified in the working tree."""
    sandbox = tmp_path / "repo"
    sandbox.mkdir()
    subprocess.run(["git", "init", "-q", str(sandbox)], check=True)
    full = {
        "metric": "headline_total",
        "value": 318.521,
        "unit": "sec",
        "sf": 0.1,
        "drift": 1.0,
        "queries": {f"q{i:03d}": 1.0 for i in range(260)},
    }
    driver = {
        "parsed": {
            "value": full["value"] + local_value_delta,
            "queries": {f"q{i:03d}": 1.0 for i in range(21)},
            "queries_omitted": 239,
        }
    }
    (sandbox / f"BENCH_r{nn}.json").write_text(json.dumps(driver))
    (sandbox / "BENCH_LOCAL.json").write_text(json.dumps(full))
    return str(sandbox), full


def test_prev_full_round_boundary_untracked_artifact(tmp_path):
    """Untracked driver artifact + matching working-tree BENCH_LOCAL
    must resolve the FULL artifact, not the truncated parsed tail
    (VERDICT r14 next-round #1)."""
    sandbox, full = _boundary_sandbox(tmp_path)
    path, prev = bench._prev_full(sandbox)
    assert prev is not None
    assert not prev.get("partial"), (
        f"{path}: fell through to the truncated tail at the round "
        "boundary despite a totals-matching working-tree BENCH_LOCAL"
    )
    assert path == "BENCH_LOCAL.json@worktree"
    assert len(prev["queries"]) == 260
    assert abs(prev["value"] - full["value"]) < 1e-6


def test_prev_full_round_boundary_mismatched_local(tmp_path):
    """A working-tree BENCH_LOCAL whose total disagrees with the driver
    artifact (a newer local bench rerun) must NOT be trusted — the
    truncated tail, honestly marked partial, is correct then."""
    sandbox, _ = _boundary_sandbox(tmp_path, local_value_delta=42.0)
    path, prev = bench._prev_full(sandbox)
    assert prev is not None
    assert prev.get("partial") is True
    assert path.endswith("#parsed")


@pytest.mark.parametrize("note", [True, "see PR"])
def test_prev_full_skips_mismatch_without_explanation(tmp_path, note):
    """A mismatched fixture is honoured only when its
    ``accept_value_mismatch`` note explains itself in more than 40
    characters; a bare ``true`` or a short note is skipped as stale."""
    sandbox, full = _boundary_sandbox(tmp_path)
    fixture = dict(full, value=full["value"] + 5.0, accept_value_mismatch=note)
    rounds = os.path.join(sandbox, "fixtures", "bench_rounds")
    os.makedirs(rounds)
    with open(os.path.join(rounds, "r15.json"), "w") as fh:
        json.dump(fixture, fh)
    path, prev = bench._prev_full(sandbox)
    assert path == "BENCH_LOCAL.json@worktree"
    assert abs(prev["value"] - full["value"]) < 1e-6


def test_prev_full_three_digit_round(tmp_path):
    """BENCH_r100.json must outrank BENCH_r99.json — the two-digit glob
    sorted lexicographically and would skip it (ADVICE r14)."""
    sandbox, full = _boundary_sandbox(tmp_path, nn=99)
    newer = dict(full)
    newer["value"] = 200.0
    newer["queries"] = {f"q{i:03d}": 0.8 for i in range(260)}
    driver = {
        "parsed": {
            "value": 200.0,
            "queries": {f"q{i:03d}": 0.8 for i in range(21)},
            "queries_omitted": 239,
        }
    }
    (tmp_path / "repo" / "BENCH_r100.json").write_text(json.dumps(driver))
    (tmp_path / "repo" / "BENCH_LOCAL.json").write_text(json.dumps(newer))
    path, prev = bench._prev_full(sandbox)
    assert prev is not None
    assert abs(prev["value"] - 200.0) < 1e-6, (
        f"{path}: resolved r99, not r100 — round sort is lexicographic"
    )


def test_bench_fixture_sync_tool_idempotent():
    """tools/sync_bench_fixture.py run against the real repo must be a
    no-op when fixtures already match the driver commits (mechanized
    round-boundary refresh, VERDICT r13 next-round #1)."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import sync_bench_fixture

    assert sync_bench_fixture.sync(REPO) == []


def test_prev_full_env_override(tmp_path):
    p = tmp_path / "prev.json"
    payload = {"queries": {"q": 1.0}, "drift": 1.0, "sf": 0.1}
    p.write_text(json.dumps(payload))
    old = os.environ.get("SPARK_GRAFT_BENCH_PREV")
    os.environ["SPARK_GRAFT_BENCH_PREV"] = str(p)
    try:
        path, prev = bench._prev_full(REPO)
        assert path == "prev.json"
        assert prev == payload
    finally:
        if old is None:
            del os.environ["SPARK_GRAFT_BENCH_PREV"]
        else:
            os.environ["SPARK_GRAFT_BENCH_PREV"] = old


def test_calib_ref_tolerates_malformed_entry(tmp_path, monkeypatch):
    """A bare-number refs entry must not crash _calib_ref (ADVICE r11)."""
    import platform

    host_key = f"{platform.node()}|{os.cpu_count()}"
    fx = tmp_path / "fixtures"
    fx.mkdir()
    (fx / "calib_ref.json").write_text(
        json.dumps({"refs": {host_key: 0.66}})  # malformed: not a dict
    )
    fake_bench = tmp_path / "bench.py"
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(fake_bench)
    )
    ref, key = bench._calib_ref()
    assert ref is None and key == host_key


def test_prev_full_ignores_stray_backup_artifacts(tmp_path):
    """ADVICE r15: BENCH_r15_backup.json / BENCH_r15.json.orig must not
    match the artifact pattern — only the anchored BENCH_r<N>.json."""
    sandbox = tmp_path / "repo"
    sandbox.mkdir()
    real = {"parsed": {"value": 1.0}}
    (sandbox / "BENCH_r07.json").write_text(json.dumps(real))
    # a stray copy with a HIGHER embedded round number would shadow the
    # real newest artifact under the unanchored r(\d+) search
    (sandbox / "BENCH_r99_backup.json").write_text(
        json.dumps({"parsed": {"value": 9.9}})
    )
    (sandbox / "BENCH_r99.json.orig").write_text(
        json.dumps({"parsed": {"value": 8.8}})
    )
    local = {"value": 1.0, "queries": {"q": 1.0}, "sf": 0.1}
    (sandbox / "BENCH_LOCAL.json").write_text(json.dumps(local))
    path, full = bench._prev_full(str(sandbox))
    assert full is not None and full["value"] == 1.0, (
        f"stray backup artifact shadowed the real newest: {path}"
    )


def test_flag_gating_requires_raw_and_normalized():
    """VERDICT r16 #2: a prev-round drift that the probe OVERSTATED 2x
    manufactures ~2x 'normalized regressions' on queries whose raw
    seconds never moved. The flag now requires raw ratio >1.5 AND
    normalized ratio >1.5."""
    times = {"a": 2.0, "b": 2.0, "c": 2.9, "d": 0.3}
    prev = {"a": 2.0, "b": 1.0, "c": 2.0, "d": 0.1}
    # prev drift recorded as 2.0 but the box really ran at 1.0x: every
    # normalized ratio doubles the raw one
    ratios = {n: round((times[n] / 1.0) / (prev[n] / 2.0), 3) for n in times}
    flags = bench._flag_regressions(ratios, times, prev)
    assert "a" not in flags, "raw-equal query flagged (phantom)"
    assert "b" in flags, "raw 2x + normalized 4x is a real regression"
    assert "c" not in flags, "raw 1.45x must not flag"
    assert "d" not in flags, "sub-0.5s jitter must not flag"
    # and with an HONEST prev drift, a real raw regression still flags
    honest = {n: round(times[n] / prev[n], 3) for n in times}
    assert "b" in bench._flag_regressions(honest, times, prev)


def test_summary_packs_queries_before_flags():
    """VERDICT r16 #1: under an r16-sized flag storm (~80 entries per
    dict) the one-line summary must still carry >=30 per-query timings
    and stay inside the driver's tail budget."""
    times = {f"some_query_name_{i:03d}": round(0.3 + i * 0.01, 3)
             for i in range(260)}
    storm = {f"some_query_name_{i:03d}": round(1.5 + i * 0.01, 3)
             for i in range(80)}
    summary = {
        "metric": "headline_queries_total", "value": 240.0, "unit": "sec",
        "cold_total": 400.0, "amortized_total": 360.0, "sf": 0.1,
        "n_queries": len(times), "calib": 0.6, "calib_ref": 0.585,
        "drift": 1.03, "prev": "bench_rounds/r16.json", "n_ratios": 260,
        "n_flagged_pre_rerun": len(storm), "n_flagged_over_1p5x": len(storm),
        "flagged_pre_rerun": {}, "flagged_over_1p5x": {},
        "full": "BENCH_LOCAL.json", "queries": {},
    }
    packed = bench._pack_summary(summary, times, storm, storm)
    line = json.dumps(packed)
    assert len(line) <= 1800, f"summary line {len(line)} chars > budget"
    assert len(packed["queries"]) >= 30, (
        f"only {len(packed['queries'])} query timings packed under the "
        "flag storm"
    )
    assert len(packed["flagged_pre_rerun"]) <= 10
    assert len(packed["flagged_over_1p5x"]) <= 10
    assert packed["n_flagged_pre_rerun"] == 80  # count survives the cap
    # slowest-first: the slowest query must be present
    assert "some_query_name_259" in packed["queries"]
    # the whole line still parses
    assert json.loads(line)["queries_omitted"] == 260 - len(packed["queries"])


def test_flagged_rerun_reexecutes_and_records(spark, sf_dir):
    """VERDICT r15 #3: the r15 artifact's bit-identical pre/post ratio
    for the streaming query read as 'rerun skipped or reused'. Two
    pins: (a) the streaming query IS re-executable in one session —
    repeated collect()s return identical results (so a rerun is a real
    measurement, not a cached replay); (b) bench.py now records every
    rerun attempt in the artifact (`rerun_attempts`), so an unchanged
    min carries its own evidence."""
    import __spark_entry__ as e

    q = e.queries()["streaming_stateful_user_totals"]
    rows1 = sorted(map(tuple, q(spark, sf_dir).collect()))
    rows2 = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert rows1 == rows2 and len(rows1) > 0

    src = open(os.path.join(os.path.dirname(bench.__file__), "bench.py")).read()
    assert '"rerun_attempts": rerun_attempts' in src
    assert "rerun_attempts[name].append" in src
