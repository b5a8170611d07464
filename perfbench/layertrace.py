"""Spans around the library's public layer calls, from outside the library.

A traced job swaps the layer functions that ``plans.tweets`` and
``operators.pairs`` look up at call time for wrappers that open a span,
cache and materialise the layer's result, and close the span, so each
span covers its own layer's work only (its input was materialised by
the span before it). Every span is also a Spark job group, which lets
the engine's event log be attributed to spans afterwards.

Spans stay in memory and are written out at the end of the run with
their self time: duration minus the part covered by child spans.
"""

from __future__ import annotations

import collections
import contextlib
import json
import time

from datapipelinedemo_spark.operators import pairs as pairs_mod
from datapipelinedemo_spark.plans import tweets as tweets_mod

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, run_id: int) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, sid: int) -> None:
        self.sc.setJobGroup(f"r{self.run_id}/s{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "run": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._group(self._stack[-1])

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def materialise(self, rec: dict, df):
        """Cache ``df`` and compute it inside the current span."""
        before = self.cached_mb()
        df = df.cache()
        rec["rows"] = df.count()
        rec["mb"] = self.cached_mb() - before
        return df

    @contextlib.contextmanager
    def patched(self):
        """Route the pipeline's layer calls through spans."""
        orig = {name: getattr(tweets_mod, name) for name in (
            "enrich", "pin", "extract_phrases", "score_sentiment",
            "frequency_monthly", "sentiments_monthly",
            "frequency_2d_monthly", "sentiment2d_monthly", "_month_labels")}
        orig_pairs = pairs_mod.explode_pairs

        def layer(span_name, fn):
            def wrapped(*args, **kw):
                with self.span(span_name) as rec:
                    return self.materialise(rec, fn(*args, **kw))
            return wrapped

        def pin(df):
            # pin's input is the F1-F7 cleaning prefix over the scan
            with self.span("functions.cleaning") as rec:
                df = self.materialise(rec, df)
            with self.span("pin") as rec:
                before = self.cached_mb()
                out = orig["pin"](df)
                rec["rows"] = out.count()
                rec["mb"] = self.cached_mb() - before
            return out

        def table(name):
            def wrapped(enriched):
                with self.span(f"plans.tweets.{name}") as rec:
                    return self.materialise(rec, orig[name](enriched))
            return wrapped

        def month_labels(long, prefix):
            # building a table's plan passes its grouped long frame here
            table_span = self.spans[self._stack[-1]]["name"]
            with self.span(f"{table_span}.long") as rec:
                long = self.materialise(rec, long)
            with self.span("plans.tweets._month_labels"):
                return orig["_month_labels"](long, prefix)

        def enrich(*args, **kw):
            with self.span("plans.tweets.enrich") as rec:
                out = orig["enrich"](*args, **kw)
                before = self.cached_mb()
                rec["rows"] = out.count()
                rec["mb"] = self.cached_mb() - before
            return out

        repl = {
            "enrich": enrich,
            "pin": pin,
            "extract_phrases": layer("functions.ner", orig["extract_phrases"]),
            "score_sentiment": layer("functions.sentiment", orig["score_sentiment"]),
            **{name: table(name) for name in (
                "frequency_monthly", "sentiments_monthly",
                "frequency_2d_monthly", "sentiment2d_monthly")},
            "_month_labels": month_labels,
        }
        try:
            for name, fn in repl.items():
                setattr(tweets_mod, name, fn)
            pairs_mod.explode_pairs = layer("operators.pairs", orig_pairs)
            yield
        finally:
            for name, fn in orig.items():
                setattr(tweets_mod, name, fn)
            pairs_mod.explode_pairs = orig_pairs


def self_times(spans: list[dict]) -> None:
    child = collections.defaultdict(float)
    for s in spans:
        s["dur"] = s["end"] - s["start"]
        if s["parent"] is not None:
            child[(s["run"], s["parent"])] += s["dur"]
    for s in spans:
        s["self"] = s["dur"] - child[(s["run"], s["id"])]


def _explode_rows(plan: dict, rows: collections.Counter) -> tuple[int, int, int] | None:
    """(rows out of the first Generate that ran, and out of the first and
    second joins above it) in a physical plan; ``rows`` maps each
    "number of output rows" metric to what the group's tasks added."""
    def out_rows(node):
        return sum(rows[m["accumulatorId"]] for m in node.get("metrics", ())
                   if m["name"] == "number of output rows")

    stack = [(plan, ())]
    while stack:
        node, above = stack.pop()
        if node["nodeName"] == "Generate" and out_rows(node):
            joins = [out_rows(a) for a in reversed(above) if a["nodeName"].endswith("Join")]
            return out_rows(node), *(joins + [0, 0])[:2]
        stack += [(c, above + (node,)) for c in reversed(node.get("children", ()))]
    return None


def engine_counters(event_log: str) -> dict[str, collections.Counter]:
    """Per job group ("r<run>/s<span>"): jobs, stages, tasks, scheduler
    delay, shuffle write, spill and GC time, from the engine's event log.
    A stage is charged to the first job that lists it, which is the one
    that ran its tasks.

    For a group whose SQL ran an explode (the NER and sentiment token
    streams) also the rows the explode produced (``explode_rows``) and
    the rows out of the first and second joins above it
    (``explode_join1_rows``, ``explode_join2_rows``), counted by the
    operators' own row metrics in the group's tasks."""
    stage_group: dict[int, str] = {}
    stages: dict[str, set] = collections.defaultdict(set)
    out: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}  # SQL execution -> its latest physical plan
    rows: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is not None:
                    out[group]["jobs"] += 1
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
                for st in ev["Stage IDs"]:
                    stage_group.setdefault(st, group)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                c = out[group]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                for a in info.get("Accumulables", ()):
                    if a.get("Name") == "number of output rows":
                        rows[group][a["ID"]] += int(a["Update"])
                stages[group].add(ev["Stage ID"])
                c["tasks"] += 1
                busy = (m.get("Executor Deserialize Time", 0) + m.get("Executor Run Time", 0)
                        + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
                c["scheduler_delay_s"] += max(0, info["Finish Time"] - info["Launch Time"] - busy) / 1e3
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
                c["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / MB
    for group, st in stages.items():
        out[group]["stages"] = len(st)
    for ex, group in exec_group.items():
        found = _explode_rows(plans.get(ex, {"nodeName": ""}), rows[group])
        if found and "explode_rows" not in out[group]:
            out[group].update(dict(zip(
                ("explode_rows", "explode_join1_rows", "explode_join2_rows"), found)))
    return out
