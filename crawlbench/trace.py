"""Spans around the engine's public entry points, and the Spark event log.

``Tracer`` patches functions where their callers look them up (``engine.py``
binds its operators at import time, so those are patched in the engine
module's namespace) and records one span per call: name, start, end, parent
and thread. Spans stay in memory until the run ends.

``read_event_log`` folds a Spark event log into jobs with their
``spark.job.description`` label, interval, executor run time, GC time and
input bytes. The per-stage task folding follows ``scripts/analyze_eventlog.py``.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, parent, name, start, end, thread)
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple] = []

    def _call(self, name: str, fn, args, kwargs):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        sid, parent = next(self._ids), (stack[-1] if stack else None)
        stack.append(sid)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self.spans.append((sid, parent, name, t0, time.time(), threading.get_ident()))

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer._call(name, orig, args, kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def named(self, name: str) -> list[tuple]:
        return [s for s in self.spans if s[2] == name]

    def self_time(self, span: tuple) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = [(s[3], s[4]) for s in self.spans if s[1] == span[0]]
        return (span[4] - span[3]) - covered(kids, span[3], span[4])


def instrument(tracer: Tracer) -> None:
    """Wrap the engine, store, operator and corpus entry points."""
    from acrawler_spark.operators import items, robots
    from acrawler_spark.plans import engine
    from acrawler_spark.sources import corpus, store

    for attr in ("run", "bootstrap", "run_round", "discard_prefetch", "discard_prep"):
        tracer.patch(engine.CrawlEngine, attr, f"plans.engine.{attr}")
    for attr in (
        "write_delta", "append_delta", "write_frontier", "append_frontier",
        "commit_round", "compact", "read_appended", "read_frontier",
        "read_delta_one", "abort_uncommitted",
    ):
        tracer.patch(store.CheckpointStore, attr, f"sources.store.{attr}")
    for attr, layer in (
        ("apply_host_budgets", "politeness"),
        ("global_schedule_rank", "politeness"),
        ("admit_new_candidates", "dedup"),
        ("candidates_from_links", "frontier"),
        ("seeds_frontier", "frontier"),
        ("build_fetch_join", "fetch"),
        ("build_misses", "fetch"),
        ("items_view", "views"),
        ("fetch_log_view", "views"),
        ("make_parse_page_udf", "udfs"),
    ):
        tracer.patch(engine, attr, f"operators.{layer}.{attr}")
    for attr in ("apply_robots", "rules_df", "delay_budgets_df"):
        tracer.patch(robots, attr, f"operators.robots.{attr}")
    tracer.patch(items.ItemSpec, "extract", "operators.items.extract")
    tracer.patch(corpus, "corpus_from_documents", "sources.corpus.corpus_from_documents")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# job description label -> layer (labels set by CrawlEngine._job)
JOB_LAYERS = (
    ("pages", re.compile(r"^r\d+ pages:")),
    ("politeness", re.compile(r"^r\d+ prepare:")),
    ("dedup", re.compile(r"^r\d+ seen:")),
    ("frontier", re.compile(r"^r\d+ (frontier core|frontier admitted|admitted):")),
    ("items", re.compile(r"^r\d+ items:")),
    ("misses", re.compile(r"^r\d+ miss(es| check):")),
)


def job_layer(desc: str | None) -> str:
    for layer, rx in JOB_LAYERS:
        if desc and rx.match(desc):
            return layer
    return "other"


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (single) application log in ``log_dir``: label, layer,
    start/end (epoch seconds), executor run ms, GC ms, input bytes."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                jobs[jid] = {
                    "desc": desc, "layer": job_layer(desc),
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "run_ms": 0, "gc_ms": 0, "in_bytes": 0, "tasks": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif e == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                m = ev.get("Task Metrics") or {}
                job["run_ms"] += m.get("Executor Run Time", 0)
                job["gc_ms"] += m.get("JVM GC Time", 0)
                job["in_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job["tasks"] += 1
    return [j for j in jobs.values() if j["end"] is not None]
