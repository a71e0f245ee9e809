"""The crawl benchmark: one command, one workload, one seed.

    python3 crawlbench/run.py --workload crawl_bulk --seed 1 --seconds 25 --trace 0

Run from the repository root. It starts one ``local[4]`` Spark session in
this process, generates the workload's inputs from the seed, warms up,
crawls in a closed loop for ``--seconds``, checks every crawl against the
generator's ground truth, and prints each metric by name with its unit. The
last line of standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop with the Spark event log on and spans around the engine's entry
points, and reports the per-layer metrics. Everything the run writes goes
under ``.bench_work/`` in the working directory, including ``report.json``
with the environment record, the per-round timings and both metric sets.
See ``crawlbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"
DRIVER_HEAP = "1g"  # ample for these inputs; a small cap keeps peak RSS steady
STORE_TABLES = ("pages", "seen", "frontier", "items", "robots_blocked", "metrics")


def parse_args(argv=None):
    from crawlbench.gen import SHAPES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SHAPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    """The benchmark's own session. The event log is on only when tracing."""
    from acrawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        # one plain JSON-lines file per run
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark("crawlbench", master=MASTER, shuffle_partitions=4, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in (it exits when its stdin closes;
    its Python workers exit with it), and wait until the JVM has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    return sorted_vals[max(0, math.ceil(p / 100.0 * len(sorted_vals)) - 1)]


def tail(vals: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten samples
    beyond it; with ten or fewer samples none has, and the max is used."""
    v = sorted(vals)
    if len(v) <= 10:
        return v[-1], 100.0
    return v[len(v) - 11], 100.0 * (len(v) - 10) / len(v)


def url_waits(facts: list[dict], clock) -> list[float]:
    """Per fetched URL: commit of the round that fetched it minus commit of
    the round that admitted it."""
    out = []
    for crawl, f in enumerate(facts):
        t = clock.commit_times(crawl)
        for (added, fetched), n in f["waits"].items():
            out.extend([t[fetched] - t[added]] * n)
    return sorted(out)


def end_to_end(setup_s, crawls, facts, clock, peak_rss, store_bytes) -> tuple[dict, dict, dict]:
    rounds = [r["end"] - r["start"] for r in clock.rounds]
    pages = sum(f["pages_ok"] for f in facts)
    waits = url_waits(facts, clock)
    tail_v, tail_p = tail(rounds)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pages_per_s": (pages / sum(c["wall_s"] for c in crawls), "1/s"),
        "round_p50_s": (statistics.median(rounds), "s"),
        "url_wait_p99_s": (nearest_rank(waits, 99), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "store_bytes_per_page": (store_bytes / pages, "B"),
    }
    # reported, not gated: with two rounds a crawl the tail is the slower
    # round, and most URLs are seeds whose wait is the first round
    info = {
        "round_tail_s": (tail_v, "s"),
        "url_wait_p50_s": (nearest_rank(waits, 50), "s"),
    }
    notes = {
        "crawls": len(crawls),
        "rounds": len(rounds),
        "round_tail_percentile": tail_p,
        "urls_waited": len(waits),
        "pages_fetched": pages,
    }
    return metrics, info, notes


def per_layer(tracer, jobs, crawls, facts, clock, census, setup) -> dict:
    """Per-layer metrics of a traced run (see README.md for the map)."""
    from crawlbench.trace import covered

    t_lo = min(c["start"] for c in crawls)
    t_hi = max(r["end"] for r in clock.rounds)
    jobs = [j for j in jobs if t_lo <= j["start"] <= t_hi]
    pages = sum(f["pages_ok"] for f in facts)
    results = [r["result"] for r in clock.rounds]
    n_rounds = len(results)

    def layer_jobs(layer):
        return [j for j in jobs if j["layer"] == layer]

    def union_s(js):
        return covered([(j["start"], j["end"]) for j in js], float("-inf"), float("inf"))

    def span_sum(name):
        return sum(s[4] - s[3] for s in tracer.named(name))

    job_iv = [(j["start"], j["end"]) for j in jobs]
    gap = sum(
        (r["end"] - r["start"]) - covered(job_iv, r["start"], r["end"]) for r in clock.rounds
    )
    in_round = [
        j for j in jobs
        if any(r["start"] <= j["start"] <= r["end"] for r in clock.rounds)
    ]
    page_jobs = layer_jobs("pages")
    timing_sum = lambda k: sum(float(r["timing"].get(k, 0.0)) for r in results)
    round_spans = tracer.named("plans.engine.run_round")
    # a discard that held a live prefetch calls into the store (abort the
    # staged round); an empty one returns at once, with no child span
    parents = {s[1] for s in tracer.spans}
    discards = sum(1 for s in tracer.named("plans.engine.discard_prefetch") if s[0] in parents)
    frontier_rows = [
        int(st.get("frontier_n", 0))
        for c in crawls
        for st in c["store"].read_manifest().get("rounds", {}).values()
    ]
    candidates = sum(f["candidates"] for f in facts)
    admitted = sum(int(r["admitted"]) for r in results)
    m = {
        "plans.engine.pages_stage_s": (timing_sum("pages_stage"), "s"),
        "plans.engine.commit_dag_build_s": (timing_sum("commit_dag_build"), "s"),
        "plans.engine.commit_writes_s": (timing_sum("commit_writes"), "s"),
        "plans.engine.driver_gap_s": (gap, "s"),
        "plans.engine.round_self_s": (sum(tracer.self_time(s) for s in round_spans), "s"),
        "plans.engine.jobs_per_round": (len(in_round) / n_rounds, "count"),
        "plans.engine.corpus_bytes_per_page": (sum(j["in_bytes"] for j in page_jobs) / pages, "B"),
        "plans.engine.prefetch_claim_ratio": (
            sum(1 for r in results if r["timing"].get("mode") == "prefetch") / n_rounds, "ratio"),
        "plans.engine.prefetch_discarded": (discards, "count"),
        "functions.udfs.task_ms_per_page": (sum(j["run_ms"] for j in page_jobs) / pages, "ms"),
        "functions.udfs.html_mb": (sum(f["html_bytes"] for f in facts) / 1e6, "MB"),
        "operators.items.wall_s": (union_s(layer_jobs("items")), "s"),
        "operators.items.rows": (sum(f["items"] for f in facts), "count"),
        "operators.politeness.wall_s": (union_s(layer_jobs("politeness")), "s"),
        "operators.politeness.selected_per_round": (
            sum(int(r["selected"]) for r in results) / n_rounds, "count"),
        "operators.politeness.deferred": (sum(int(r["deferred"]) for r in results), "count"),
        "operators.dedup.wall_s": (union_s(layer_jobs("dedup")), "s"),
        "operators.dedup.candidates": (candidates, "count"),
        "operators.dedup.admit_ratio": (admitted / candidates if candidates else 0.0, "ratio"),
        "operators.frontier.wall_s": (union_s(layer_jobs("frontier")), "s"),
        "operators.frontier.rows_max": (max(frontier_rows, default=0), "count"),
        "operators.robots.blocked": (sum(f["blocked"] for f in facts), "count"),
        "sources.store.commit_s": (
            sum(span_sum(f"sources.store.{a}") for a in (
                "write_delta", "append_delta", "write_frontier", "append_frontier",
                "commit_round")), "s"),
        "sources.store.compact_s": (span_sum("sources.store.compact"), "s"),
        "sources.store.compactions": (len(tracer.named("sources.store.compact")), "count"),
        "sources.store.read_s": (
            sum(span_sum(f"sources.store.{a}") for a in (
                "read_appended", "read_frontier", "read_delta_one")), "s"),
        "sources.corpus.build_s": (setup["corpus_build_s"], "s"),
        "sources.corpus.bytes": (setup["corpus_bytes"], "B"),
        "session.start_s": (setup["session_start_s"], "s"),
        "session.gc_s": (sum(j["gc_ms"] for j in jobs) / 1000.0, "s"),
    }
    for t in STORE_TABLES:
        m[f"sources.store.bytes.{t}"] = (
            sum(c.get(t, 0) for c in census) / len(census), "B")
    return m


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "acrawler_spark")):
        print("crawlbench: the acrawler_spark package is not here; run from the "
              "repository root of a full checkout", file=sys.stderr)
        return 2
    args = parse_args(argv)

    t_setup = time.monotonic()
    from crawlbench import check, crawl, envrec, gen, trace

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    env = envrec.environment(ROOT)

    shape = gen.SHAPES[args.workload]
    t0 = time.monotonic()
    spark = start_session(work, bool(args.trace))
    spark.range(1).count()
    session_start_s = time.monotonic() - t0
    tracer = trace.Tracer()
    try:
        inp = gen.make_inputs(shape, args.seed)
        if args.trace:
            trace.instrument(tracer)
        t0 = time.monotonic()
        corpus, corpus_dir = crawl.build_corpus(spark, inp, work)
        corpus_build_s = time.monotonic() - t0
        crawl.warm_up(corpus)
        setup = {
            "session_start_s": session_start_s,
            "corpus_build_s": corpus_build_s,
            "corpus_bytes": envrec.dir_bytes(corpus_dir),
        }
        setup_s = time.monotonic() - t_setup

        steal0 = envrec.steal_jiffies()
        with crawl.RoundClock() as clock, envrec.RssSampler() as rss:
            crawls = crawl.timed_crawls(spark, inp, corpus, work, args.seconds, clock)
        env["steal_jiffies_during"] = envrec.steal_jiffies() - steal0
        env["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
        env["loadavg_after"] = os.getloadavg()

        facts, census = [], []
        try:
            for c in crawls:
                facts.append(check.check_crawl(c["store"], inp))
                census.append(envrec.store_census(c["store"].root))
        except check.GateError as e:
            print(f"crawlbench: correctness gate failed: {e}", file=sys.stderr)
            print(json.dumps({"correct": False, "attempted": max(1, len(crawls)),
                              "failed": 1, "metrics": {}}))
            return 1
        store_bytes = sum(sum(c.values()) for c in census)
        e2e, info, notes = end_to_end(setup_s, crawls, facts, clock, rss.peak, store_bytes)
    finally:
        tracer.restore()
        stop_session(spark)

    layers = {}
    if args.trace:
        # the event log is complete once the session has stopped
        jobs = trace.read_event_log(os.path.join(work, "eventlog"))
        layers = per_layer(tracer, jobs, crawls, facts, clock, census, setup)
        # traced end-to-end figures: against an untraced run's they give the
        # tracing overhead
        for k in ("pages_per_s", "round_p50_s", "url_wait_p99_s"):
            layers[f"traced.{k}"] = e2e[k]

    shown = layers if args.trace else e2e
    report = {
        "args": vars(args), "environment": env, "setup": setup, "notes": notes,
        "inputs": {"seeds": len(inp.seeds), "fetched": len(inp.fetched),
                   "dead": len(inp.dead), "blocked": len(inp.blocked),
                   "planned_404s": inp.planned_404s, "robots": inp.robots,
                   "special_budgets": inp.special},
        "rounds": [
            {k: r[k] for k in ("crawl", "round", "start", "end")} | {
                "wall_s": r["end"] - r["start"], "timing": r["result"]["timing"],
                "selected": r["result"]["selected"], "deferred": r["result"]["deferred"]}
            for r in clock.rounds
        ],
        "store_census": census,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "informational": {k: v for k, (v, _u) in info.items()},
        "per_layer": {k: v for k, (v, _u) in layers.items()},
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for c in crawls:
        shutil.rmtree(c["store"].root, ignore_errors=True)

    for name, (value, unit) in shown.items():
        print(f"{name:48s} {value:14.4f} {unit}")
    if not args.trace:
        for name, (value, unit) in info.items():
            print(f"{name + ' (not gated)':48s} {value:14.4f} {unit}")
    attempted = sum(f["attempts"] for f in facts) - sum(f["planned_404s"] for f in facts)
    print(json.dumps({
        "correct": True,
        "attempted": attempted,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
