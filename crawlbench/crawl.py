"""The crawl workloads: corpus build, warm-up, the timed loop of crawls.

One driver runs crawls back to back (a closed loop: the next crawl starts
when the previous one has returned) until the next one would end past the
measuring window. Each crawl gets a fresh checkpoint store; nothing is
checked or read back until the window has closed.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from crawlbench.gen import Inputs, item_spec

FOLLOW = [r"site\d+\.test"]
WRITE_PARTITIONS = 4  # = cores of local[4]: one file per core per table write


def crawl_config(inp: Inputs):
    from acrawler_spark.plans.engine import CrawlConfig

    s = inp.shape
    return CrawlConfig(
        seeds=inp.seeds,
        follow_patterns=FOLLOW,
        max_tries=s.max_tries,
        max_requests_per_host=s.host_budget,
        special_host_budgets=inp.special,
        robots_rules=inp.robots or None,
        item_specs=[item_spec()] if s.items else [],
        bloom_bits=1 << 18,
        # the global-order rank and the per-partition lineage rollup are
        # parity-test and observability aids, off as in a production crawl
        record_rank=False,
        detailed_metrics=False,
        seen_compact_deltas=s.compact_deltas,
        max_depth=s.max_depth,
    )


def build_corpus(spark, inp: Inputs, work: str):
    """documents.parquet -> corpus_from_documents -> minus the dead pages ->
    parquet, read back as the table the engine joins against."""
    from acrawler_spark.sources import corpus as corpus_mod

    s = inp.shape
    sf_dir = os.path.join(work, "docs")
    os.makedirs(sf_dir, exist_ok=True)
    inp.write_documents(sf_dir)
    df = corpus_mod.corpus_from_documents(
        spark, sf_dir, n_hosts=s.n_hosts, fanout=s.fanout, multiplier=1,
        body_repeat=s.body_repeat,
    )
    if inp.dead:
        df = df.filter(~F.col("url").isin(sorted(inp.dead)))
    out = os.path.join(work, "corpus")
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out), out


class RoundClock:
    """When each ``run_round`` is entered and returns and when ``bootstrap``
    commits, on the wall clock. Always on: it is one clock read per call,
    and the URL wait metric needs the commit times."""

    def __init__(self) -> None:
        self.crawl = -1
        self.rounds: list[dict] = []
        self.bootstrap_end: dict[int, float] = {}

    def __enter__(self) -> "RoundClock":
        from acrawler_spark.plans.engine import CrawlEngine

        self._orig = (CrawlEngine.run_round, CrawlEngine.bootstrap)
        run_round, bootstrap = self._orig
        clock = self

        def timed_round(engine, rnd, *args, **kwargs):
            t0 = time.time()
            res = run_round(engine, rnd, *args, **kwargs)
            clock.rounds.append(
                {"crawl": clock.crawl, "round": rnd, "start": t0, "end": time.time(),
                 "result": res}
            )
            return res

        def timed_bootstrap(engine):
            bootstrap(engine)
            clock.bootstrap_end[clock.crawl] = time.time()

        CrawlEngine.run_round, CrawlEngine.bootstrap = timed_round, timed_bootstrap
        return self

    def __exit__(self, *exc) -> None:
        from acrawler_spark.plans.engine import CrawlEngine

        CrawlEngine.run_round, CrawlEngine.bootstrap = self._orig

    def commit_times(self, crawl: int) -> dict[int, float]:
        out = {0: self.bootstrap_end[crawl]}
        out.update({r["round"]: r["end"] for r in self.rounds if r["crawl"] == crawl})
        return out


def run_crawl(spark, inp: Inputs, corpus, root: str):
    from acrawler_spark.plans.engine import CrawlEngine
    from acrawler_spark.sources.store import CheckpointStore

    store = CheckpointStore(root, spark, write_partitions=WRITE_PARTITIONS)
    engine = CrawlEngine(spark, crawl_config(inp), store)
    t0 = time.monotonic()
    engine.run(corpus)
    return store, time.monotonic() - t0


def timed_crawls(spark, inp: Inputs, corpus, work: str, seconds: float, clock: RoundClock):
    """Crawl to completion, again and again, while the next crawl is
    expected to end inside ``seconds``. At least one crawl runs."""
    crawls = []
    t_begin = time.monotonic()
    while True:
        clock.crawl = len(crawls)
        start = time.time()
        store, wall = run_crawl(spark, inp, corpus, os.path.join(work, f"store{len(crawls)}"))
        crawls.append({"store": store, "wall_s": wall, "start": start})
        if time.monotonic() - t_begin + wall > seconds:
            return crawls


def warm_up(corpus, rows: int = 64) -> None:
    """Run the engine's parse UDF over a few corpus rows, so the Python
    workers are up and the UDF is shipped before timing starts."""
    from acrawler_spark.functions.udfs import make_parse_page_udf

    parse = make_parse_page_udf(True, FOLLOW)
    corpus.limit(rows).select(
        parse(F.col("html"), F.col("encoding"), F.col("url")).alias("p")
    ).select(F.sum(F.length("p.text"))).first()
