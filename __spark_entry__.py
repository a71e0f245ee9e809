"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship crawl (batch-iterative frontier engine over a
corpus derived from sf0.001 documents) and returns its fetch log.
``queries``/``oracle_sql`` expose every implemented operator from
SURVEY.md §2 plus the training-data ops, each paired with DuckDB oracle SQL
(rows-only where DuckDB 1.0 lacks the primitive, e.g. sha1).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from acrawler_spark import analytics, textops


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: seed 8 hosts on a documents-derived corpus, crawl to
    frontier exhaustion, return the fetch log (url, round, rank, status...)."""
    from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
    from acrawler_spark.sources.corpus import corpus_from_documents
    from acrawler_spark.sources.store import CheckpointStore

    sf_dir = "/root/testdata/sf0.001"
    n_hosts = 8
    corpus = corpus_from_documents(spark, sf_dir, n_hosts=n_hosts, fanout=4)
    seeds = [f"http://site{h}.test/p/{h}" for h in range(n_hosts)]
    cfg = CrawlConfig(
        seeds=seeds,
        follow_patterns=[r"site\d+\.test"],
        max_requests_per_host=64,
        max_rounds=12,
    )
    store = CheckpointStore(tempfile.mkdtemp(prefix="acrawler_entry_"), spark)
    CrawlEngine(spark, cfg, store).run(corpus)
    return store.read_appended("fetch_log")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (fn, _sql) in {**analytics.REGISTRY, **textops.REGISTRY}.items():
        out[name] = fn
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for name, (_fn, sql) in {**analytics.REGISTRY, **textops.REGISTRY}.items():
        if sql is not None:
            out[name] = sql
    return out
