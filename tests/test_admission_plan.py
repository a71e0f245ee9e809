"""Plan-level guard: URL admission and the seen-delta write stay JVM-side.

A Python evaluation node in either plan puts an Arrow round trip (and a
Python worker stage) on every round's commit path; the exact anti-join
against ``seen`` needs none."""

from acrawler_spark.plans import engine as engine_mod
from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls
from acrawler_spark.sources.store import CheckpointStore

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython")


def _python_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in PYTHON_NODES if n in plan]


def test_admit_and_seen_write_have_no_python_stage(spark, tmp_path, monkeypatch):
    admitted, seen_writes = [], []
    admit = engine_mod.admit_new_candidates

    def spy_admit(*args, **kwargs):
        df = admit(*args, **kwargs)
        admitted.append(df)
        return df

    write_delta = CheckpointStore.write_delta

    def spy_write(self, table, rnd, df, *args, **kwargs):
        if table == "seen":
            seen_writes.append(df)
        return write_delta(self, table, rnd, df, *args, **kwargs)

    monkeypatch.setattr(engine_mod, "admit_new_candidates", spy_admit)
    monkeypatch.setattr(CheckpointStore, "write_delta", spy_write)

    corpus = fixture_corpus_df(spark, n_hosts=2, depth=1, fanout=2)
    cfg = CrawlConfig(seeds=seed_urls(2), follow_patterns=[r"site\d+\.test"])
    engine = CrawlEngine(spark, cfg, CheckpointStore(str(tmp_path / "s"), spark))
    engine.bootstrap()
    engine.run_round(1, corpus)

    assert len(admitted) == 1
    assert len(seen_writes) == 2  # bootstrap + round 1
    for df in admitted + seen_writes:
        assert _python_nodes(df) == []
