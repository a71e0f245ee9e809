"""Kill-and-resume: a crawl stopped mid-run resumes from the last committed
round and produces exactly the state of an uninterrupted run (SURVEY §5.4;
reference analog: persistent crawl + shutdown put-back, crawler.py:558-638)."""

import json
import os

import numpy as np

from acrawler_spark.plans.engine import CrawlConfig, CrawlEngine
from acrawler_spark.sources.corpus import fixture_corpus_df, seed_urls
from acrawler_spark.sources.store import CheckpointStore

FOLLOW = [r"site\d+\.test"]


def _cfg():
    return CrawlConfig(seeds=seed_urls(2), follow_patterns=FOLLOW, bloom_bits=1 << 14)


def _final_state(store):
    seen = {r["fingerprint"] for r in store.read_appended("seen").collect()}
    items = {
        (r["url"], r["extracted_text"]) for r in store.read_appended("items").collect()
    }
    sched = {
        (r["round"], r["rank"], r["url_canon"])
        for r in store.read_appended("fetch_log").collect()
    }
    return seen, items, sched


def test_kill_and_resume_identical(spark, tmp_path):
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=2, fanout=3)

    # uninterrupted run
    s_full = CheckpointStore(str(tmp_path / "full"), spark)
    CrawlEngine(spark, _cfg(), s_full).run(corpus)

    # interrupted run: stop after 2 rounds, then resume with a fresh engine
    s_part = CheckpointStore(str(tmp_path / "part"), spark)
    e1 = CrawlEngine(spark, _cfg(), s_part)
    e1.bootstrap()
    e1.run_round(1, corpus)
    e1.run_round(2, corpus)
    # simulate a crash mid-round-3: stage some files without committing
    e1.store.write_delta("items", 3, s_part.read_appended("items").limit(1))
    del e1

    s_resume = CheckpointStore(str(tmp_path / "part"), spark)
    assert s_resume.last_round == 2
    e2 = CrawlEngine(spark, _cfg(), s_resume)
    e2.run(corpus)

    assert _final_state(s_resume) == _final_state(s_full)


def _dir_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as f:
            out[n] = f.read()
    return out


def _plant_legacy_bloom(root: str) -> dict[str, bytes]:
    """The ``seen/_bloom/`` sidecar older versions kept next to the seen
    deltas: meta.json + one uint64 bitmap per bucket. All-zero bitmaps are
    the worst case — a reader that trusted them would call every
    fingerprint new and re-admit the whole seen set."""
    d = os.path.join(root, "seen", "_bloom")
    os.makedirs(d)
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump({"n_buckets": 4, "m_bits": 1 << 12}, f)
    for b in range(4):
        np.save(os.path.join(d, f"bucket_{b}.npy"), np.zeros(64, dtype=np.uint64))
    return _dir_bytes(d)


def test_resume_ignores_legacy_bloom_dir(spark, tmp_path):
    corpus = fixture_corpus_df(spark, n_hosts=2, depth=1, fanout=2)
    s_full = CheckpointStore(str(tmp_path / "full"), spark)
    CrawlEngine(spark, _cfg(), s_full).run(corpus)

    root = str(tmp_path / "s")
    e1 = CrawlEngine(spark, _cfg(), CheckpointStore(root, spark))
    e1.bootstrap()
    e1.run_round(1, corpus)
    legacy = _plant_legacy_bloom(root)

    s_resume = CheckpointStore(root, spark)
    CrawlEngine(spark, _cfg(), s_resume).run(corpus)
    log = s_resume.read_appended("fetch_log")
    per_url = log.groupBy("url_canon").count().filter("count > 1").count()
    assert per_url == 0  # nothing fetched twice (no recrawl configured)
    assert _final_state(s_resume) == _final_state(s_full)
    # never read as seen data, never rewritten
    assert _dir_bytes(os.path.join(root, "seen", "_bloom")) == legacy
