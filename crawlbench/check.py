"""Correctness gate for one finished crawl, run outside the timed region.

A crawl passes when it fetched every reachable URL exactly once, each with
extracted text byte-identical to the generator's, item fields equal to the
generator's, every dead page tried ``max_tries + 1`` times and then failed
once, every disallowed URL recorded as blocked and never fetched, and the
final seen set equal to the fetched pages plus the dead and blocked ones.
Any mismatch raises ``GateError``; it is never turned into a metric.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from crawlbench.gen import Inputs


class GateError(AssertionError):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise GateError(msg)


def _diff(got: set, want: set) -> str:
    extra, missing = sorted(got - want)[:3], sorted(want - got)[:3]
    return f"{len(got - want)} unexpected {extra}, {len(want - got)} missing {missing}"


def check_crawl(store, inp: Inputs) -> dict:
    """Verify the committed store against the ground truth; return the
    counts the metrics need (fetched pages, attempts, admission rounds)."""
    s = inp.shape
    pages = store.read_appended("pages")
    rows = pages.select(
        "url", "fingerprint", "round", "ok", "final_fail",
        F.sha2("text", 256).alias("h"),
        "bytes",
        F.coalesce(F.size("links"), F.lit(0)).alias("n_links"),
    ).collect()

    ok_urls = Counter(r["url"] for r in rows if r["ok"])
    dup = [u for u, n in ok_urls.items() if n != 1]
    _require(not dup, f"pages fetched more than once: {dup[:3]}")
    _require(set(ok_urls) == inp.fetched, "fetched set: " + _diff(set(ok_urls), inp.fetched))
    bad_text = [r["url"] for r in rows if r["ok"] and r["h"] != inp.text_sha[r["url"]]]
    _require(not bad_text, f"extracted text differs on {len(bad_text)} pages: {bad_text[:3]}")

    failed_rows = [r for r in rows if not r["ok"]]
    unplanned = [r["url"] for r in failed_rows if r["url"] not in inp.dead]
    _require(not unplanned, f"unplanned fetch failures: {unplanned[:3]}")
    tries = Counter(r["url"] for r in failed_rows)
    finals = Counter(r["url"] for r in failed_rows if r["final_fail"])
    _require(set(tries) == inp.dead, "dead pages tried: " + _diff(set(tries), inp.dead))
    wrong = [u for u in inp.dead if tries[u] != s.max_tries + 1 or finals[u] != 1]
    _require(not wrong, f"dead pages not retried {s.max_tries} times then failed: {wrong[:3]}")

    blocked_df = store.read_appended("robots_blocked")
    blocked = blocked_df.select("url", "fingerprint").collect() if blocked_df is not None else []
    _require(
        {r["url"] for r in blocked} == inp.blocked,
        "robots-blocked set: " + _diff({r["url"] for r in blocked}, inp.blocked),
    )

    seen = store.read_appended("seen").select("fingerprint", "added_round").collect()
    seen_fps = Counter(r["fingerprint"] for r in seen)
    _require(all(n == 1 for n in seen_fps.values()), "a fingerprint was admitted twice")
    want_fps = {r["fingerprint"] for r in rows} | {r["fingerprint"] for r in blocked}
    _require(set(seen_fps) == want_fps, "seen set: " + _diff(set(seen_fps), want_fps))

    n_items = 0
    if s.items:
        items = (
            store.read_appended("items")
            .filter(F.col("family") == "doc")
            .select(
                "url",
                F.sha2(
                    F.concat_ws(
                        "\x1f",
                        F.col("content")["title"],
                        F.col("content")["doc_no"],
                        F.col("content")["content"],
                    ),
                    256,
                ).alias("h"),
            )
            .collect()
        )
        n_items = len(items)
        per_url = Counter(r["url"] for r in items)
        _require(
            set(per_url) == inp.fetched and all(n == 1 for n in per_url.values()),
            "items: " + _diff(set(per_url), inp.fetched),
        )
        bad = [r["url"] for r in items if r["h"] != inp.item_sha[r["url"]]]
        _require(not bad, f"item fields differ on {len(bad)} pages: {bad[:3]}")

    added = {r["fingerprint"]: r["added_round"] for r in seen}
    return {
        "pages_ok": len(ok_urls),
        "attempts": len(rows),
        "planned_404s": len(failed_rows),
        # (round admitted, round fetched) of every fetched URL
        "waits": Counter((added[r["fingerprint"]], r["round"]) for r in rows if r["ok"]),
        "html_bytes": sum(r["bytes"] for r in rows),
        "candidates": sum(r["n_links"] for r in rows if r["ok"]),
        "items": n_items,
        "blocked": len(blocked),
    }
