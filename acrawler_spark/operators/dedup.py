"""URL-seen dedup: within-round dedup + exact anti-join against ``seen``.

Reference semantics (scheduler.py:39-62, 282-291): a candidate task is
admitted iff its fingerprint is not in the seen set; the fingerprint is
added at **schedule time** — a scheduled URL that later fails every retry
stays seen and is never re-crawled (SURVEY §2.3 critical semantic).
``dont_filter`` rows (retries/recrawl/reschedules) bypass the filter
entirely (scheduler.py:283-285) — in this engine they never leave the
frontier, so the filter below only ever sees newly-discovered candidates.

Batch admission contract: candidates discovered within one round are
deduplicated by earliest deterministic discovery index (SURVEY §7), then
anti-joined against the seen table. Admitted fingerprints are appended to
``seen`` in the same round commit, before they are ever fetched.

The whole admission is JVM-side: no Python evaluation node runs in the
admit pipeline or in the seen-delta write. The seen set is exact, like
the reference's SetDupefilter — there is no probabilistic prefilter in
front of it. AQE broadcasts ``seen`` while it is small and sort-merges it
once it is large; the scale path that removes the per-round seen shuffle
is a ``seen`` table bucketed on fingerprint (storage-partitioned join),
not a membership filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedupe_within_round(candidates: DataFrame) -> DataFrame:
    """First-discovered-wins within a round (deterministic: min
    discovery_idx per fingerprint — SURVEY §2.3/§7; discovery_idx is
    unique by construction, rank*1e6 + link position).

    Shape: groupBy + min_by, NOT a row_number window. The aggregate gets
    map-side partial aggregation — a big round's candidate explosion
    (fanout x pages, ~8:1 duplicate ratio at the bench corpus) collapses
    to near-distinct BEFORE the shuffle, and no per-key sort runs after
    it. The window form shuffled and sorted every raw candidate row."""
    cols = [c for c in candidates.columns if c != "fingerprint"]
    return (
        candidates.groupBy("fingerprint")
        .agg(F.min_by(F.struct(*cols), F.col("discovery_idx")).alias("_row"))
        .select("fingerprint", "_row.*")
        .select(*candidates.columns)
    )


def admit_new_candidates(candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Within-round dedup, then exact left-anti join against ``seen``.

    Returns the admitted rows (same schema as candidates). Caller appends
    their fingerprints to the seen table *in the same round commit*
    (schedule-time semantics, scheduler.py:45-50)."""
    fresh = dedupe_within_round(candidates)
    if seen is None:
        return fresh
    return fresh.join(seen.select("fingerprint"), "fingerprint", "left_anti")
