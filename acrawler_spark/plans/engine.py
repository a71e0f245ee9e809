"""The batch-iterative crawl engine: driver round loop over DataFrame plans.

One round == one pass of the reference worker loop over every currently-due
task (crawler.py:61-136), quantized to a logical clock:

    read frontier -> filter(exetime <= now)                 [eligibility]
    -> per-host budget Window (salted)                      [politeness]
    -> global round cap (TakeOrderedAndProject)             [MAX_REQUESTS]
    -> left join corpus on (url_canon, method)              [fetch]
    -> handler middleware (family-scoped), skip/defer flags [middleware]
    -> Arrow UDF: decode + absolutize + links               [parse]
    -> explode links -> canonicalize+fingerprint (JVM)      [follow]
    -> within-round dedup + exact anti-join seen            [dupefilter]
    -> retry / recrawl / defer branches                     [lifecycle]
    -> commit as one snapshot                               [persistence]

A round's actions are the pages stage (fetch join + parse + counters via
observe), the admitted-cache count, the seen delta and the frontier rewrite
(a broadcast anti-join, windows run once, carrying next-round due stats in
the manifest); items / fetch_log / failed are virtual projections of the
pages delta (plans/views.py) and metrics materialize once per crawl from
the manifest. Each action is several Spark jobs: AQE submits every shuffle
stage of a query as its own job, and the prepare (politeness selection),
miss-check and items jobs come on top, so the crawl benchmark's traced run
counts 22.5 (bulk) to 37 (polite) jobs per round
(`plans.engine.jobs_per_round`).

Determinism contract (tests/oracle.py mirrors it 1:1): logical clock
now = t0 + round; total order (priority DESC, exetime ASC, fingerprint ASC);
within-round discovery order (parent rank, link position).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from acrawler_spark.functions.udfs import make_parse_page_udf
from acrawler_spark.operators.dedup import admit_new_candidates, dedupe_within_round
from acrawler_spark.operators.frontier import (
    FRONTIER_SCHEMA,
    candidates_from_links,
    seeds_frontier,
)
from acrawler_spark.operators.politeness import (
    apply_host_budgets,
    global_schedule_rank,
    rank_keys,
)
from acrawler_spark.plans.views import fetch_log_view, items_view
from acrawler_spark.sources.store import CheckpointStore




@dataclass
class CrawlConfig:
    """Mirrors the reference's setting.py knobs (defaults setting.py:23-53)."""

    seeds: list[str] = field(default_factory=list)
    follow_patterns: list[str] = field(default_factory=list)  # empty => no following (parser.py:86)
    max_tries: int = 3  # MAX_TRIES (setting.py:43-44); retry while tries <= max_tries (crawler.py:100)
    max_requests_per_host: int = 0  # 0 = unlimited (counter.py:21-23)
    special_host_budgets: dict[str, int] = field(default_factory=dict)  # substring-matched (counter.py:79)
    download_delay: float = 0.0  # converted to per-round budget: floor(round_seconds/delay)
    round_seconds: float = 1.0  # logical wall-time per round
    round_cap: int | None = None  # global per-round fetch cap (MAX_REQUESTS quantized)
    status_allowed: list[int] | None = None  # None => only 200 ok; [] => all ok (http.py:270-281)
    links_to_abs: bool = True
    child_priority: int = 0
    seed_priority: int = 0
    seed_recrawl: int = 0  # task.recrawl for seeds (crawler.py:122-126)
    max_depth: int | None = None
    max_rounds: int = 1000
    t0: float = 1767225600.0  # logical epoch base (FIXTURES.md)
    # accepted and ignored: the seen set is exact (a left-anti join), there
    # is no Bloom prefilter to size; kept so existing callers still construct
    bloom_bits: int = 1 << 20
    salt_n: int = 4
    record_rank: bool = True  # per-round global rank in fetch_log (order-parity tests)
    detailed_metrics: bool = True  # count deferred rows per round (extra job)
    seeds_inbox: str | None = None  # drop-dir seed ingestion (redis feeder analog)
    robots_rules: dict | None = None  # {host: {"disallow": [...], "crawl_delay": s}}
    # corpus bucket layout (Iceberg bucket(url) analog): when set and the
    # corpus carries a `bucket` partition column == pmod(xxhash64(url), n),
    # the fetch join adds the bucket equi-condition so dynamic partition
    # pruning skips every corpus partition the round doesn't touch — small
    # rounds stop paying a full corpus scan
    corpus_bucket_n: int | None = None
    # Broadcast policy for the fetch join / frontier anti-join: the selected
    # side is broadcast only when a PROVEN bound says it fits driver-side —
    # round_cap, or the committed frontier row count (an upper bound on any
    # round's selected set) staying under broadcast_max_rows. Without the
    # hint AQE's initial SMJ plan lets the corpus map-side shuffle (the
    # round's largest payload) start before runtime conversion, so bounded
    # rounds want the hint — but an unbounded selected set must never be
    # forced driver-side (VERDICT r2 #2: the old flag could force-broadcast
    # an arbitrarily large set). broadcast_selected=False disables the hint
    # unconditionally; True never forces it past the proven bound.
    broadcast_selected: bool = True
    broadcast_max_rows: int = 4_000_000
    # Live-HTTP transport (sources/netfetch.py): when set (a kwargs dict
    # for build_fetch_http — timeout_s/delay_s/max_bytes/user_agent), the
    # round fetches over the network via a per-partition urllib client
    # instead of joining a corpus table. Every selected row yields exactly
    # one page row (transport errors become inline 404/null-body rows), so
    # the all-hits fast path always applies and the miss job never runs.
    http_fetch: dict | None = None
    in_pattern: str | None = None  # parse gate by response url (parser.py:62-73)
    follow_limit: int | None = None  # max followed links per page (http.py:387-435)
    # Callback-chain inheritance for followed links (ADVICE r3 #2). In the
    # reference only Response.paginate copies the parent's callbacks
    # (http.py:427-435); Response.follow takes an explicit callback
    # (default None) and Parser.parse_links yields bare Request(link)
    # (parser.py:97). "inherit" (default) treats follow_patterns as the
    # paginate shape — children keep the parent's callback_family, so a
    # listing's ItemSpec also parses its pagination pages. "reset" is the
    # bare-follow shape: children carry NO callback chain and
    # callback_family-scoped ItemSpecs never fire on them.
    follow_callbacks: str = "inherit"
    item_specs: list = field(default_factory=list)  # operators.items.ItemSpec per family
    # middleware: {"before_parse"|"after_parse": [(priority, fn(df, ctx) -> df)]}
    # — family-matched, priority-descending handler stages (middleware.py:70-186)
    handlers: dict = field(default_factory=dict)
    seen_compact_deltas: int = 16  # compact seen when this many deltas accrue
    # Contract: the corpus is a keyed resource table — at most ONE row per
    # (url[, method]), the shape of a fetch (one response per request,
    # http.py:258-281). Under it, |hit rows| == |selected| proves the round
    # had zero corpus misses, and the miss job (hit-fp broadcast + anti-join
    # + delta append — fixed driver-serial cost per round) is skipped
    # entirely; the counts ride jobs that already run. Set False for corpora
    # with duplicate keys (every selected key then fans out into multiple
    # page rows AND the equality test could mask a miss) — the anti-join
    # miss path then runs every round.
    corpus_unique_keys: bool = True

    def effective_host_budget(self) -> int:
        """Fold DOWNLOAD_DELAY into the per-host round budget: with delay d,
        a host serves at most floor(round_seconds/d) fetches per round
        (counter.py:97-107, jitter disabled for determinism)."""
        budget = self.max_requests_per_host
        if self.download_delay > 0:
            delay_budget = max(1, int(self.round_seconds / self.download_delay))
            budget = delay_budget if budget <= 0 else min(budget, delay_budget)
        return budget


def build_fetch_join(
    selected_ranked: DataFrame,
    corpus: DataFrame,
    frontier_cols: list,
    cfg: "CrawlConfig",
    bounded: bool,
) -> DataFrame:
    """The round's fetch = corpus join selected (SURVEY §2.1), honoring the
    request method (http.py:100, fingerprint http.py:142): a corpus with a
    `method` column joins on (url, method); otherwise its rows are GET
    resources and non-GET requests miss.

    JOIN SHAPE MATTERS: a plain `selected LEFT OUTER corpus` cannot
    broadcast its small (preserved) side, so Spark sort-merge-joins —
    shuffling the ENTIRE decompressed corpus every round, I/O-bound
    work that scales with nothing. Instead this returns only
      hits   = corpus INNER JOIN broadcast(selected)  — the corpus
               scan streams through one stage (no shuffle), DPP prunes
               its bucket partitions from the broadcast values
    and misses are derived AFTER the hits delta is written, by
    anti-joining the (cached) selected set against the round's own
    written fingerprints (see ``build_misses``): O(selected) work with
    no second corpus scan and no sort — at web scale the corpus
    key-space is unbounded but the round's output is not.
    The broadcast hint is applied only when ``bounded`` proved the
    selected set small (see CrawlConfig.broadcast_selected)."""
    right = corpus.withColumnRenamed("url", "c_url")
    if "method" in corpus.columns:
        right = right.withColumnRenamed("method", "c_method")
        cond = (F.col("url_canon") == F.col("c_url")) & (
            F.col("method") == F.col("c_method")
        )
    else:
        cond = (F.col("url_canon") == F.col("c_url")) & (F.col("method") == "GET")
    if cfg.corpus_bucket_n and "bucket" in corpus.columns:
        # bucket equi-condition -> dynamic partition pruning on the
        # corpus scan (selected side broadcasts; only touched buckets
        # are read — the Iceberg storage-partitioned-join shape)
        right = right.withColumnRenamed("bucket", "c_bucket")
        cond = cond & (
            F.col("c_bucket")
            == F.pmod(F.xxhash64("url_canon"), F.lit(cfg.corpus_bucket_n))
        )
    # optional corpus `status` column: a hit may carry a non-200 response
    # status (e.g. a 503 page with a body); a miss is always 404
    has_status = "status" in corpus.columns
    if has_status:
        right = right.withColumnRenamed("status", "c_status")
        hit_status = F.coalesce(F.col("c_status").cast("int"), F.lit(200))
    else:
        hit_status = F.lit(200)

    sel_side = F.broadcast(selected_ranked) if bounded else selected_ranked
    sel_cols = [*frontier_cols, "rank"]
    page_cols = ["c_url", "html", "encoding", "lang"] + (
        ["c_status"] if has_status else []
    )
    hits = right.join(sel_side, cond, "inner").select(*sel_cols, *page_cols)
    return hits.withColumn("status", hit_status)


def build_misses(
    selected_ranked: DataFrame,
    hit_fps: DataFrame,
    frontier_cols: list,
    bounded: bool,
) -> DataFrame:
    """selected \\ hits == selected \\ corpus (the fetch-join is inner on
    the selected keys), so corpus misses fall out of the round's OWN
    written delta: anti-join the cached selected set against the hit
    fingerprints that were just written. No corpus key-space scan, no
    sort — ``hit_fps`` is a single-column scan of the round's pages
    delta, broadcast under the same proven bound as the selected side
    (|hits| <= |selected| <= bound). A miss is always status 404 with a
    null body (http.py:270-281: a fetch exception, never ok)."""
    fps = F.broadcast(hit_fps) if bounded else hit_fps
    miss_nulls = [
        F.lit(None).cast("string").alias("c_url"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("encoding"),
        F.lit(None).cast("string").alias("lang"),
    ]
    return selected_ranked.join(fps, "fingerprint", "left_anti").select(
        *frontier_cols, "rank", *miss_nulls
    ).withColumn("status", F.lit(404))


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig, store: CheckpointStore):
        if cfg.follow_callbacks not in ("inherit", "reset"):
            raise ValueError(
                f"follow_callbacks must be 'inherit' or 'reset': {cfg.follow_callbacks!r}"
            )
        self.spark = spark
        self.cfg = cfg
        self.store = store
        self._parse_udf = make_parse_page_udf(cfg.links_to_abs, cfg.follow_patterns)
        if cfg.seeds_inbox:
            from acrawler_spark.streaming.seeds import SeedFeeder

            self.feeder = SeedFeeder(spark, cfg.seeds_inbox)
        else:
            self.feeder = None
        if cfg.robots_rules:
            from acrawler_spark.operators.robots import delay_budgets_df, rules_df

            self.robots = rules_df(spark, cfg.robots_rules)
            # per-host Crawl-delay -> per-round cap, min-combined with the
            # configured budgets inside the politeness stage. Built only
            # when some host declares a delay (config-known, no job).
            self.robots_delay = (
                delay_budgets_df(self.robots, cfg.round_seconds)
                if any(
                    (r.get("crawl_delay") or 0) > 0
                    for r in cfg.robots_rules.values()
                )
                else None
            )
        else:
            self.robots = None
            self.robots_delay = None
        # handle to the next round's pre-computed selection (filled by
        # run_round's commit pool, claimed or discarded by run())
        self._next_prep: dict | None = None
        # full next-round prefetch: {"rnd": int, "fut": Future} whose result
        # is {"prep", "obs_pages", "staged_cols", "release"} — the prepared
        # selection PLUS the staged pages delta for round rnd, computed on
        # the engine-level pipeline pool while the current round's commit
        # tail drains (claimed or discarded by run())
        self._next_pages: dict | None = None
        self._pipe_pool = None  # lazy ThreadPoolExecutor, engine lifetime
        self._in_run = False  # True while run() drives the round loop

    @contextmanager
    def _job(self, label: str):
        """Label every Spark job submitted from the current (Python) thread
        — thread-local under PySpark's pinned-thread mode, so the commit
        pool's concurrent writers each carry their own name in the UI and
        event log (the per-stage/job attribution the scaling audits read)."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.job.description", label)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", None)

    def _apply_handlers(self, position: str, df: DataFrame, rnd: int) -> DataFrame:
        """Run registered pipeline-stage handlers (middleware.py:129-137
        positions; priority-descending order, 0 disables —
        middleware.py:268-276).

        Entries are ``(priority, fn)`` or ``(priority, fn, family)``. A
        family-scoped handler fires only on rows whose ``family`` matches
        (reference middleware.py:74-88: handler.family in task.families);
        non-matching rows pass through untouched, so two item families never
        cross-contaminate middleware. Scoped handlers must preserve the
        input schema (the branches are re-unioned by name)."""
        for entry in sorted(self.cfg.handlers.get(position, []), key=lambda x: -x[0]):
            prio, fn, family = entry if len(entry) == 3 else (*entry, None)
            if prio == 0:
                continue
            ctx = {"round": rnd, "config": self.cfg}
            if family is None:
                df = fn(df, ctx)
            else:
                match = F.coalesce(F.col("family") == F.lit(family), F.lit(False))
                df = fn(df.filter(match), ctx).unionByName(
                    df.filter(~match), allowMissingColumns=True
                )
        return df

    # -- bootstrap ------------------------------------------------------------

    def bootstrap(self) -> None:
        """Round -0 commit: seed frontier + seed fingerprints into seen
        (admission == schedule-time seen append, scheduler.py:45-50)."""
        cfg = self.cfg
        seeds = seeds_frontier(
            self.spark, cfg.seeds, cfg.t0, cfg.seed_priority, cfg.seed_recrawl
        )
        seeds = dedupe_within_round(seeds)
        # position 0 = on_start (middleware.py:129-137): transform the seed
        # frontier before the round-0 commit
        seeds = self._apply_handlers("on_start", seeds, 0)
        obs = Observation()
        seeds = seeds.observe(
            obs, F.count(F.lit(1)).alias("n"), F.min("exetime").alias("min_exetime")
        )
        self.store.write_frontier(0, seeds)
        fstats = obs.get
        seen0 = self.store.read_frontier(0).select(
            "fingerprint", F.lit(0).alias("added_round")
        )
        self.store.write_delta("seen", 0, seen0)
        self.store.commit_round(
            0,
            {"phase": "bootstrap", "seeds": len(cfg.seeds),
             "frontier_n": int(fstats["n"] or 0),
             "frontier_min_exetime": fstats["min_exetime"]},
        )

    # -- one round ------------------------------------------------------------

    def _prepare_round(
        self,
        rnd: int,
        frontier: DataFrame | None,
        inbox_n: int,
        frontier_n: int | None,
        materialize: bool,
    ) -> dict:
        """Round `rnd`'s selection: eligibility pushdown → robots split →
        salted politeness windows → round cap → persist (+ rank). READ-ONLY
        — stages nothing, so it may run from the PREVIOUS round's commit
        pool as soon as that round's frontier files are complete,
        overlapping the seen chain's tail (``materialize=True`` runs one
        count to pull the politeness shuffle forward and warm the cache;
        the count doubles as the miss fast-path's |selected|). `now` is
        deterministic (t0 + rnd·round_seconds), so a prepared selection is
        byte-identical to what the round itself would compute.

        ``frontier`` None reads the given round's committed files (prep
        path); the inline path passes its (possibly seed-unioned) DF.
        ``frontier_n`` None falls back to the manifest stats (inline path);
        the prep path passes the in-memory count observed during the
        frontier write (the manifest entry is not committed yet)."""
        cfg = self.cfg
        now = cfg.t0 + rnd * cfg.round_seconds
        if frontier is None:
            frontier = self.store.read_frontier(rnd - 1)
        eligible = frontier.filter(F.col("exetime") <= F.lit(now))
        robots_blocked = None
        if self.robots is not None:
            from acrawler_spark.operators.robots import apply_robots

            eligible, robots_blocked = apply_robots(eligible, self.robots)
        # deferred (eligible-but-over-budget) rows are never materialized:
        # the new frontier is frontier ANTI-JOIN selected (broadcast, the
        # selected set is the small side), so the budget windows run exactly
        # once and n_deferred falls out of the commit arithmetic.
        selected, _deferred = apply_host_budgets(
            eligible,
            uniform=cfg.effective_host_budget(),
            special=cfg.special_host_budgets,
            salt_n=cfg.salt_n,
            delay_budgets=self.robots_delay,
        )
        if cfg.round_cap is not None:
            selected = selected.orderBy(*rank_keys()).limit(cfg.round_cap)
        selected = selected.persist()
        # schedule rank: the order the reference's workers would pop these
        # tasks (score order). Exact global rank via range partitioning +
        # offset merge (no single-partition Window — scale-safe for
        # unbounded selected sets); record_rank=False skips the extra tiny
        # count job for bench rounds that never read the rank.
        rank_cache = None
        if cfg.record_rank:
            selected_ranked, rank_cache = global_schedule_rank(selected)
        else:
            selected_ranked = selected.withColumn(
                "rank", F.monotonically_increasing_id().cast("long")
            )
        # Broadcast bound: round_cap if set, else the frontier row count
        # (manifest stats, zero jobs — or the in-memory observation for a
        # prepared round) PLUS the raw inbox url count — together an upper
        # bound on this round's selected set (selected ⊆ eligible ⊆
        # frontier ∪ inbox). At a 10^10-row frontier the bound exceeds
        # broadcast_max_rows and the hint is withheld (AQE plans from
        # runtime stats instead).
        if cfg.round_cap is not None:
            sel_bound = cfg.round_cap
        else:
            sel_bound = self._frontier_stats()[0] if frontier_n is None else frontier_n
            sel_bound += inbox_n
        bounded = cfg.broadcast_selected and sel_bound <= cfg.broadcast_max_rows
        n_sel = None
        if materialize:
            with self._job(f"r{rnd} prepare: politeness windows + selected cache"):
                n_sel = selected.count()
        return {
            "rnd": rnd,
            "frontier": frontier,
            "robots_blocked": robots_blocked,
            "selected": selected,
            "selected_ranked": selected_ranked,
            "rank_cache": rank_cache,
            "bounded": bounded,
            "n_sel": n_sel,
        }

    def discard_prep(self, prep: dict | None) -> None:
        """Release a prepared-but-unclaimed round's caches (idle jump, inbox
        arrival, crawl end, max_rounds)."""
        if prep is None:
            return
        prep["selected"].unpersist()
        if prep["rank_cache"] is not None:
            prep["rank_cache"].unpersist()

    def discard_prefetch(self, pf: dict | None) -> None:
        """Release an unclaimed full prefetch: wait out its in-flight job,
        drop its caches, and remove the staged (never-committed) pages
        delta. Rare path — inbox arrival between launch and claim, crawl
        end, or max_rounds."""
        if pf is None:
            return
        try:
            handle = pf["fut"].result()
        except Exception:
            handle = None
        if handle is not None:
            self.discard_prep(handle["prep"])
            for df in handle["release"]:
                df.unpersist()
        self.store.abort_uncommitted(pf["rnd"])

    def _stage_pages(
        self, rnd: int, frontier_cols: list[str], src: DataFrame
    ) -> tuple[DataFrame, Observation]:
        """The page-staging pipeline, shared by the hits branch and the
        (post-write) misses branch so middleware, flag derivation, and
        counters are row-wise identical to the old single-union plan."""
        cfg = self.cfg
        # ok (http.py:270-281): status==200 OR allowed==[] OR status IN
        # allowed; the per-request status_allowed column overrides the crawl
        # config (NULL -> config default). A corpus miss is a fetch
        # exception, not a status — never ok.
        if cfg.status_allowed is None:
            cfg_ok = F.col("status") == 200
        elif cfg.status_allowed == []:
            cfg_ok = F.lit(True)
        else:
            cfg_ok = (F.col("status") == 200) | F.col("status").isin(cfg.status_allowed)
        row_ok = (
            (F.col("status") == 200)
            | (F.size("status_allowed") == 0)
            | F.array_contains(F.col("status_allowed"), F.col("status"))
        )
        ok_col = F.when(F.col("status_allowed").isNotNull(), row_ok).otherwise(cfg_ok)

        df = src.withColumn("ok", ok_col & F.col("c_url").isNotNull())
        df = df.withColumn("tries_done", F.col("tries") + 1)

        # handler middleware, position 1 = before execution
        # (task.py:137-139). Control-flow exceptions are columnar flags
        # a handler may set (exceptions.py:1-43):
        #   _skip    -> SkipTaskError: no parse/items/links, counted ok
        #   _defer_s -> ReScheduleError(defer): re-enqueued at
        #               now+defer_s, dont_filter, tries kept incremented
        #               (task.py:120 — the increment precedes the
        #               raise), NOT counted
        df = self._apply_handlers("before_parse", df, rnd)
        defer_col = (
            F.coalesce(F.col("_defer_s").cast("double"), F.lit(0.0))
            if "_defer_s" in df.columns
            else F.lit(0.0)
        )
        skip_col = (
            F.coalesce(F.col("_skip").cast("boolean"), F.lit(False))
            if "_skip" in df.columns
            else F.lit(False)
        )
        df = df.withColumn("defer_s", defer_col).withColumn("skipped", skip_col)
        # skipped rows count as success (crawler.py:85-86 + counter
        # flag 1); deferred rows are neither success nor failure (-2)
        df = df.withColumn(
            "ok", (F.col("ok") | F.col("skipped")) & (F.col("defer_s") <= 0)
        )

        # parse gate: only ok, unskipped pages matching in_pattern are
        # parsed (parser.py:62-73); masked JVM-side by nulling html so
        # the Arrow UDF sees one batch stream, skipping gated rows free
        parse_gate = F.col("ok") & ~F.col("skipped")
        if cfg.in_pattern:
            parse_gate = parse_gate & F.col("url_canon").rlike(cfg.in_pattern)

        staged = df.select(
            *frontier_cols,
            "rank",
            "status",
            "ok",
            "defer_s",
            "skipped",
            "tries_done",
            "lang",
            F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("bytes"),
            self._parse_udf(
                F.when(parse_gate, F.col("html")),
                F.col("encoding"),
                F.col("url_canon"),
            ).alias("parsed"),
        ).select(
            "*",
            F.col("parsed.text").alias("text"),
            F.col("parsed.links").alias("links"),
        ).drop("parsed").withColumn("round", F.lit(rnd))
        # position 2 = after execution (task.py:144-147) — applied
        # before staging, so the written pages delta is the canonical
        # post-middleware page state and the virtual
        # items/fetch_log/failed views (plans/views.py) see handler
        # effects
        staged = self._apply_handlers("after_parse", staged, rnd)
        # terminal-failure flag materialized so the failed view is
        # config-free; ignore_exception short-circuits the retry ladder
        # (task.py:51)
        staged = staged.withColumn(
            "final_fail",
            ~F.col("ok")
            & (F.col("defer_s") <= 0)
            & ((F.col("tries_done") > cfg.max_tries) | F.col("ignore_exception")),
        )
        # round counters ride the staging job via observe() — no
        # separate aggregation job (VERDICT r1: per-round driver-job
        # count was the scaling-efficiency floor)
        obs = Observation()
        staged = staged.observe(
            obs,
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.sum(F.col("final_fail").cast("long")).alias("n_failed"),
            F.sum((F.col("defer_s") > 0).cast("long")).alias("n_defer_user"),
        )
        return staged, obs

    def _run_pages_job(
        self,
        rnd: int,
        selected_ranked: DataFrame,
        bounded: bool,
        frontier_cols: list[str],
        corpus: DataFrame,
    ) -> tuple[Observation, list[str]]:
        """Stage the round's page-level result: ONE heavy job runs
        fetch-join + Arrow parse and writes the hits delta with html
        DROPPED (text+links kept). Every downstream consumer (items,
        fetch_log, candidates, retry/recrawl, metrics) is a column-pruned
        scan of this delta — the UDF runs exactly once per page and no
        multi-hundred-MB cache blocks churn the executors. Callable from
        the round's own thread OR the pipeline pool (prefetch)."""
        if self.cfg.http_fetch is not None:
            from acrawler_spark.sources.netfetch import build_fetch_http

            fetched = build_fetch_http(
                selected_ranked, frontier_cols, **self.cfg.http_fetch
            )
        else:
            fetched = build_fetch_join(
                selected_ranked, corpus, frontier_cols, self.cfg, bounded
            )
        staged, obs = self._stage_pages(rnd, frontier_cols, fetched)
        with self._job(f"r{rnd} pages: fetch-join + parse + write"):
            self.store.write_delta("pages", rnd, staged)
        return obs, staged.columns

    def run_round(
        self,
        rnd: int,
        corpus: DataFrame,
        prep: dict | None = None,
        prefetch: dict | None = None,
    ) -> dict:
        cfg = self.cfg
        now = cfg.t0 + rnd * cfg.round_seconds
        wall_start = time.monotonic()
        timing: dict[str, float] = {}
        _t = [wall_start]

        def tick(label: str) -> None:
            nowm = time.monotonic()
            timing[label] = round(nowm - _t[0], 2)
            _t[0] = nowm

        # how this round's selection+pages came to be (bench/debug audit):
        # "prefetch" = claimed a full pipelined round, "prep" = claimed a
        # prepared selection, "inline" = computed everything in-round
        timing["mode"] = (
            "prefetch" if prefetch is not None else ("prep" if prep is not None else "inline")
        )

        # a prefetch nobody claimed (direct run_round calls, e.g. tests or
        # resume drivers) must be retired BEFORE this round runs: its
        # staged write races an inline rewrite of the same delta dir
        if self._next_pages is not None and prefetch is not self._next_pages:
            self.discard_prefetch(self._next_pages)
            self._next_pages = None
        if prefetch is not None:
            self._next_pages = None  # claimed — no longer pending

        frontier = self.store.read_frontier()
        seen = self.store.read_appended("seen")

        # full prefetch claim: the previous round's pipeline pool already
        # ran this round's selection AND its pages stage (fetch-join +
        # parse + staged write). result() waits out the in-flight write —
        # normally it is the only thing left running, so this IS the
        # round's pages wall. run() guarantees rnd matches and no inbox
        # files were pending at claim time.
        handle = None
        if prefetch is not None:
            handle = prefetch["fut"].result()
            prep = handle["prep"]
            # the prepared selection was derived from the previous round's
            # IN-MEMORY frontier plan; this round's commit (frontier
            # rewrite anti-join, columns) must read the committed files
            # instead — re-deriving the plan would recompute the prior
            # round's politeness/admit chain from released caches
            prep["frontier"] = self.store.read_frontier(rnd - 1)
            if prep["robots_blocked"] is not None:
                # rebuild the (lazy, tiny) robots split over the file-backed
                # frontier for the same reason
                from acrawler_spark.operators.robots import apply_robots

                _, prep["robots_blocked"] = apply_robots(
                    prep["frontier"].filter(F.col("exetime") <= F.lit(now)),
                    self.robots,
                )
            # prior round's caches (selected/admitted/rank/seeds) were kept
            # alive for the prefetch's politeness input — all its jobs are
            # done now, release them
            for df in handle["release"]:
                df.unpersist()

        # between-round seed ingestion (redis feeder analog; at-least-once,
        # idempotent through the dupefilter — handlers.py:282-293). Skipped
        # when the round was prepared: run() only hands prep over with an
        # empty inbox, and files dropped after that drain next round.
        inbox_files: list[str] = []
        new_seed_rows = None
        inbox_n = 0  # raw inbox url count — free at drain, bounds admitted
        if self.feeder is not None and prep is None:
            inbox_df, inbox_files, inbox_n = self.feeder.drain(rnd, now)
            if inbox_df is not None:
                new_seed_rows = admit_new_candidates(inbox_df, seen).persist()
                frontier = frontier.unionByName(new_seed_rows.select(*frontier.columns))
        # a huge external seed drop must not be force-broadcast anywhere:
        # the hint on new_seed_rows (candidate dedupe below) is proven only
        # under the same threshold as the selected set
        inbox_bounded = inbox_n <= cfg.broadcast_max_rows

        if prep is not None:
            # selection pre-computed by the previous round's commit pool
            # (read-only: politeness windows ran and `selected` is hot in
            # cache while the seen chain's tail was still writing) — the
            # round starts at the fetch join. run() guarantees prep is only
            # handed over when rnd matches and no inbox files were pending
            # at claim time; files dropped since then drain next round
            # (at-least-once, unchanged).
            frontier = prep["frontier"]
            robots_blocked = prep["robots_blocked"]
            selected = prep["selected"]
            selected_ranked = prep["selected_ranked"]
            rank_cache = prep["rank_cache"]
            bounded = prep["bounded"]
            n_sel_prepared = prep["n_sel"]
        else:
            sel = self._prepare_round(
                rnd, frontier, inbox_n, frontier_n=None, materialize=False
            )
            robots_blocked = sel["robots_blocked"]
            selected = sel["selected"]
            selected_ranked = sel["selected_ranked"]
            rank_cache = sel["rank_cache"]
            bounded = sel["bounded"]
            n_sel_prepared = None

        # robots.txt admission (north-rule addition; absent in reference —
        # SURVEY §7). Blocked rows are dropped permanently (they stay seen).
        # The split is computed (lazily) in _prepare_round; the delta WRITE
        # is always staged here, inside the round that commits it.
        robots_blocked_fps = None
        if robots_blocked is not None:
            self.store.write_delta(
                "robots_blocked",
                rnd,
                robots_blocked.select("url", "url_canon", "fingerprint", "host")
                .withColumn("round", F.lit(rnd)),
            )
            robots_blocked_fps = self.store.read_delta_one(
                "robots_blocked", rnd
            ).select("fingerprint")

        if handle is not None:
            # pages already fetched+parsed+staged by the prefetch chain
            # (the claim's fut.result() above waited out the write); the
            # observation carries the round counters as usual
            obs_pages, staged_cols = handle["obs_pages"], handle["staged_cols"]
        else:
            obs_pages, staged_cols = self._run_pages_job(
                rnd, selected_ranked, bounded, frontier.columns, corpus
            )
        tick("pages_stage")

        # misses staged SECOND, against the round's own output: the old
        # in-stage `selected LEFT ANTI corpus[keys]` union branch re-scanned
        # the corpus key-space and sort-merge-shuffled the full-width
        # selected set every round — measured at ~2x the whole pages-stage
        # CPU at 16 cores for a (steady-state) empty result. The anti-join
        # against written hit fingerprints is O(selected), broadcast under
        # the same proven bound, and appends a usually-empty second file.
        # Fast path: under the corpus_unique_keys contract a selected row
        # matches at most one corpus row, so |hit rows| == |selected| proves
        # zero misses — the whole miss job (fp broadcast build + anti-join
        # stage + delta append, ~1.5-2 s of driver-serial cost per round at
        # any core count) is skipped. The selected count is one tiny scan
        # of the cache the pages job just materialized (an Observation on
        # the fetch join's build side would be free, but CollectMetrics
        # under an AQE broadcast stage doesn't reliably surface its row).
        # Steady-state rounds of a converged crawl are all hits, so this is
        # the common case the round loop is sized for.
        pstats = obs_pages.get
        if n_sel_prepared is not None:
            # the prepare materialization already counted selected — free
            n_sel_exact = n_sel_prepared if cfg.corpus_unique_keys else -1
        else:
            with self._job(f"r{rnd} miss check: cached selected count"):
                n_sel_exact = selected.count() if cfg.corpus_unique_keys else -1
        if cfg.corpus_unique_keys and int(pstats["n_selected"] or 0) == n_sel_exact:
            mstats = {"n_selected": 0, "n_ok": 0, "n_failed": 0, "n_defer_user": 0}
        else:
            hit_fps = self.store.read_delta_one("pages", rnd).select("fingerprint")
            miss_staged, obs_miss = self._stage_pages(
                rnd,
                frontier.columns,
                build_misses(selected_ranked, hit_fps, frontier.columns, bounded),
            )
            with self._job(f"r{rnd} misses: anti-join vs written hits + append"):
                self.store.append_delta(
                    "pages", rnd,
                    miss_staged.select(*[F.col(c) for c in staged_cols]),
                )
            mstats = obs_miss.get
        n_selected = int(pstats["n_selected"] or 0) + int(mstats["n_selected"] or 0)
        n_ok = int(pstats["n_ok"] or 0) + int(mstats["n_ok"] or 0)
        n_failed_final = int(pstats["n_failed"] or 0) + int(mstats["n_failed"] or 0)
        n_defer_user = int(pstats["n_defer_user"] or 0) + int(mstats["n_defer_user"] or 0)
        n_retries = n_selected - n_ok - n_failed_final - n_defer_user
        tick("misses_stage")
        pages = self.store.read_delta_one("pages", rnd)

        # items / fetch_log / failed are VIRTUAL — projections of the pages
        # delta served by the store (plans/views.py); nothing to write.
        # Only ItemSpec extractions (per-family ParselItem analogs) produce
        # physical items rows.
        base_items = items_view(pages)
        spec_items_all = None
        for spec in cfg.item_specs:
            src = base_items.select(
                "url", "extracted_text", "lang", "depth", "round", "callback_family"
            )
            if spec.callback_family:
                # per-family callback routing (parser.py:41-57): the spec
                # fires only on rows whose inherited callback chain matches
                src = src.filter(F.col("callback_family") == spec.callback_family)
            if spec.url_pattern:
                src = src.filter(F.col("url").rlike(spec.url_pattern))
            spec_items = spec.extract(src).join(
                src.select("url", "lang", "depth"), "url", "left"
            )
            spec_items = spec_items.select(
                "url", "family",
                F.lit(None).cast("string").alias("extracted_text"),
                "lang", "depth", F.lit(rnd).alias("round"), "content",
            )
            spec_items_all = (
                spec_items
                if spec_items_all is None
                else spec_items_all.unionByName(spec_items)
            )

        # follow links (only when configured — parser.py:86); follow_limit
        # caps links per page (paginate/follow limit, http.py:387-435)
        if cfg.follow_patterns:
            links_col = F.col("links")
            if cfg.follow_limit is not None:
                links_col = F.slice(links_col, 1, cfg.follow_limit)
            cb_col = (
                F.col("callback_family")
                if cfg.follow_callbacks == "inherit"
                else F.lit(None).cast("string")  # bare-follow (parser.py:97)
            )
            link_src = pages.filter(F.col("links").isNotNull()).select(
                "depth", "ancestor", "meta", "rank",
                cb_col.alias("callback_family"),
                links_col.alias("links")
            )
            candidates = candidates_from_links(
                link_src, rnd, now, cfg.child_priority, cfg.max_depth
            )
            admitted = admit_new_candidates(candidates, seen)
            if new_seed_rows is not None:
                # frontier invariant: at most one row per fingerprint (the
                # rewrite below is an anti-join on fingerprint). Candidates
                # admit against the ROUND-START seen snapshot, which
                # excludes this round's inbox seeds — drop candidates the
                # inbox already admitted, or both rows would enter the
                # frontier and the anti-join would later drop the pair.
                seed_fps = new_seed_rows.select("fingerprint")
                admitted = admitted.join(
                    F.broadcast(seed_fps) if inbox_bounded else seed_fps,
                    "fingerprint",
                    "left_anti",
                )
            admitted = admitted.persist()
        else:
            admitted = self.spark.createDataFrame([], FRONTIER_SCHEMA).persist()

        # retry branch (crawler.py:98-114): failed & tries_done <= max_tries;
        # ignore_exception rows never retry (task.py:51)
        hard_fail = ~F.col("ok") & (F.col("defer_s") <= 0)
        retries = (
            pages.filter(
                hard_fail
                & (F.col("tries_done") <= cfg.max_tries)
                & ~F.col("ignore_exception")
            )
            .select(*frontier.columns)
            .withColumn("tries", F.col("tries") + 1)
            .withColumn("exetime", F.lit(now))
            .withColumn("dont_filter", F.lit(True))
        )
        # user defer branch (ReScheduleError, exceptions.py:23-43 +
        # crawler.py:87-97): re-enqueued unfiltered at now+defer_s, tries
        # kept at the incremented value, uncounted (flag -2)
        deferred_user = (
            pages.filter(F.col("defer_s") > 0)
            .select(*frontier.columns, "defer_s", "tries_done")
            .withColumn("tries", F.col("tries_done"))
            .withColumn("exetime", F.lit(now) + F.col("defer_s"))
            .withColumn("dont_filter", F.lit(True))
            .select(*frontier.columns)
        )
        # recrawl branch (crawler.py:122-126): success & recrawl>0 re-enqueues
        # with tries=0, exetime=last_crawl+recrawl, dont_filter
        recrawls = (
            pages.filter(F.col("ok") & (F.col("recrawl") > 0))
            .select(*frontier.columns)
            .withColumn("tries", F.lit(0))
            .withColumn("exetime", F.lit(now) + F.col("recrawl").cast("double"))
            .withColumn("dont_filter", F.lit(True))
        )

        # -- commit (staged writes, then atomic manifest bump) ----------------
        # The seen/frontier writes (plus optional spec-items / lineage) are
        # SUBMITTED CONCURRENTLY from driver threads, so their per-stage
        # scheduling latencies overlap instead of serializing.
        # items/fetch_log/failed are virtual projections of the pages delta;
        # every counter rides a write via observe(); nothing is counted with
        # a standalone action.

        # next frontier CORE = frontier \ selected (\ robots-blocked) +
        # lifecycle re-entries — built once, consumed by (a) the frontier
        # core writer and (b) the next-round prefetch's in-memory frontier
        # (core ∪ admitted), which runs politeness for round rnd+1 without
        # waiting for the frontier files to land
        sel_fps = selected.select("fingerprint")
        remaining = frontier.join(
            F.broadcast(sel_fps) if bounded else sel_fps, "fingerprint", "left_anti"
        )
        if robots_blocked_fps is not None:
            # blocked ⊆ eligible ⊆ frontier ∪ inbox — round_cap does NOT
            # bound it (the cap applies after the robots split), so the
            # hint needs the frontier-count bound even when bounded=True
            # came from round_cap
            robots_bounded = (
                self._frontier_stats()[0] + inbox_n <= cfg.broadcast_max_rows
            )
            remaining = remaining.join(
                F.broadcast(robots_blocked_fps) if robots_bounded
                else robots_blocked_fps,
                "fingerprint", "left_anti",
            )
        core_union = (
            remaining.select(*frontier.columns)
            .unionByName(retries.select(*frontier.columns))
            .unionByName(recrawls.select(*frontier.columns))
            .unionByName(deferred_user.select(*frontier.columns))
        )

        def _seen_job() -> int:
            # seen delta: a plain JVM write of the hot admitted cache (no
            # Python stage). Schedule-time semantics: seen grows in the same
            # commit that admits the rows (scheduler.py:45-50).
            if not (cfg.follow_patterns or new_seed_rows is not None):
                return 0
            new_seen = admitted.select(
                "fingerprint",
                F.lit(rnd).alias("added_round"),
                F.lit(0).alias("_is_seed"),
            )
            if new_seed_rows is not None:
                new_seen = new_seen.unionByName(
                    new_seed_rows.select(
                        "fingerprint",
                        F.lit(rnd).alias("added_round"),
                        F.lit(1).alias("_is_seed"),
                    )
                )
            obs_seen = Observation()
            # admitted-vs-seed split rides the SAME write job (observe on a
            # marker column, dropped before the write) — an inbox round runs
            # exactly the job count of a non-inbox round, no standalone count
            new_seen = new_seen.observe(
                obs_seen,
                F.count(F.lit(1)).alias("n"),
                F.sum("_is_seed").alias("n_seed"),
            ).drop("_is_seed")
            with self._job(f"r{rnd} seen: delta write"):
                self.store.write_delta("seen", rnd, new_seen)
            got = obs_seen.get
            return int(got["n"] or 0) - int(got["n_seed"] or 0)

        def _frontier_obs(df: DataFrame) -> tuple[DataFrame, Observation]:
            obs = Observation()
            return df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.min("exetime").alias("min_exetime"),
                F.sum((F.col("exetime") <= F.lit(now)).cast("long")).alias("n_due_now"),
            ), obs

        def _frontier_core_job() -> dict:
            # new frontier = frontier \ selected (\ robots-blocked) +
            # lifecycle re-entries. The anti-join's right side is the
            # (cached) selected fingerprints, so the politeness windows are
            # NOT recomputed and the big frontier scan streams through one
            # stage. Requires the one-row-per-fingerprint frontier
            # invariant (held by: schedule-time seen admission + the
            # inbox-vs-candidates dedupe above). Broadcast is hinted only
            # under the proven bound (round_cap / frontier_n ≤
            # broadcast_max_rows); otherwise AQE picks from runtime stats
            # (an unbounded selected set must not be forced driver-side).
            # SPLIT COMMIT: this core part touches only the prior frontier,
            # the (hot) selected cache, and the written pages delta — never
            # `admitted` — so it runs CONCURRENTLY with the seen job instead
            # of serializing behind it; the admitted branch appends after
            # (its cache is materialized by the admitted count job).
            new_frontier, obs = _frontier_obs(core_union)
            with self._job(f"r{rnd} frontier core: anti-join + re-entries write"):
                self.store.write_frontier(rnd, new_frontier)
            return obs.get

        def _frontier_admitted_job() -> dict:
            if not (cfg.follow_patterns or new_seed_rows is not None):
                # admitted is the empty literal — nothing to append
                return {"n": 0, "min_exetime": None, "n_due_now": 0}
            adf, obs = _frontier_obs(admitted.select(*frontier.columns))
            with self._job(f"r{rnd} frontier admitted: append"):
                self.store.append_frontier(rnd, adf)
            return obs.get

        def _lineage_job() -> None:
            # per-partition lineage (north rule) — gated: observability,
            # not crawl state. Metrics rows live in the commit manifest and
            # are materialized once per crawl by flush_metrics().
            lineage = (
                fetch_log_view(pages)
                .groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum(F.col("ok").cast("long")).alias("n_ok"),
                    F.sum("bytes").alias("bytes"),
                )
                .withColumn("round", F.lit(rnd))
            )
            with self._job(f"r{rnd} lineage: partition rollup write"):
                self.store.write_delta("lineage", rnd, lineage)

        from concurrent.futures import ThreadPoolExecutor

        # The admitted cache must be materialized by exactly ONE job before
        # any second consumer touches it: submitting two consumers with a
        # cold cache makes every task of one convoy on the other's
        # BlockInfoManager write-locks while it computes the same
        # partitions (event-log evidence at local[16], bench round 1: two
        # identical 32-task stages, 448 task-seconds of run time against 49
        # CPU-seconds, ~90% lock-wait). The materializing job is a count()
        # of the admitted cache; the seen write and the frontier append then
        # race only on cheap cache reads.
        tick("commit_dag_build")  # py4j plan construction since misses tick
        with ThreadPoolExecutor(max_workers=6) as pool:
            # ONE job materializes the admitted cache (the expensive admit
            # pipeline: candidates agg + seen anti-join); the seen
            # write and the frontier append then consume a hot cache.
            # items/lineage/frontier-core read only the pages delta, the
            # selected cache, and the prior frontier (all hot/materialized
            # by the fetch phase) — they never touch admitted, so they run
            # beside the materializer; the admitted append (second admitted
            # consumer) must also follow the core overwrite (overwrite
            # clears the frontier dir the append lands in).
            def _cache_job() -> int:
                with self._job(f"r{rnd} admitted: admit pipeline + cache"):
                    return admitted.count()

            fut_cache = pool.submit(_cache_job)
            fut_fcore = pool.submit(_frontier_core_job)
            extras = []
            if spec_items_all is not None:
                def _items_job():
                    with self._job(f"r{rnd} items: spec extraction write"):
                        self.store.write_delta("items", rnd, spec_items_all)
                extras.append(pool.submit(_items_job))
            if cfg.detailed_metrics:
                extras.append(pool.submit(_lineage_job))
            n_adm_cached = fut_cache.result()
            fut_seen = pool.submit(_seen_job)  # hot cache: write tail

            # FULL next-round prefetch: admitted rows carry exetime == now,
            # so n_adm_cached > 0 proves round rnd+1 has due work — run its
            # whole selection (politeness) AND its pages stage (fetch-join
            # + parse + staged write) on the engine-level pipeline pool,
            # overlapping this round's commit tail and the loop bookkeeping.
            # The politeness input is the IN-MEMORY core ∪ admitted plan
            # (cached inputs; no wait for the frontier files), byte-
            # identical to the file-backed plan. |selected(rnd+1)| ≤
            # |frontier(rnd)| ≤ prior_frontier_n + n_selected (re-entries:
            # each selected row spawns at most one) + n_adm_cached — the
            # broadcast bound stays proven. This round's caches transfer to
            # the handle and are released when the next round claims it.
            # gated on the engine's own run() loop driving: a direct
            # run_round() caller (tests, external drivers) gets strictly
            # synchronous rounds — a prefetch it never claims could race
            # another engine instance on the same store (staged-dir
            # delete/overwrite under an in-flight write)
            if (
                self._in_run
                and n_adm_cached > 0
                and not (self.feeder is not None and self.feeder.pending_files())
            ):
                next_frontier_mem = core_union.unionByName(
                    admitted.select(*frontier.columns)
                )
                prior_n, _ = self._frontier_stats()
                bound_next = prior_n + n_selected + n_adm_cached
                release = [selected, admitted]
                if rank_cache is not None:
                    release.append(rank_cache)
                if new_seed_rows is not None:
                    release.append(new_seed_rows)
                fcols = list(frontier.columns)

                def _prefetch_job() -> dict:
                    p = self._prepare_round(
                        rnd + 1, next_frontier_mem, 0, bound_next, True
                    )
                    obs2, cols2 = self._run_pages_job(
                        rnd + 1, p["selected_ranked"], p["bounded"], fcols, corpus
                    )
                    return {
                        "prep": p,
                        "obs_pages": obs2,
                        "staged_cols": cols2,
                        "release": release,
                    }

                if self._pipe_pool is None:
                    from concurrent.futures import ThreadPoolExecutor as _TPE

                    self._pipe_pool = _TPE(max_workers=2)
                self._next_pages = {
                    "rnd": rnd + 1,
                    "fut": self._pipe_pool.submit(_prefetch_job),
                }
            fstats_core = fut_fcore.result()
            fstats_adm = _frontier_admitted_job()
            fstats = {
                "n": int(fstats_core["n"] or 0) + int(fstats_adm["n"] or 0),
                "min_exetime": min(
                    (x for x in (fstats_core["min_exetime"],
                                 fstats_adm["min_exetime"]) if x is not None),
                    default=None,
                ),
                "n_due_now": int(fstats_core["n_due_now"] or 0)
                + int(fstats_adm["n_due_now"] or 0),
            }
            # frontier files are complete here — PREPARE the next round
            # (read-only: politeness windows + selected cache) while the
            # seen chain's tail and the extras drain. run() claims or
            # discards the handle; a crash loses only cached work.
            fut_prep = None
            now_next = cfg.t0 + (rnd + 1) * cfg.round_seconds
            if (
                self._next_pages is None  # full prefetch already covers it
                and fstats["n"] > 0
                and fstats["min_exetime"] is not None
                and fstats["min_exetime"] <= now_next
                and not (self.feeder is not None and self.feeder.pending_files())
            ):
                fut_prep = pool.submit(
                    self._prepare_round, rnd + 1, None, 0, fstats["n"], True
                )
            n_admitted = fut_seen.result()
            for f in extras:
                f.result()
            self._next_prep = fut_prep.result() if fut_prep is not None else None
        # rows still due right now = politeness-deferred + retries + admitted
        # (all three carry exetime == now; recrawls, user-deferred and
        # ineligible rows are strictly future). Reported "deferred" folds in
        # user defers — both are counter flag -2 in the reference.
        n_deferred = (
            int(fstats["n_due_now"] or 0) - n_retries - n_admitted + n_defer_user
        )
        tick("commit_writes")

        self.store.commit_round(
            rnd,
            {"selected": n_selected, "ok": n_ok, "admitted": n_admitted,
             "deferred": n_deferred, "retried": n_retries, "failed": n_failed_final,
             "wall_ms": int((time.monotonic() - wall_start) * 1000),
             "frontier_n": int(fstats["n"] or 0),
             "frontier_min_exetime": fstats["min_exetime"]},
        )

        if inbox_files:
            self.feeder.consume(inbox_files)  # post-commit: at-least-once
        # bound the seen table's delta-file count over long crawls
        # (Iceberg rewrite_data_files analog)
        if self.store.delta_count("seen") >= cfg.seen_compact_deltas:
            self.store.compact("seen")
        if self._next_pages is None:
            for df in (selected, admitted):
                df.unpersist()
            if rank_cache is not None:
                rank_cache.unpersist()
            if new_seed_rows is not None:
                new_seed_rows.unpersist()
        # else: ownership transferred to the prefetch handle's `release`
        # list — the in-flight politeness/pages chain still reads these
        # caches; the claiming (or discarding) side unpersists them
        return {
            "round": rnd, "selected": n_selected, "ok": n_ok,
            "admitted": n_admitted, "deferred": n_deferred,
            "retried": n_retries, "failed": n_failed_final,
            "timing": timing, "wall_s": round(time.monotonic() - wall_start, 3),
        }

    # -- loop ------------------------------------------------------------------

    def _frontier_stats(self) -> tuple[int, float | None]:
        """(row count, min exetime) of the committed frontier — read from the
        commit manifest (observed during the frontier write, zero jobs); one
        agg-job fallback for stores written before the stats existed."""
        m = self.store.read_manifest()
        stats = m.get("rounds", {}).get(str(self.store.last_round), {})
        if "frontier_n" in stats:
            return int(stats["frontier_n"]), stats.get("frontier_min_exetime")
        frontier = self.store.read_frontier()
        agg = frontier.agg(
            F.count("*").alias("n"), F.min("exetime").alias("min_exetime")
        ).first()
        return int(agg["n"] or 0), agg["min_exetime"]

    def flush_metrics(self) -> None:
        """Materialize the metrics table from the commit manifest (the
        durable per-round record): one overwrite of a fixed delta per crawl
        instead of one write job per round. Idempotent across resumes."""
        m = self.store.read_manifest()
        rows = [
            (int(rnd_s), "Request", None, st["ok"], st["failed"], st["retried"],
             st["deferred"], st["admitted"], st["selected"], int(st.get("wall_ms", 0)))
            for rnd_s, st in m.get("rounds", {}).items()
            if "selected" in st
        ]
        if not rows:
            return
        metrics = self.spark.createDataFrame(
            sorted(rows),
            "round int, family string, host string, success long, fail long, "
            "retried long, rescheduled long, admitted long, selected long, wall_ms long",
        )
        self.store.write_delta("metrics", 0, metrics)

    def run(
        self,
        corpus: DataFrame,
        max_rounds: int | None = None,
        until_ancestor: str | None = None,
    ) -> list[dict]:
        """Run rounds until the frontier has no due rows (counter.join()
        termination analog, crawler.py:706-724) or max_rounds. Resumes from
        the last committed round automatically. Idle ticks (everything due
        in the future) are skipped arithmetically from the manifest's
        min-exetime — the loop runs zero Spark jobs between working rounds.

        ``until_ancestor`` is the web-mode wait (counter.
        join_by_ancestor_unfinished, reference crawler.py:337 + web.py:32):
        stop as soon as the frontier holds no row of that ancestor group —
        the group's every descendant fetched or terminally failed. Other
        groups' rows stay pending in the store (resumable by a later
        run()), like the reference crawler keeps serving after answering
        one query. The check is one tiny filtered count per round, only in
        this mode (never in the hot path). A group containing ``recrawl``
        rows never completes — by design, matching the reference counter
        (a recrawl re-enqueue re-increments its group)."""
        import math

        cfg = self.cfg
        max_rounds = max_rounds or cfg.max_rounds
        if self.store.last_round < 0:
            self.bootstrap()
        else:
            # crash replay: drop any files staged by an uncommitted round —
            # including one round further out (a prefetched next round may
            # have staged its pages delta before the crash)
            self.store.abort_uncommitted(self.store.last_round + 1)
            self.store.abort_uncommitted(self.store.last_round + 2)
        history = []
        rnd = self.store.last_round + 1
        prep = None
        pf = None
        self._in_run = True
        try:
            while rnd <= max_rounds:
                now = cfg.t0 + rnd * cfg.round_seconds
                n, min_exetime = self._frontier_stats()
                has_inbox = bool(self.feeder and self.feeder.pending_files())
                if n == 0 and not has_inbox:
                    break  # crawl finished (counter.join() == 0, crawler.py:706-724)
                if n > 0 and min_exetime is not None and min_exetime > now and not has_inbox:
                    # jump to the first round with a due row (idle ticks are free)
                    self.discard_prefetch(pf)
                    pf = None
                    self.discard_prep(prep)
                    prep = None
                    due_round = math.ceil((min_exetime - cfg.t0) / cfg.round_seconds)
                    rnd = max(rnd + 1, due_round)
                    continue
                if pf is not None and (pf["rnd"] != rnd or has_inbox):
                    # inbox files arrived after the prefetch launched (its
                    # frontier lacks the seeds) or the loop moved — retire it
                    # and recompute inline
                    self.discard_prefetch(pf)
                    pf = None
                if prep is not None and (prep["rnd"] != rnd or has_inbox):
                    # inbox files arrived after the prepare (its frontier lacks
                    # the seeds) or the loop moved — recompute inline
                    self.discard_prep(prep)
                    prep = None
                history.append(self.run_round(rnd, corpus, prep=prep, prefetch=pf))
                prep, self._next_prep = self._next_prep, None
                pf, self._next_pages = self._next_pages, None
                rnd += 1
                if until_ancestor is not None:
                    left = (
                        self.store.read_frontier()
                        .filter(F.col("ancestor") == until_ancestor)
                        .limit(1)
                        .count()
                    )
                    if left == 0:
                        break  # group unfinished count == 0 (web.py wait)
        finally:
            self._in_run = False
            self.discard_prefetch(pf)
            self.discard_prep(prep)
            pf = self._next_pages
            self._next_pages = None
            self.discard_prefetch(pf)
            prep = self._next_prep
            self._next_prep = None
            self.discard_prep(prep)
        self.flush_metrics()
        # position 3 = on_close (middleware.py:129-137): sink flush hooks;
        # called with the committed store (not a row DataFrame)
        for entry in sorted(cfg.handlers.get("on_close", []), key=lambda x: -x[0]):
            prio, fn = entry[0], entry[1]
            if prio != 0:
                fn(self.store, {"round": self.store.last_round, "config": cfg})
        return history
