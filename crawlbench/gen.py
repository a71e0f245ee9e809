"""Seeded inputs for the crawl benchmark, and their ground truth in closed form.

Everything the engine receives is made here from the workload seed:

* ``documents.parquet`` — the table ``corpus_from_documents`` derives the
  corpus from. The seed permutes which text lands on which doc id, which
  fixes the doc -> page assignment.
* the dead pages — links that exist in a parent's HTML but whose page is
  missing from the corpus, so every fetch of them is a 404 that goes
  through the retry path;
* the robots rules (``Crawl-delay`` on some hosts, a ``Disallow`` prefix on
  others) and the special per-host budgets.

The page graph is the one ``corpus_from_documents`` builds (a forest over
page ids; children of ``i`` are ``i*fanout+1 .. i*fanout+fanout``, ids below
``n_hosts`` are roots), so the truth needs no Spark: the reachable URL set,
the text each fetched page must extract to, the fields the item spec must
yield and the count of planned 404s all follow from the shape and the seed.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark stream window hash group column merge row table query scan sort "
    "join filter value key order line part data batch vector agg fast slow "
    "small big customer a the crawl frontier host page link seen budget round"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
LIST_DEPTH = 2  # listed hosts are seeded with their pages at this depth


@dataclass(frozen=True)
class Shape:
    """Size and politeness knobs of one crawl workload (seed-independent)."""

    n_pages: int
    n_hosts: int
    fanout: int
    body_repeat: int
    seed_depth: int = 0  # every page at depth <= this is a seed
    n_listed: int = 0  # hosts seeded with their depth-LIST_DEPTH pages instead
    max_depth: int | None = None  # links are followed this deep below a seed
    host_budget: int = 0  # uniform per-host per-round cap; 0 = none
    n_special: int = 0  # hosts with a special (smaller) budget
    special_budget: int = 0
    n_delay_hosts: int = 0  # hosts whose robots.txt sets Crawl-delay
    crawl_delay: float = 0.0
    n_disallow_hosts: int = 0  # hosts whose robots.txt disallows a prefix
    dead_frac: float = 0.0  # share of pages missing from the corpus
    max_tries: int = 3
    compact_deltas: int = 16  # compact seen once this many deltas accrue
    items: bool = False  # run item_spec() on every page


def host_of(i: int, n_hosts: int, fanout: int) -> int:
    while i >= n_hosts:
        i = (i - 1) // fanout
    return i


def children(i: int, s: Shape) -> list[int]:
    first = i * s.fanout + 1
    return [c for c in range(first, first + s.fanout) if s.n_hosts <= c < s.n_pages]


def url_of(i: int, s: Shape) -> str:
    return f"http://site{host_of(i, s.n_hosts, s.fanout)}.test/p/{i}"


def depth_of(i: int, s: Shape) -> int:
    d = 0
    while i >= s.n_hosts:
        i = (i - 1) // s.fanout
        d += 1
    return d


def documents_table(n_docs: int, rng: np.random.Generator) -> tuple[pa.Table, list[str]]:
    """Word-salad documents in the documents.parquet schema; the doc ids are
    shuffled by the seed, so each seed puts different text on each page."""
    lens = rng.integers(8, 96, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    order = rng.permutation(n_docs)
    texts = [texts[k] for k in order]
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[k] for k in langs]),
            "source": pa.array([f"src{k % 20}" for k in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    return table, texts


def item_spec():
    """The one item family: title and content by css, with processors
    (strip, to_int)."""
    from acrawler_spark.operators.items import FieldRule, ItemSpec

    return ItemSpec(
        family="doc",
        fields={
            "title": FieldRule("title::text", processors=["strip"]),
            "doc_no": FieldRule("title::text", processors=["to_int"]),
            "content": FieldRule("p.content::text", processors=["strip"]),
        },
    )


def sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


@dataclass
class Inputs:
    """One seed's generated inputs plus what a correct crawl produces."""

    shape: Shape
    docs: pa.Table
    seeds: list[str]
    dead: set[str]
    robots: dict
    special: dict[str, int]
    fetched: set[str] = field(default_factory=set)  # reachable and served
    blocked: set[str] = field(default_factory=set)  # reachable, disallowed
    text_sha: dict[str, str] = field(default_factory=dict)
    item_sha: dict[str, str] = field(default_factory=dict)

    @property
    def planned_404s(self) -> int:
        """Fetch attempts on dead pages: each is tried max_tries + 1 times."""
        return len(self.dead) * (self.shape.max_tries + 1)

    def write_documents(self, sf_dir: str) -> None:
        pq.write_table(self.docs, f"{sf_dir}/documents.parquet")


def item_digest(title: str, doc_no: str, content: str) -> str:
    return sha("\x1f".join((title, doc_no, content)))


def make_inputs(shape: Shape, seed: int) -> Inputs:
    s = shape
    rng = np.random.default_rng(seed)
    docs, texts = documents_table(s.n_pages, rng)
    depth = [depth_of(i, s) for i in range(s.n_pages)]
    host = [host_of(i, s.n_hosts, s.fanout) for i in range(s.n_pages)]

    # listed hosts are seeded with their depth-LIST_DEPTH pages (a URL list,
    # as from a sitemap) instead of their home page; the other hosts with
    # every page down to seed_depth
    with_list = sorted({host[i] for i in range(s.n_pages) if depth[i] == LIST_DEPTH})
    listed = set(rng.permutation(with_list)[: s.n_listed].tolist()) if s.n_listed else set()
    seeds_i = [
        i for i in range(s.n_pages)
        if (depth[i] == LIST_DEPTH if host[i] in listed else depth[i] <= s.seed_depth)
    ]

    # dead pages are extra seeds on home-page hosts, fetched in the first
    # round, so their retries end with the crawl's last round
    dead_pool = [
        i for i in range(s.n_pages) if host[i] not in listed and depth[i] == LIST_DEPTH
    ]
    n_dead = int(round(s.dead_frac * s.n_pages))
    dead_i = set(rng.choice(dead_pool, n_dead, replace=False).tolist()) if n_dead else set()
    seeds_i += sorted(dead_i)

    def admitted(blocked) -> dict[int, int]:
        """Pages the crawl admits, with their depth below the seed."""
        out = {i: 0 for i in seeds_i}
        todo = list(seeds_i)
        while todo:
            i = todo.pop()
            if i in dead_i or blocked(i):
                continue
            if s.max_depth is not None and out[i] + 1 > s.max_depth:
                continue
            for c in children(i, s):
                if c not in out:
                    out[c] = out[i] + 1
                    todo.append(c)
        return out

    # robots and special budgets go to drawn hosts. A disallowed prefix is
    # the path of an admitted page whose id times ten is past the last page,
    # so no other path starts with it and it blocks that page only
    reach = admitted(lambda i: False)
    hosts = rng.permutation(s.n_hosts).tolist()
    robots: dict = {}
    special: dict[str, int] = {}
    for h in hosts[: s.n_delay_hosts]:
        robots[f"site{h}.test"] = {"disallow": [], "crawl_delay": s.crawl_delay}
    for h in hosts[s.n_delay_hosts : s.n_delay_hosts + s.n_special]:
        special[f"site{h}.test"] = s.special_budget
    n_disallowed = 0
    for h in hosts[s.n_delay_hosts + s.n_special :]:
        if n_disallowed == s.n_disallow_hosts:
            break
        pool = sorted(
            i for i in reach
            if host[i] == h and depth[i] > 0 and i not in dead_i and i * 10 >= s.n_pages
        )
        if pool:
            leaf = pool[int(rng.integers(len(pool)))]
            robots[f"site{h}.test"] = {"disallow": [f"/p/{leaf}"], "crawl_delay": None}
            n_disallowed += 1

    def is_blocked(i: int) -> bool:
        rule = robots.get(f"site{host[i]}.test")
        return bool(rule) and any(f"/p/{i}".startswith(p) for p in rule["disallow"])

    inp = Inputs(
        shape=s,
        docs=docs,
        seeds=[url_of(i, s) for i in seeds_i],
        dead={url_of(i, s) for i in dead_i},
        robots=robots,
        special=special,
    )
    n_docs = len(texts)
    for i in admitted(is_blocked):
        url = url_of(i, s)
        if is_blocked(i):
            inp.blocked.add(url)
            continue
        if i in dead_i:
            continue
        inp.fetched.add(url)
        body = " ".join([texts[i % n_docs]] * s.body_repeat)
        links = "".join(
            f'<a href="http://site{host[i]}.test/p/{c}">c</a>\n' for c in children(i, s)
        )
        inp.text_sha[url] = sha(
            f"<html><head><title>Doc {i}</title></head><body>\n"
            f'<p class="content">{body}</p>\n{links}</body></html>'
        )
        if s.items:
            inp.item_sha[url] = item_digest(f"Doc {i}", str(i), body.strip())
    return inp


# -- workload shapes ----------------------------------------------------------

# crawl_bulk: ~19 KB pages, fanout 8, no per-host caps, seeded two levels
# deep so the crawl is two big rounds (521 then 3648 pages) plus an item
# spec; seen is compacted once, after the first round
BULK = Shape(
    n_pages=4169, n_hosts=8, fanout=8, body_repeat=64, seed_depth=2, items=True,
    compact_deltas=2,
)

# crawl_polite: small pages on 48 hosts. Half the hosts that have
# depth-2 pages are listed (seeded with those 16 or fewer pages, so a
# per-host budget of 10 splits them over two rounds); every other host is
# seeded with its home page and followed one level (max_depth 1). Special
# budgets, Crawl-delay and Disallow rules on drawn hosts; ~1% dead seeds,
# retried once; seen is compacted after every round; the same item spec as
# bulk, over small pages.
POLITE = Shape(
    n_pages=750, n_hosts=48, fanout=4, body_repeat=1, seed_depth=0,
    n_listed=18, max_depth=1,
    host_budget=10, n_special=3, special_budget=8, n_delay_hosts=4,
    crawl_delay=0.125, n_disallow_hosts=3, dead_frac=0.01,
    max_tries=1, compact_deltas=1, items=True,
)

SHAPES = {"crawl_bulk": BULK, "crawl_polite": POLITE}
