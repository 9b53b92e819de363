"""`crawl` workload: one seeded crawl through the public CrawlJob API,
the driver loop the CLI runs.

One round = a fresh state store and `CrawlJob.start`, then `CrawlJob.step`
until the crawl ends, then `CrawlJob.maintain` (compaction and snapshot
expiry), with the CLI's production settings: checkpointed seen filters
and the 100,000-URL wave-size cap. The crawl goes to depth 1: the seed
wave, then one expansion wave that reads the committed frontier back,
joins it to the documents and explodes their links. Each wave goes
through `plans.wave.run_wave` and appends to `crawl_status`,
`frontier`, `url_seen`, `host_slots` and `crawl_metrics` in one
snapshot commit. The cap's rank and observation run on every wave; at
this size no wave exceeds the cap, so no wave is split. Each run starts
a fresh process, so the round is what a newly submitted crawl pays.
Wave time is flat in the wave's size at this scale (fixed Spark job,
planning and first-use cost dominates), so the waves stay small.

Inputs come from `sources.synth.synth_docs`, salted by the seed: the
seed sets the corpus size, a path salt in every URL and the crawl seed.
Outputs are checked after the window against the pure-Python spec
`oracle.spec.crawl`.
"""

from __future__ import annotations

import hashlib
import random
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

N_HOSTS = 100
BASE_DOCS = 3000
CRAWL_DEPTH = 1
WAVE_CAP = 100_000  # the README's production --max-wave-urls
COMPACT_EVERY = 1
N_SHARDS = 32
# profile filters that reject or demote part of every wave
MUSTNOTMATCH = r".*/page/[0-9]*7\.html"
INDEXMUSTNOTMATCH = r".*/page/[0-9]*5\.html"
BLACKLIST_REGEX = r".*/page/[0-9]*3\.html"
METRIC_KEYS = (
    "extracted", "parsed_ok", "deduped_session", "deduped_persistent",
    "rejected_filter", "rejected_blacklist", "rejected_robots", "accepted",
    "do_index",
)
FRONTIER_COLS = (
    "depth", "lane", "do_index", "batch_no", "batch_pos", "url", "url_id",
    "fetch_slot", "not_before_ms",
)


@dataclass
class Inputs:
    docs: object  # persisted DataFrame documents(doc_id, spans)
    docs_map: dict  # doc_id -> spans, for the spec
    robots_df: object
    robots: dict  # host -> {disallow, delay_ms}
    blacklist: list
    seed_url: str


@dataclass
class Round:
    store: object
    cid: str
    seconds: float


def make_inputs(spark, seed: int) -> Inputs:
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.operators.blacklist import BlacklistRule
    from yacy_grid_crawler_spark.sources.synth import synth_docs

    rng = random.Random(seed)
    n_docs = BASE_DOCS + rng.randrange(500)
    path = f"/s{rng.randrange(16 ** 6):06x}/page/"
    docs = synth_docs(spark, n_docs, n_hosts=N_HOSTS).select(
        F.regexp_replace("doc_id", "/page/", path).alias("doc_id"),
        F.transform(
            "spans",
            lambda s: s.withField("text", F.regexp_replace(s["text"], "/page/", path)),
        ).alias("spans"),
    ).persist()
    docs_map = {
        r["doc_id"]: [s.asDict() for s in r["spans"]] for r in docs.collect()
    }
    # the crawl seed: a page that no filter rejects
    seed_url = next(
        u for u in rng.sample(sorted(docs_map), 64)
        if u.rsplit("/", 1)[1][-6] not in "37" and u.rsplit("/", 1)[1][0] != "1"
    )
    # robots for every host: /private/ everywhere, and on even hosts
    # every page whose number starts with 1
    robots = {
        f"host{i:04d}.example.org": {
            "disallow": ["/private/"] + ([f"{path}1"] if i % 2 == 0 else []),
            "delay_ms": (i % 5) * 100,
        }
        for i in range(N_HOSTS)
    }
    robots_df = spark.createDataFrame(
        [(h, r["disallow"], r["delay_ms"]) for h, r in robots.items()],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    # the reference's 13,443-rule blacklist load: host rules that never
    # match plus regex rules, one of which rejects pages ending in 3
    blacklist = [
        BlacklistRule("host", f"evil{i:05d}.example.net", "", "synthetic", "")
        for i in range(13434)
    ] + [
        BlacklistRule("regex", None, rf".*?//10\.{i}\..*+", "synthetic", "")
        for i in range(8)
    ] + [BlacklistRule("regex", None, BLACKLIST_REGEX, "synthetic", "")]
    return Inputs(docs, docs_map, robots_df, robots, blacklist, seed_url)


def _overrides() -> dict:
    return {
        "crawlingDepth": CRAWL_DEPTH,
        "mustnotmatch": MUSTNOTMATCH,
        "indexmustnotmatch": INDEXMUSTNOTMATCH,
    }


def run_round(spark, inputs: Inputs, store_root: Path) -> Round:
    """One timed round (see the module docstring)."""
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    t0 = time.perf_counter()
    job = CrawlJob(
        spark, str(store_root), inputs.docs, blacklist=inputs.blacklist,
        robots=inputs.robots_df, n_shards=N_SHARDS, checkpoint_filters=True,
        max_wave_urls=WAVE_CAP,
    )
    (cid,) = job.start(inputs.seed_url, _overrides())
    while job.step(cid):
        pass
    job.maintain(max_commits=COMPACT_EVERY)
    return Round(job.store, cid, time.perf_counter() - t0)


def cleanup(rnd: Round) -> None:
    shutil.rmtree(rnd.store.root, ignore_errors=True)


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

@dataclass
class Observed:
    """Outputs of one crawl as plain rows."""

    seen: list[str]
    status: dict[str, tuple[str, str]]
    frontier: list[tuple]
    metrics: dict[int, tuple]


def _frontier_key(r) -> tuple:
    return (r["depth"], not r["do_index"], r["batch_no"], r["batch_pos"])


def observe(store, cid: str) -> Observed:
    from pyspark.sql import functions as F

    mine = F.col("crawl_id") == cid
    seen = [r["url_id"] for r in store.read("url_seen").filter(mine).select("url_id").collect()]
    status = {
        r["url_id"]: (r["status"], r["comment_class"])
        for r in store.read("crawl_status").filter(mine).collect()
    }
    frontier = [
        tuple(r[c] for c in FRONTIER_COLS)
        for r in sorted(store.read("frontier").filter(mine).collect(), key=_frontier_key)
    ]
    metrics: dict[int, list[int]] = {}
    for r in store.read("crawl_metrics").filter(mine).collect():
        acc = metrics.setdefault(r["depth"], [0] * len(METRIC_KEYS))
        for i, k in enumerate(METRIC_KEYS):
            acc[i] += r[k]
    return Observed(seen, status, frontier, {d: tuple(v) for d, v in metrics.items()})


def expected(inputs: Inputs, cid: str) -> Observed:
    """The spec's outputs for the crawl."""
    from yacy_grid_crawler_spark.config import build_crawl_start, make_profile
    from yacy_grid_crawler_spark.oracle.spec import crawl as oracle_crawl

    profile = build_crawl_start(make_profile(_overrides()), inputs.seed_url)
    profile["id"] = cid
    rules = [
        {"rule_kind": r.rule_kind, "host": r.host, "pattern": r.pattern}
        for r in inputs.blacklist
    ]
    res = oracle_crawl(
        inputs.docs_map, [inputs.seed_url], profile, blacklist=rules, robots=inputs.robots,
    )
    frontier = [tuple(r[c] for c in FRONTIER_COLS) for r in sorted(res.frontier, key=_frontier_key)]
    metrics = {m["depth"]: tuple(m[k] for k in METRIC_KEYS) for m in res.metrics}
    return Observed(sorted(res.seen), dict(res.status), frontier, metrics)


def compare(got: Observed, want: Observed) -> list[str]:
    """Differences between engine and spec outputs; empty when equal."""
    errs = []
    if len(set(got.seen)) != len(got.seen):
        errs.append("url_seen: duplicate url_id")
    if set(got.seen) != set(want.seen):
        errs.append(f"url_seen: {len(got.seen)} ids vs {len(want.seen)} expected")
    if got.status != want.status:
        errs.append(f"crawl_status: {len(got.status)} rows vs {len(want.status)} expected")
    ids = [r[FRONTIER_COLS.index("url_id")] for r in got.frontier]
    if len(set(ids)) != len(ids):
        errs.append("frontier: duplicate url_id")
    if got.frontier != want.frontier:
        errs.append(f"frontier: {len(got.frontier)} rows vs {len(want.frontier)} expected")
    if got.metrics != want.metrics:
        errs.append(f"crawl_metrics: {got.metrics} vs {want.metrics}")
    return errs


def digest(obs: Observed) -> str:
    return hashlib.sha256(repr(obs.frontier).encode()).hexdigest()[:16]


def check_round(rnd: Round, inputs: Inputs) -> tuple[Observed, list[str]]:
    """The round's outputs and their differences from the spec."""
    got = observe(rnd.store, rnd.cid)
    return got, compare(got, expected(inputs, rnd.cid))
