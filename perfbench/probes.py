"""Standalone per-layer timings for traced `crawl` runs.

The input is every candidate link of the seeded corpus, persisted, as
one bulk wave sees it (~30% of links de-canonicalized, a quarter of the
URLs preloaded as seen, the 13,443-rule blacklist and robots rules for
100 hosts). On it the benchmark times one whole `run_wave` and one
`run_wave_multi` (two crawls) with their outputs written to Spark's
`noop` sink, then each kernel of the wave pipeline on its own, so a
kernel's time is not hidden inside the wave's single materializing
write. Runs after the timed window.
"""

from __future__ import annotations

import time


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


WAVE_COUNTERS = (
    "extracted", "accepted", "deduped_session", "deduped_persistent",
    "rejected_filter", "rejected_blacklist", "rejected_robots",
)


def _bulk_waves(spark, inputs, cand, n: int, out: dict) -> list[str]:
    """Times the two bulk waves; returns the failed output checks."""
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.config import build_crawl_start, make_profile
    from yacy_grid_crawler_spark.plans.multiwave import profiles_to_df, run_wave_multi
    from yacy_grid_crawler_spark.plans.wave import run_wave

    from crawl import N_SHARDS, _overrides

    profiles = {
        cid: {**build_crawl_start(make_profile(_overrides()), inputs.seed_url), "id": cid}
        for cid in ("bulk-a", "bulk-b")
    }
    # a quarter of the corpus pages were seen before
    pages = inputs.docs.select(F.md5("doc_id").alias("url_id")).filter(
        F.pmod(F.xxhash64("url_id"), F.lit(4)) == 0
    )
    seen = pages.select(F.lit("bulk-a").alias("crawl_id"), "url_id", F.lit(0).alias("first_depth"))
    seen = seen.unionByName(seen.withColumn("crawl_id", F.lit("bulk-b"))).persist()
    seen.count()
    no_status = spark.createDataFrame([], "url_id string")
    common = dict(
        blacklist=inputs.blacklist, robots=inputs.robots_df, n_shards=N_SHARDS,
        distributed_rank=True, hot_host_threshold=max(n // 100, 1000),
    )

    t0 = time.perf_counter()
    res = run_wave(
        cand, profiles["bulk-a"], seen=seen.filter(F.col("crawl_id") == "bulk-a"),
        status_ids=no_status, depth=1, **common,
    )
    for df in (res.status, res.frontier, res.seen):
        _noop(df)
    counts = res.resolve()
    out["plans.wave.bulk_s"] = time.perf_counter() - t0
    out["plans.wave.bulk_urls_per_s"] = n / out["plans.wave.bulk_s"]
    errors = _check_counters(counts, res, n)
    res.unpersist()
    for c in WAVE_COUNTERS:
        out[f"plans.wave.{c}"] = counts[c]
    out["plans.wave.accept_ratio"] = counts["accepted"] / max(counts["extracted"], 1)

    multi = cand.select(
        F.when(F.col("parent_batch_no") % 2 == 0, "bulk-a").otherwise("bulk-b").alias("crawl_id"),
        F.lit(1).alias("depth"), *cand.columns,
    )
    t0 = time.perf_counter()
    res = run_wave_multi(
        multi, profiles_to_df(spark, profiles), seen=seen, status_ids=no_status, **common
    )
    for df in (res.status, res.frontier, res.seen):
        _noop(df)
    res.metrics_df().collect()
    out["plans.multiwave.bulk_s"] = time.perf_counter() - t0
    res.unpersist()
    seen.unpersist()
    return errors


def _check_counters(c: dict, res, n: int) -> list[str]:
    """Counter identities of one wave and url_id uniqueness of its
    frontier and seen outputs."""
    from pyspark.sql import functions as F

    novel = (
        c["accepted"] + c["deduped_persistent"] + c["rejected_filter"]
        + c["rejected_blacklist"] + c["rejected_robots"]
    )
    frontier = res.frontier.agg(
        F.count(F.lit(1)).alias("rows"), F.countDistinct("url_id").alias("ids")
    ).collect()[0]
    seen = res.seen.agg(
        F.count(F.lit(1)).alias("rows"), F.countDistinct("url_id").alias("ids")
    ).collect()[0]
    checks = {
        "extracted == candidates": c["extracted"] == n,
        "parsed_ok <= extracted": c["parsed_ok"] <= c["extracted"],
        "novel + deduped_session <= parsed_ok": novel + c["deduped_session"] <= c["parsed_ok"],
        "frontier rows == accepted": frontier["rows"] == c["accepted"],
        "frontier url_id unique": frontier["rows"] == frontier["ids"],
        "seen rows == novel": seen["rows"] == novel,
        "seen url_id unique": seen["rows"] == seen["ids"],
    }
    return [f"bulk wave: {name}" for name, ok in checks.items() if not ok]


def run(spark, inputs) -> tuple[dict[str, float], list[str]]:
    """Per-layer numbers and the failed output checks of the bulk wave."""
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.config import build_crawl_start, make_profile
    from yacy_grid_crawler_spark.functions.bloom import build_from_spark
    from yacy_grid_crawler_spark.functions.udfs import canonicalize
    from yacy_grid_crawler_spark.functions.urlnorm import (
        FAST_CANONICAL_PATTERN,
        TIER2_CANONICAL_PATTERN_JVM,
    )
    from yacy_grid_crawler_spark.operators.batching import assign_batches
    from yacy_grid_crawler_spark.operators.blacklist import apply_blacklist
    from yacy_grid_crawler_spark.operators.dedup import dedup_against_seen, first_occurrence
    from yacy_grid_crawler_spark.operators.filters import mustmatch_verdict, robots_verdict
    from yacy_grid_crawler_spark.plans.wave import CANON_ORDER

    from crawl import MUSTNOTMATCH

    out: dict[str, float] = {}
    cand = inputs.docs.select(
        F.lit(0).alias("parent_ini"),
        F.monotonically_increasing_id().alias("parent_batch_no"),
        F.lit(0).alias("parent_batch_pos"),
        F.explode("spans").alias("span"),
    ).select(
        "parent_ini", "parent_batch_no", "parent_batch_pos",
        F.col("span.offset").alias("span_offset"),
        F.col("span.text").alias("url_raw"),
    ).filter(F.col("url_raw").isNotNull()).persist()
    n = cand.count()
    errors = _bulk_waves(spark, inputs, cand, n, out)

    fast = F.regexp_like("url_raw", F.lit(FAST_CANONICAL_PATTERN))
    tier2 = F.regexp_like("url_raw", F.lit(TIER2_CANONICAL_PATTERN_JVM))
    slow = cand.filter(~fast & ~tier2).select("url_raw").persist()
    n_slow = slow.count()
    out["functions.urlnorm.slow_path_ratio"] = n_slow / n
    out["functions.udfs.canonicalize_s"] = _noop(slow.select(canonicalize("url_raw")))

    canon = cand.withColumn("url", F.coalesce(canonicalize("url_raw"), F.col("url_raw"))).drop(
        "url_raw").persist()
    canon.count()
    first = first_occurrence(
        canon, key="url", order=CANON_ORDER, carry=(), crawl_col=None, keep_packed="_ord"
    ).withColumn("url_id", F.md5("url"))
    out["operators.dedup.first_occurrence_s"] = _noop(first)
    first = first.persist()
    n_unique = first.count()
    out["operators.dedup.dup_ratio"] = 1.0 - n_unique / n

    # a quarter of the wave's URLs were seen before
    seen = first.filter(F.pmod(F.xxhash64("url_id"), F.lit(4)) == 0).select("url_id").persist()
    n_seen = seen.count()
    novel = dedup_against_seen(
        first, seen, key="url_id", crawl_col=None, use_bloom=False,
        assume_unique=True, join_hint="shuffle_hash",
    )
    out["operators.dedup.anti_join_s"] = _noop(novel)

    profile = build_crawl_start(make_profile({"mustnotmatch": MUSTNOTMATCH}), inputs.seed_url)
    verdicts = first.withColumns({
        "host": F.regexp_extract("url", r"^[a-z]+://(?:[^/@]*@)?([^/:?]+)", 1),
        "_mm_ok": mustmatch_verdict(F.col("url"), profile["mustmatch"], profile["mustnotmatch"]),
    })
    verdicts = robots_verdict(apply_blacklist(verdicts, inputs.blacklist, out_col="_bl"), inputs.robots_df)
    out["operators.filters.verdict_s"] = _noop(verdicts)

    ranked = assign_batches(
        first.withColumn("crawl_id", F.lit("c")).withColumn("do_index", F.lit(True)),
        order=("_ord",), distributed=True,
    )
    out["operators.batching.rank_s"] = _noop(ranked)

    t0 = time.perf_counter()
    bloom = build_from_spark(seen, n_items=n_seen)
    out["functions.bloom.build_s"] = time.perf_counter() - t0
    absent = first.join(seen, "url_id", "left_anti").select("url_id").toPandas()["url_id"]
    out["functions.bloom.fp_ratio"] = (
        float(bloom.might_contain(absent).mean()) if len(absent) else 0.0
    )
    for df in (cand, slow, canon, first, seen):
        df.unpersist()
    return out, errors
