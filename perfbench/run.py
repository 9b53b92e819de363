"""Repository benchmark: one command, seeded workloads, correctness
checks, and a separate traced run for per-layer numbers.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is
one JSON object {"correct", "attempted", "failed", "metrics"}; the line
before it describes the machine and the run. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics (see README.md).
Every workload is a closed loop: one caller in one process, Spark
`local[nproc]`, whole rounds back to back until `--seconds` have passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import box
import crawl
import curate
import probes
from tracer import Tracer, self_times

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
}

STORE_TABLES = ("crawl_starts", "crawl_status", "frontier", "url_seen", "host_slots", "crawl_metrics")


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "session.engine_rss_mb": "MB",
        "session.driver_rss_mb": "MB",
        "sources.synth.gen_s": "s",
        "plans.wave.bulk_s": "s",
        "plans.wave.bulk_urls_per_s": "1/s",
        "plans.wave.build_s": "s",
        "plans.wave.exec_s": "s",
        "plans.wave.shuffle_bytes": "bytes",
        "plans.wave.spill_bytes": "bytes",
        "plans.wave.task_skew": "ratio",
        "plans.wave.spark_jobs": "count",
        "plans.wave.busy_ratio": "ratio",
        "plans.wave.accept_ratio": "ratio",
        **{f"plans.wave.{c}": "count" for c in probes.WAVE_COUNTERS},
        "functions.urlnorm.slow_path_ratio": "ratio",
        "functions.udfs.canonicalize_s": "s",
        "functions.bloom.build_s": "s",
        "functions.bloom.fp_ratio": "ratio",
        "operators.dedup.first_occurrence_s": "s",
        "operators.dedup.anti_join_s": "s",
        "operators.dedup.dup_ratio": "ratio",
        "operators.filters.verdict_s": "s",
        "operators.batching.rank_s": "s",
        "plans.crawl_job.start_s": "s",
        "plans.crawl_job.step_s": "s",
        "plans.crawl_job.step_self_s": "s",
        "plans.crawl_job.maintain_s": "s",
        "plans.multiwave.bulk_s": "s",
        **{f"sources.statestore.append.{t}_s": "s" for t in STORE_TABLES},
        "sources.statestore.finalize_s": "s",
        "sources.statestore.read_s": "s",
        "sources.statestore.compact_s": "s",
        "sources.statestore.expire_s": "s",
        "sources.statestore.bytes_written": "bytes",
        "sources.statestore.commit_dirs": "count",
        "sources.statestore.bytes_per_url": "bytes",
        **{curate.metric_name(q, layer): "s" for q, layer in curate.QUERIES},
        "registry.spark_jobs": "count",
        "registry.shuffle_bytes": "bytes",
        "registry.busy_ratio": "ratio",
        "trace.round_s": "s",
        "trace.bookkeeping_s": "s",
    }
    return units


def med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """State shared by both workloads: session, set-up timing, tracer."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.extra = box.prepare_env(work)
        self.tracer = Tracer(enabled=bool(args.trace))
        self.rss = box.RssPeak()
        self.spark = None
        self.setup_s = 0.0
        self.layer: dict[str, float] = {}

    def setup(self, make):
        """Set up once, cold: JVM launch and session start, then input
        generation and materialization; returns the inputs. Every run
        pays exactly this, so `setup_s` is one quantity; set-ups
        repeated in the same JVM are a different, warmer one."""
        t0 = time.perf_counter()
        self.spark = box.start_session(self.extra)
        t1 = time.perf_counter()
        inputs = make(self.spark)
        t2 = time.perf_counter()
        self.setup_s = t2 - t0
        self.tracer.bind(self.spark)
        self.layer["session.start_s"] = t1 - t0
        self.layer["sources.synth.gen_s"] = t2 - t1
        return inputs

    def window(self, one_round) -> list:
        """Closed loop: whole rounds until --seconds have passed. Memory
        is sampled from before set-up to the end of the window, so the
        checks that follow do not count."""
        rounds = []
        t0 = time.perf_counter()
        while True:
            rounds.append(one_round(len(rounds)))
            if time.perf_counter() - t0 >= self.args.seconds:
                self.rss.stop()
                return rounds


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

def _wrap_crawl_layers(tracer) -> None:
    from yacy_grid_crawler_spark.plans import crawl_job
    from yacy_grid_crawler_spark.sources.statestore import PendingCommit, StateStore

    job = crawl_job.CrawlJob
    tracer.wrap(job, "start", "plans.crawl_job.start")
    tracer.wrap(job, "step", "plans.crawl_job.step")
    tracer.wrap(job, "maintain", "plans.crawl_job.maintain")
    tracer.wrap(crawl_job, "run_wave", "plans.wave.run_wave")
    tracer.wrap(PendingCommit, "append", lambda self, table, df: f"sources.statestore.append.{table}")
    tracer.wrap(PendingCommit, "finalize", "sources.statestore.finalize")
    tracer.wrap(StateStore, "read", "sources.statestore.read")
    tracer.wrap(StateStore, "compact", "sources.statestore.compact")
    tracer.wrap(StateStore, "expire_snapshots", "sources.statestore.expire_snapshots")


def _dir_stats(root: Path) -> tuple[int, int]:
    size, commits = 0, 0
    for dirpath, dirs, files in os.walk(root):
        commits += sum(d.startswith("commit=") for d in dirs)
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return size, commits


def run_crawl(run: Run) -> dict:
    inputs = run.setup(lambda spark: crawl.make_inputs(spark, run.args.seed))
    _wrap_crawl_layers(run.tracer)
    try:
        rounds = run.window(
            lambda i: crawl.run_round(run.spark, inputs, run.work / f"store{i}")
        )
    finally:
        run.tracer.restore()

    # one operation per round: the crawl
    attempted, failed = len(rounds), 0
    errors, digests = [], []
    for rnd in rounds:
        observed, errs = crawl.check_round(rnd, inputs)
        errors += errs
        failed += 1 if errs else 0
        digests.append(crawl.digest(observed))
    round_s = med([r.seconds for r in rounds])

    if run.args.trace:
        run.layer.update(_crawl_layers(run, rounds))
        numbers, probe_errors = probes.run(run.spark, inputs)
        run.layer.update(numbers)
        # the bulk wave counts as one more checked operation
        attempted += 1
        failed += 1 if probe_errors else 0
        errors += probe_errors

    for rnd in rounds:
        crawl.cleanup(rnd)
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "digests": digests,
        "rounds": [r.seconds for r in rounds],
        "round_s": round_s,
    }


def _crawl_layers(run: Run, rounds: list) -> dict[str, float]:
    t = run.tracer
    t.collect_counters(run.spark)
    waves = t.by_name("plans.crawl_job.step")
    build = {s.parent: s.duration for s in t.by_name("plans.wave.run_wave")}
    own = self_times(t.spans)
    incl = [_inclusive(t, w) for w in waves]
    L = {
        "plans.wave.build_s": med(list(build.values())),
        "plans.wave.exec_s": med([w.duration - build.get(w.id, 0.0) for w in waves]),
        "plans.wave.shuffle_bytes": med([c["shuffle_write_bytes"] for c in incl]),
        "plans.wave.spill_bytes": med([c["spill_bytes"] for c in incl]),
        "plans.wave.task_skew": med([c["task_skew"] for c in incl]),
        "plans.wave.spark_jobs": med([c["jobs"] for c in incl]),
        "plans.wave.busy_ratio": _busy_ratio(incl, waves),
        "plans.crawl_job.start_s": med(t.durations("plans.crawl_job.start")),
        "plans.crawl_job.step_s": med(t.durations("plans.crawl_job.step")),
        "plans.crawl_job.step_self_s": med([own[w.id] for w in waves]),
        "plans.crawl_job.maintain_s": med(t.durations("plans.crawl_job.maintain")),
        "sources.statestore.finalize_s": med(t.durations("sources.statestore.finalize")),
        "sources.statestore.read_s": med(t.durations("sources.statestore.read")),
        "sources.statestore.compact_s": med(t.durations("sources.statestore.compact")),
        "sources.statestore.expire_s": med(t.durations("sources.statestore.expire_snapshots")),
        "trace.round_s": med([r.seconds for r in rounds]),
        "trace.bookkeeping_s": t.bookkeeping_s / len(rounds),
    }
    for tbl in STORE_TABLES:
        L[f"sources.statestore.append.{tbl}_s"] = med(t.durations(f"sources.statestore.append.{tbl}"))
    store = rounds[0].store
    size, commits = _dir_stats(Path(store.root))
    L["sources.statestore.bytes_written"] = size
    L["sources.statestore.commit_dirs"] = commits
    L["sources.statestore.bytes_per_url"] = size / max(store.read("url_seen").count(), 1)
    return L


def _inclusive(tracer, span) -> dict:
    """A span's counters plus those of every span below it."""
    out = {"jobs": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "executor_run_ms": 0, "task_skew": 0.0}
    for s in [span, *tracer.descendants(span)]:
        for k, v in s.counters.items():
            out[k] = max(out[k], v) if k == "task_skew" else out[k] + v
    return out


def _busy_ratio(counters: list[dict], spans: list) -> float:
    """Executor run time ÷ (wall time × cores) over the given spans."""
    busy_s = sum(c["executor_run_ms"] for c in counters) / 1000.0
    return busy_s / max(sum(s.duration for s in spans) * box.cores(), 1e-9)


# ---------------------------------------------------------------------------
# curate_queries
# ---------------------------------------------------------------------------

def run_curate(run: Run) -> dict:
    import __spark_entry__ as entry

    tables = run.work / "tables"

    def make(spark):
        curate.write_tables(run.args.seed, tables)
        return tables

    run.setup(make)
    registry = entry.queries()
    passes = run.window(lambda i: curate.run_pass(run.spark, registry, tables, run.tracer))

    want = curate.oracle_results(tables, entry.oracle_sql())
    failed, errors = 0, []
    for _, _, rows in passes:
        for name, _ in curate.QUERIES:
            why = curate.compare(rows[name], want[name])
            if why:
                failed += 1
                errors.append(f"{name}: {why}")
    digests = [curate.value_hash(*passes[0][2][n]) for n, _ in curate.QUERIES]
    round_s = med([p[0] for p in passes])

    if run.args.trace:
        t = run.tracer
        t.collect_counters(run.spark)
        spans = [s for s in t.spans if s.parent is None]
        incl = [_inclusive(t, s) for s in spans]
        run.layer.update({
            "registry.spark_jobs": sum(c["jobs"] for c in incl) / len(passes),
            "registry.shuffle_bytes": sum(c["shuffle_write_bytes"] for c in incl) / len(passes),
            "registry.busy_ratio": _busy_ratio(incl, spans),
            "trace.round_s": round_s,
            "trace.bookkeeping_s": t.bookkeeping_s / len(passes),
        })
        for name, layer in curate.QUERIES:
            run.layer[curate.metric_name(name, layer)] = med([p[1][name] for p in passes])

    return {
        "attempted": len(passes) * len(curate.QUERIES),
        "failed": failed,
        "errors": errors,
        "digests": digests,
        "rounds": [p[0] for p in passes],
        "round_s": round_s,
    }


WORKLOADS = {"crawl": run_crawl, "curate_queries": run_curate}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "yacy_grid_crawler_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no yacy_grid_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    run = Run(args, work)
    run.rss.start()
    ticks0 = box.cpu_ticks()
    try:
        res = WORKLOADS[args.workload](run)
        context = box.describe(run.spark, ticks0)
    finally:
        box.shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = res["failed"] == 0 and res["attempted"] > 0
    if args.trace:
        units = per_layer_units()
        run.layer["session.engine_rss_mb"] = run.rss.engine_mb
        run.layer["session.driver_rss_mb"] = run.rss.driver_mb
        values = {k: run.layer.get(k, 0.0) for k in units}
    else:
        units = END_TO_END
        values = {
            "setup_s": run.setup_s,
            "round_s": res["round_s"],
        }
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "box": context,
        "setup_s": run.setup_s,
        "round_samples_s": res["rounds"],
        "engine_rss_mb": run.rss.engine_mb,
        "error_rate": res["failed"] / max(res["attempted"], 1),
        "errors": res["errors"][:10],
        "digests": res["digests"],
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
