"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

import crawl
import curate
import run
from tracer import Span, Tracer, covered, self_times

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
BENCHMARK = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())


# ---- self-time arithmetic ------------------------------------------------

def test_covered_merges_overlaps_and_clips_to_the_window():
    assert covered([], 0.0, 10.0) == 0.0
    assert covered([(1.0, 3.0), (2.0, 5.0), (7.0, 8.0)], 0.0, 10.0) == pytest.approx(5.0)
    assert covered([(-5.0, 2.0), (9.0, 20.0)], 0.0, 10.0) == pytest.approx(3.0)
    assert covered([(4.0, 4.0), (6.0, 5.0)], 0.0, 10.0) == 0.0


def test_self_time_subtracts_children_not_grandchildren():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6
        Span(3, "a.inner", 1.5, 3.5, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(2.0)


def test_tracer_records_parents_and_restores_wrapped_calls():
    class Layer:
        def call(self, x):
            return x + 1

    t = Tracer(enabled=True)
    original = Layer.__dict__["call"]
    t.wrap(Layer, "call", lambda self, x: f"layer.call.{x}")
    with t.span("outer"):
        assert Layer().call(1) == 2
    t.restore()
    assert Layer.__dict__["call"] is original
    outer, inner = t.spans
    assert (outer.name, inner.name) == ("outer", "layer.call.1")
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert t.descendants(outer) == [inner]


def test_bookkeeping_counts_the_wrapper_label_outside_the_span():
    import time

    class Layer:
        def call(self):
            time.sleep(0.01)

    def slow_label(self):
        time.sleep(0.2)
        return "layer.call"

    t = Tracer(enabled=True)
    t.wrap(Layer, "call", slow_label)
    Layer().call()
    t.restore()
    (span,) = t.spans
    assert t.bookkeeping_s >= 0.2
    assert 0.01 <= span.duration < 0.2  # the label is not inside the span


def test_disabled_tracer_records_nothing_and_wraps_nothing():
    class Layer:
        def call(self):
            return 7

    t = Tracer(enabled=False)
    original = Layer.__dict__["call"]
    t.wrap(Layer, "call", "layer.call")
    with t.span("outer"):
        assert Layer().call() == 7
    assert t.spans == [] and Layer.__dict__["call"] is original


# ---- metric names ---------------------------------------------------------

def test_metric_names_and_units_are_well_formed():
    units = {**run.END_TO_END, **run.per_layer_units()}
    assert len(units) == len(run.END_TO_END) + len(run.per_layer_units())
    for name, unit in units.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), (name, unit)


def test_benchmark_json_lists_exactly_the_reported_metrics():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(run.WORKLOADS)
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])


# ---- correctness checks reject corrupted outputs -----------------------

def _crawl_outputs() -> crawl.Observed:
    rows = [
        (0, "normal", True, 0, i, f"http://h/p{i}.html", f"id{i}", i, 0)
        for i in range(3)
    ]
    return crawl.Observed(
        seen=["id0", "id1", "id2", "id9"],
        status={"id0": ("accepted", "index"), "id1": ("accepted", "index"),
                "id2": ("accepted", "index"), "id9": ("rejected", "robots")},
        frontier=rows,
        metrics={0: (4, 4, 0, 0, 0, 0, 1, 3, 3)},
    )


def test_crawl_check_accepts_equal_outputs():
    assert crawl.compare(_crawl_outputs(), _crawl_outputs()) == []


@pytest.mark.parametrize("corrupt", [
    lambda o: o.frontier.pop(1),                      # dropped frontier row
    lambda o: o.frontier.reverse(),                   # wrong crawl order
    lambda o: o.frontier.append(o.frontier[0]),       # duplicated url_id
    lambda o: o.seen.pop(),                           # lost seen-set entry
    lambda o: o.seen.append("id0"),                   # duplicate seen row
    lambda o: o.status.update(id9=("accepted", "index")),
    lambda o: o.metrics.update({0: (4, 4, 0, 0, 0, 0, 0, 4, 4)}),
])
def test_crawl_check_rejects_a_corrupted_output(corrupt):
    got = _crawl_outputs()
    corrupt(got)
    assert crawl.compare(got, _crawl_outputs())


def test_crawl_digest_changes_with_the_frontier():
    a, b = _crawl_outputs(), _crawl_outputs()
    b.frontier.pop()
    assert crawl.digest(a) == crawl.digest(_crawl_outputs()) != crawl.digest(b)


def _query_outputs():
    return ["Doc_ID", "score"], [(1, 0.5), (2, 0.25000000001), (3, None)]


def test_query_check_is_order_insensitive_and_rounds_floats():
    cols, rows = _query_outputs()
    shuffled = (["score", "doc_id"], [(r[1], r[0]) for r in reversed(rows)])
    assert curate.compare((cols, rows), shuffled) is None
    assert curate.value_hash(cols, rows) == curate.value_hash(*shuffled)


@pytest.mark.parametrize("corrupt", [
    lambda c, r: (c, r[:-1]),                              # dropped row
    lambda c, r: (c, [*r[:-1], (3, 0.75)]),                # changed value
    lambda c, r: (["doc_id", "rank"], r),                  # renamed column
])
def test_query_check_rejects_a_corrupted_output(corrupt):
    want = _query_outputs()
    assert curate.compare(corrupt(*_query_outputs()), want)


# ---- seeded inputs ---------------------------------------------------------

def test_query_tables_are_a_function_of_the_seed(tmp_path):
    import hashlib

    def fingerprint(seed):
        out = tmp_path / str(seed)
        curate.write_tables(seed, out)
        import pandas as pd

        return {
            t: hashlib.sha256(
                pd.read_parquet(out / f"{t}.parquet").to_json().encode()
            ).hexdigest()
            for t in curate.TABLES
        }

    assert fingerprint(5) == fingerprint(5)
    assert fingerprint(5) != fingerprint(6)
