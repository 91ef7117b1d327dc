"""The benchmark's own tests: summary rules, metric names, generators,
oracle comparators and the span bookkeeping, at tiny scale and without
Spark.  Run with ``python3 -m pytest perfbench/tests -q`` from the
repository root."""

from __future__ import annotations

import json
import math
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen, stats
from perfbench.oracle import STATS, Oracle, buckets, close, final_end, same_rows, same_series
from perfbench.trace import Tracer

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


# -- percentile and sample-count rule -----------------------------------------


def test_median_always_tail_only_from_100_samples():
    few = stats.summarize([float(i) for i in range(99)])
    assert few == {"n": 99, "p50": 49.0}
    many = stats.summarize([float(i) for i in range(100)])
    assert many["n"] == 100 and many["p50"] == 49.5
    assert math.isclose(many["p90"], np.percentile(np.arange(100.0), 90))
    assert stats.summarize([]) == {"n": 0}


def test_percentile_interpolates_linearly():
    assert stats.percentile([1.0, 5.0], 0.9) == pytest.approx(4.6)
    xs = list(np.random.default_rng(0).normal(size=37))
    for q in (0.0, 0.5, 0.9, 0.99, 1.0):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q * 100))


def test_halves():
    assert stats.halves([1.0, 2.0, 10.0, 20.0]) == (1.5, 15.0)
    assert stats.halves([3.0]) == (3.0, None)
    assert stats.halves([]) == (None, None)


# -- metric names and the benchmark file ------------------------------------------


@pytest.mark.parametrize(
    "name, ok",
    [
        ("tsdb.sync.jobs", True),
        ("tsdb.sync.onehour.upsert_s", True),
        ("storage.files", True),  # a layer-wide gauge
        ("storage", False),  # no measure
        ("Tsdb.sync.jobs", False),
        ("tsdb..jobs", False),
        ("tsdb.sync.jobs.", False),
        ("a.b.c.d.e", False),
        ("x" * 61 + ".a.b", False),  # over 64 characters
    ],
)
def test_layer_metric_grammar(name, ok):
    assert stats.valid_layer_name(name) is ok


def test_benchmark_file_follows_the_grammar():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert stats.valid_e2e_name(m["name"]) and stats.valid_unit(m["unit"])
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert stats.valid_layer_name(m["name"]) and stats.valid_unit(m["unit"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200


# -- generators ------------------------------------------------------------------


def test_generators_are_seeded():
    a = gen.Timeline(gen.Traffic(7, 0.5), start=gen.EPOCH_BASE, step=600.0)
    b = gen.Timeline(gen.Traffic(7, 0.5), start=gen.EPOCH_BASE, step=600.0)
    c = gen.Timeline(gen.Traffic(8, 0.5), start=gen.EPOCH_BASE, step=600.0)
    for k in (1, 2, 3):
        da, db, dc = a.delivery(k), b.delivery(k), c.delivery(k)
        assert all(np.array_equal(x, y) for x, y in zip(da, db))
    assert not np.array_equal(da[1], dc[1])


def test_check_paths_are_distinct_and_start_with_the_hottest():
    t = gen.Traffic(7, 0.5)
    for seed in range(20):
        paths = t.check_paths(np.random.default_rng(seed), 6)
        assert len(set(paths)) == 6
        hottest = t.paths[np.argsort(-t.weights)[:2]]
        assert paths[:2] == [str(p) for p in hottest]


def test_late_points_arrive_inside_the_tail_and_once():
    t = gen.Timeline(gen.Traffic(3, 2.0), start=gen.EPOCH_BASE, step=600.0)
    late_total = 0
    for k in range(1, 6):
        idx, ts, val = t.delivery(k, final=(k == 5))
        lo, hi = t.bounds(k)
        early = ts < lo
        late_total += early.sum()
        # a late point belongs to the previous chunk's last seconds, which
        # the finality tail (60 s) still holds open at that chunk's sync
        assert np.all(ts[early] >= lo - gen.LATE_WINDOW_S)
        assert np.all(ts < hi)
    assert late_total > 0
    _, ts, _ = t.delivered()
    expected = sum(len(t.traffic.chunk(*t.bounds(k))[1]) for k in range(1, 6))
    assert len(ts) == expected and len(np.unique(ts)) > 0.99 * expected


def test_wire_lines_round_trip():
    paths = np.array(["a.b", "c"], dtype=object)
    data = gen.wire_lines(paths, [0, 1], [1700000000.125, 5.0], [0.1, 2.5]).decode()
    assert data == "a.b 0.1 1700000000.125\nc 2.5 5.0\n"


# -- oracle and comparators ---------------------------------------------------------


def test_buckets_by_hand():
    ts = np.array([0.5, 1.0, 9.9, 10.0, 25.0])
    vals = np.array([1.0, 5.0, 5.0, 2.0, 7.0])
    got = buckets(ts, vals, 10)
    assert sorted(got) == [0.0, 10.0, 20.0]
    first = got[0.0]
    assert first["n"] == 3 and first["min"] == 1 and first["max"] == 5
    assert first["sum"] == 11 and first["avg"] == pytest.approx(11 / 3)
    assert first["p50"] == 5.0 and first["p90"] == pytest.approx(5.0)
    assert got[10.0]["p99"] == 2.0


def test_buckets_match_numpy_percentiles_with_ties():
    rng = np.random.default_rng(1)
    ts = rng.uniform(0, 100, 500)
    vals = np.round(rng.normal(size=500), 1)  # many ties
    got = buckets(ts, vals, 7)
    for start, row in got.items():
        xs = vals[(np.floor(ts / 7) * 7) == start]
        for stat, q in (("p50", 50), ("p90", 90), ("p99", 99)):
            assert close(row[stat], float(np.percentile(xs, q)))
        assert row["n"] == len(xs) and close(row["sum"], float(xs.sum()))


def test_oracle_finality_window_and_listing():
    paths = np.array(["p0", "p1", "p2"], dtype=object)
    idx = np.array([0, 0, 0, 1, 2])
    ts = np.array([100.0, 105.0, 230.0, 50.0, 400.0])
    vals = np.array([1.0, 3.0, 4.0, 9.0, 2.0])
    o = Oracle(paths, idx, ts, vals)
    now = 300.0  # final_end(10) = 240: bucket 230 final, 400 not
    assert final_end(10, now) == 240
    assert o.get_metric("p0", 10, "sum", (100, 230), now) == [(100.0, 4.0), (230.0, 4.0)]
    assert o.get_metric("p0", 10, "n", (101, 229), now) == []
    assert o.get_metric("p2", 10, "n", (0, 1000), now) == []
    assert o.list_metrics([1, 10], now) == ["p0", "p1"]


def test_comparators_catch_differences():
    want = buckets(np.array([1.0, 2.0, 11.0]), np.array([1.0, 2.0, 3.0]), 10)
    got = {t: dict(r) for t, r in want.items()}
    assert same_rows(got, want)
    got[0.0]["p90"] += 1e-9  # below six decimal places: equal
    assert same_rows(got, want)
    got[0.0]["p90"] += 1e-3
    assert not same_rows(got, want)
    missing = {t: r for t, r in want.items() if t != 10.0}
    assert not same_rows(missing, want)
    series = [(0.0, 1.5), (10.0, 3.0)]
    assert same_series(list(series), series)
    assert not same_series(series[:1], series)
    assert not same_series([(0.0, 1.5), (10.0, 3.1)], series)
    assert set(next(iter(want.values()))) == set(STATS)


# -- spans ---------------------------------------------------------------------------


def test_spark_split_merges_overlapping_jobs():
    tr = Tracer(True)
    span = {"start": 100.0, "end": 110.0}
    job = {"tasks": 2, "executor_cpu_s": 0.5, "gc_s": 0.1, "shuffle_bytes": 10, "input_bytes": 5, "output_bytes": 1}
    jobs = [
        dict(job, submit=101.0, complete=103.0),
        dict(job, submit=102.0, complete=104.0),  # overlaps the first
        dict(job, submit=108.0, complete=109.0),
    ]
    split = tr.spark_split(span, jobs)
    assert split["jobs"] == 3 and split["tasks"] == 6
    assert split["build_s"] == pytest.approx(1.0)
    assert split["outside_jobs_s"] == pytest.approx(10.0 - 3.0 - 1.0)
    assert split["executor_cpu_s"] == pytest.approx(1.5)
    assert tr.spark_split(span, []) == pytest.approx(
        dict(jobs=0.0, tasks=0.0, build_s=10.0, outside_jobs_s=10.0, executor_cpu_s=0.0, gc_s=0.0, shuffle_bytes=0.0, input_bytes=0.0, output_bytes=0.0)
    )


def test_wrap_records_nested_spans_and_unwraps():
    class Mod:
        @staticmethod
        def inner(x):
            return x + 1

    def outer(x):
        return Mod.inner(x) * 2

    tr = Tracer(True)
    original = Mod.inner
    tr.wrap(Mod, "inner", "layer.inner")
    tr.begin_op(1, "op.test")
    assert tr.call("layer.outer", outer, 1) == 4
    tr.end_op()
    tr.unwrap()
    assert Mod.inner is original
    by = {s["name"]: s for s in tr.spans}
    assert by["layer.inner"]["parent"] == by["layer.outer"]["id"]
    assert by["layer.outer"]["parent"] == by["op.test"]["id"]
    assert {s["op"] for s in tr.spans} == {1}
    by["layer.inner"]["py4j"] = 3
    by["layer.outer"]["py4j"] = 1
    assert tr.inclusive_py4j()[by["op.test"]["id"]] == 4


def test_worker_thread_spans_roll_up_into_the_open_call():
    import threading

    class Mod:
        @staticmethod
        def inner():
            return None

    tr = Tracer(True)
    tr.wrap(Mod, "inner", "layer.inner")

    def work():
        # what the py4j wrapper charges a gateway call to on this thread
        with tr._lock:
            tr.current()["py4j"] += 1
        Mod.inner()

    def outer():
        threads = [threading.Thread(target=work) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()

    tr.begin_op(1, "op.test")
    tr.call("layer.outer", outer)
    tr.end_op()
    tr.unwrap()
    outer_span = next(s for s in tr.spans if s["name"] == "layer.outer")
    inner = [s for s in tr.spans if s["name"] == "layer.inner"]
    assert len(inner) == 3 and all(s["parent"] == outer_span["id"] for s in inner)
    assert outer_span["py4j"] == 3
    assert tr.inclusive_py4j()[outer_span["id"]] == 3
    assert tr.current() is None


def test_untraced_call_records_nothing():
    tr = Tracer(False)
    tr.begin_op(1, "op.test")
    assert tr.call("x", lambda: 5) == 5
    tr.end_op()
    assert tr.spans == []
