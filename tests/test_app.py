"""App/graphing data layer (reference app/__init__.py) + per-period
retention and the approx-percentile scale mode."""

import datetime as dt
import io

import pytest

from smalltsdb_spark.app import (
    graph_data,
    make_short_names,
    parse_datetime,
    pretty_print_table,
)
from smalltsdb_spark.storage import SECONDS_PER_DAY
from smalltsdb_spark.tsdb import TablesTSDB, ViewTSDB
from tests.test_golden import GOLDEN_B_INPUT


def test_parse_datetime():
    assert parse_datetime(5) == 5
    assert parse_datetime("120") == 120
    assert parse_datetime("2024-01-01T00:00:00+00:00") == dt.datetime(
        2024, 1, 1, tzinfo=dt.timezone.utc
    )
    d = dt.datetime(2024, 1, 1)
    assert parse_datetime(d) is d


def test_make_short_names():
    # only differing positions appear (reference app/__init__.py:72-82)
    assert make_short_names([("one", "tensecond", "avg"), ("two", "tensecond", "avg")]) == [
        "one",
        "two",
    ]
    assert make_short_names([("one", "tensecond", "avg"), ("one", "oneminute", "p90")]) == [
        "tensecond avg",
        "oneminute p90",
    ]
    assert make_short_names([("one", "tensecond", "avg")]) == ["one"]


def test_graph_data_golden_b(spark, tsdb_dir):
    """The /graph flow: flattened args → unflatten → N get_metric series
    (reference app/__init__.py:169-227, demo data app/__init__.py:48-60)."""
    db = ViewTSDB(spark, tsdb_dir)
    db.insert(GOLDEN_B_INPUT)
    args = {
        "metrics.0.name": "one",
        "metrics.0.period": "tensecond",
        "metrics.0.stat": "avg",
        "metrics.1.name": "two",
        "metrics.1.period": "tensecond",
        "metrics.1.stat": "avg",
        "metrics.2.name": "  ",  # blank names dropped
        "metrics.2.period": "tensecond",
        "metrics.2.stat": "avg",
        "start": "0",
        "end": "60",
    }
    data = graph_data(db, args)
    assert [s["label"] for s in data["series"]] == ["one", "two"]
    one = data["series"][0]
    assert one["timestamps"] == [0.0, 10.0, 20.0, 30.0, 40.0]
    assert one["values"] == [1.5, 5.0, 2.0, 1.5, 4.0]
    two = data["series"][1]
    assert two["timestamps"] == [0.0, 10.0, 40.0]


def test_graph_of_three_series_submits_no_job(spark, tsdb_dir, count_jobs):
    """/graph reads one series per get_metric, and each finalized read
    is served on the driver: no Spark job for the whole request."""
    from smalltsdb_spark.app import create_app

    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1e9)
    db.insert(
        [(p, float(t), float(t % 9)) for p in ("a", "b", "c") for t in range(0, 300, 5)]
    )
    db.sync()
    query = {"start": "0", "end": "300"} | {
        f"metrics.{i}.{key}": value
        for i, path in enumerate("abc")
        for key, value in (("name", path), ("period", "tensecond"), ("stat", "avg"))
    }
    client = create_app(db).test_client()
    responses = []
    assert count_jobs(lambda: responses.append(client.get("/graph", query_string=query))) == 0
    (resp,) = responses
    assert resp.status_code == 200
    series = resp.get_json()["series"]
    assert [s["name"] for s in series] == ["a", "b", "c"]
    assert all(s["timestamps"] == [float(t) for t in range(0, 300, 10)] for s in series)


def test_graph_data_empty_series_placeholder(spark, tsdb_dir):
    db = ViewTSDB(spark, tsdb_dir)
    db.insert(GOLDEN_B_INPUT)
    args = {
        "metrics.0.name": "nosuch",
        "metrics.0.period": "tensecond",
        "metrics.0.stat": "avg",
        "start": "0",
        "end": "60",
    }
    data = graph_data(db, args)
    assert data["series"][0]["timestamps"] == [0.0]
    assert data["series"][0]["values"] == [0.0]


def test_pretty_print_table(spark, tsdb_dir):
    db = ViewTSDB(spark, tsdb_dir)
    db.insert(GOLDEN_B_INPUT)
    buf = io.StringIO()
    pretty_print_table(db, "oneminute", file=buf)
    out = buf.getvalue()
    assert "--- oneminute" in out
    assert "one" in out and "two" in out
    assert "p99" in out


def test_approx_percentile_mode(spark, tsdb_dir):
    """exact=False switches to the sketch: p90 of {1,5} is 5.0 (nearest
    rank), not the exact interpolated 4.6 — documented accuracy trade."""
    db = ViewTSDB(spark, tsdb_dir, exact_percentiles=False)
    db.insert([("one", 1.0, 1.0), ("one", 2.0, 5.0)])
    assert db.get_metric("one", "tensecond", "p90", (0, 100)) == [(0.0, 5.0)]
    exact = ViewTSDB(spark, tsdb_dir)
    assert exact.get_metric("one", "tensecond", "p90", (0, 100)) == [(0.0, 4.6)]


def test_per_period_retention(spark, tsdb_dir):
    """Aggregate rows older than the period's retention are dropped at
    sync, whole day-partitions at a time (reference IDEAS.md:6 TODO)."""
    two_days = 2 * SECONDS_PER_DAY
    db = TablesTSDB(
        spark,
        tsdb_dir,
        now=lambda: float(10 * SECONDS_PER_DAY),
        retention={"tensecond": two_days},
    )
    old_ts = float(3 * SECONDS_PER_DAY)  # day 3, far older than retention
    new_ts = float(10 * SECONDS_PER_DAY) - 120.0  # recent, final
    db.insert([("m", old_ts, 1.0), ("m", new_ts, 2.0)])
    db.sync()
    rows = db.get_metric("m", "tensecond", "n", (0, 11 * SECONDS_PER_DAY))
    assert [ts for ts, _ in rows] == [pytest.approx(new_ts - new_ts % 10)]
    # periods without a retention policy keep their old buckets (the new
    # point's one-day bucket is not final yet at this `now`, so oneday
    # holds exactly the old day-3 bucket)
    assert db.get_metric("m", "oneday", "n", (0, 11 * SECONDS_PER_DAY)) == [
        (float(old_ts), 1.0)
    ]


def test_graph_data_bounds_series(spark, tsdb_dir):
    """metrics.N.bounds=1 serves the percentile as histogram-cascade
    containment bounds (r11 — the /graph face of get_metric_bounds):
    the series carries (timestamps, lo, hi) instead of values, hi None
    in the clamp bin; plain series on the same request are unchanged."""
    from smalltsdb_spark.tsdb import TablesTSDB

    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1e9, histograms=True)
    db.insert(
        [("m", float(10 * i), v)
         for i, v in enumerate([10.0, 60.0, 110.0, 260.0, 510.0])]
    )
    # sync materializes the period tables AND the persisted histogram,
    # then retention wipes incoming — both series must still serve
    db.sync()
    args = {
        "metrics.0.name": "m",
        "metrics.0.period": "onehour",
        "metrics.0.stat": "p90",
        "metrics.0.bounds": "1",
        "metrics.1.name": "m",
        "metrics.1.period": "onehour",
        "metrics.1.stat": "n",
        "start": "0",
        "end": "7200",
    }
    data = graph_data(db, args)
    band, plain = data["series"]
    # test_api_ops' hand-computed bin arithmetic: p90 ranks -> bins 5, 10
    assert band["timestamps"] == [0.0]
    assert band["lo"] == [250.0] and band["hi"] == [550.0]
    assert "values" not in band
    assert plain["values"] == [5.0] and "lo" not in plain
