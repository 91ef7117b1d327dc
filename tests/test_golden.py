"""Golden datasets A and B — end-to-end aggregate parity.

Expected rows are the exact values asserted by the reference's own
integration test (tests/test_smalltsdb.py:77-82) and demo dataset
(app/__init__.py:48-60); they pin count/min/max/avg/sum AND the exact
linear-interpolation percentiles (p90 of {1,5} = 4.6, p99 = 4.96).
"""

import pytest

from smalltsdb_spark.tsdb import TablesTSDB, TwoDatabasesTSDB, ViewTSDB

# Golden A incoming rows (path, timestamp, value) — FIXTURES.md §2.
GOLDEN_A_INPUT = [
    ("one", 1.0, 1.0),
    ("one", 2.0, 5.0),
    ("two", 5.0, 2.0),
    ("one", 12.0, 1.0),
]

GOLDEN_A_TENSECOND = [
    ("one", 0.0, 2.0, 1.0, 5.0, 3.0, 6.0, 3.0, 4.6, 4.96),
    ("one", 10.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0),
    ("two", 0.0, 1.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0, 2.0),
]

BACKENDS = [ViewTSDB, TablesTSDB, TwoDatabasesTSDB]


def make_tsdb(cls, spark, tsdb_dir, now=100.0):
    return cls(spark, tsdb_dir, now=lambda: now)


@pytest.mark.parametrize("cls", BACKENDS)
def test_golden_a_tensecond_rows(cls, spark, tsdb_dir):
    db = make_tsdb(cls, spark, tsdb_dir)
    db.insert(GOLDEN_A_INPUT)
    db.sync()
    rows = [
        tuple(r)
        for r in db.period_table("tensecond").orderBy("path", "timestamp").collect()
    ]
    assert rows == pytest.approx(GOLDEN_A_TENSECOND)


@pytest.mark.parametrize("cls", BACKENDS)
def test_golden_a_get_metric(cls, spark, tsdb_dir):
    db = make_tsdb(cls, spark, tsdb_dir)
    db.insert(GOLDEN_A_INPUT)
    db.sync()
    assert db.get_metric("one", "tensecond", "p90", (0, 100)) == [(0.0, 4.6), (10.0, 1.0)]
    assert db.get_metric("two", "tensecond", "n", (0, 100)) == [(0.0, 1.0)]
    # inclusive interval on both ends (reference tsdb.py:135)
    assert db.get_metric("one", "tensecond", "n", (10, 10)) == [(10.0, 1.0)]


@pytest.mark.parametrize("cls", BACKENDS)
def test_golden_a_list_metrics(cls, spark, tsdb_dir):
    db = make_tsdb(cls, spark, tsdb_dir)
    db.insert(GOLDEN_A_INPUT)
    db.sync()
    assert db.list_metrics() == ["one", "two"]


def test_validation_errors(spark, tsdb_dir):
    db = ViewTSDB(spark, tsdb_dir)
    with pytest.raises(ValueError):
        db.get_metric("one", "sevensecond", "p90", (0, 100))
    with pytest.raises(ValueError):
        db.get_metric("one", "tensecond", "p95", (0, 100))


# Golden B — 10-tuple demo dataset (app/__init__.py:48-60), (path, ts, value).
GOLDEN_B_INPUT = [
    ("one", 5, 2),
    ("two", 6, 4),
    ("one", 8, 1),
    ("two", 12, 4),
    ("one", 16, 5),
    ("one", 22, 2),
    ("one", 31, 1),
    ("one", 33, 2),
    ("two", 40, 6),
    ("one", 48, 4),
]


def test_golden_b_bucket0_all_stats(spark, tsdb_dir):
    db = ViewTSDB(spark, tsdb_dir)
    db.insert(GOLDEN_B_INPUT)
    expected = {
        "n": 2.0,
        "min": 1.0,
        "max": 2.0,
        "avg": 1.5,
        "sum": 3.0,
        "p50": 1.5,
        "p90": 1.9,
        "p99": 1.99,
    }
    for stat, want in expected.items():
        got = db.get_metric("one", "tensecond", stat, (0, 0))
        assert got == [(0.0, pytest.approx(want))], stat


def test_golden_b_capability_flags(spark, tsdb_dir):
    writer = ViewTSDB(spark, tsdb_dir, with_aggregate=False)
    writer.insert(GOLDEN_B_INPUT)
    reader = ViewTSDB(spark, tsdb_dir, with_incoming=False)
    with pytest.raises(ValueError):
        reader.insert([("x", 1, 1)])
    assert reader.get_metric("two", "oneminute", "sum", (0, 60))[0][1] == pytest.approx(14.0)


def _same_double(a, b) -> bool:
    """Equal as doubles, NaN equal to NaN (and −0.0 to 0.0, as ``==``)."""
    import math

    return a == b or (math.isnan(a) and math.isnan(b))


def test_spark_percentile_is_the_driver_formula(spark):
    """Spark's exact ``percentile`` is the formula of
    ``operators.aggregate.spark_percentile``, double for double, on random
    groups with ties, NaN and ±inf: the driver sync pass computes its
    percentiles with it."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from smalltsdb_spark.config import QUANTILES
    from smalltsdb_spark.operators.aggregate import spark_percentile

    rng = random.Random(41)
    pool = [1.0, 2.0, 2.0, 2.5, -3.25, 0.0, float("nan"), float("inf"), -float("inf")]
    groups = {
        g: [
            rng.choice(pool) if rng.random() < 0.4 else rng.uniform(-1e3, 1e3)
            for _ in range(rng.randint(1, 12))
        ]
        for g in range(1_500)
    }
    df = spark.createDataFrame(
        [(g, v) for g, vs in groups.items() for v in vs], "g long, value double"
    )
    pcts = F.percentile("value", F.array(*[F.lit(q) for q in QUANTILES]))
    want = {r.g: r.p for r in df.groupBy("g").agg(pcts.alias("p")).collect()}
    for g, vs in groups.items():
        values = np.sort(np.array(vs))  # NaN last, as Spark orders doubles
        got = [
            spark_percentile(values, np.array([0]), np.array([len(vs)]), q)[0]
            for q in QUANTILES
        ]
        assert all(map(_same_double, got, want[g])), (vs, got, want[g])
