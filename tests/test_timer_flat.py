"""Timer (reference timer.py doctest semantics) and the flat codec
(reference tests/test_app_flat.py, all cases carried over)."""

import sys
import threading
import time

import pytest

from smalltsdb_spark.flat import flatten, unflatten
from smalltsdb_spark.timer import Timer


# -- timer -------------------------------------------------------------------


def fake_clock_factory():
    reading = {"t": 0.0}

    def clock():
        reading["t"] += 1.0
        return [("time", reading["t"])]

    return clock


def test_timer_nested_blocks():
    timer = Timer([fake_clock_factory()])
    with timer("outer") as timings:
        with timer("inner"):
            pass
    # inner finishes first; names are dotted with the clock name
    names = [name for name, _, _ in timings]
    assert names == ["inner.time", "outer.time"]
    # fake clock ticks once per reading: outer spans inner's two readings
    durations = {name: d for name, _, d in timings}
    assert durations["inner.time"] == pytest.approx(1.0)
    assert durations["outer.time"] == pytest.approx(3.0)


def test_timer_prefix_group():
    timer = Timer([fake_clock_factory()])
    with timer("prefix", "all") as timings:
        with timer("one"):
            pass
        with timer("two"):
            pass
    assert [name for name, _, _ in timings] == [
        "prefix.one.time",
        "prefix.two.time",
        "prefix.all.time",
    ]


def test_timer_constructor_prefix_and_wall_clock():
    timer = Timer(prefix="smalltsdb")
    with timer("sync", "all") as timings:
        with timer("tensecond", "all"):
            with timer("upsert_query"):
                time.sleep(0.01)
    names = [name for name, _, _ in timings]
    assert names == [
        "smalltsdb.sync.tensecond.upsert_query.time",
        "smalltsdb.sync.tensecond.all.time",
        "smalltsdb.sync.all.time",
    ]
    for _, start, duration in timings:
        assert start > 1e9  # epoch seconds
        assert duration >= 0.0


@pytest.mark.parametrize("read_first", [True, False])
def test_timer_blocks_overlapping_across_threads(read_first):
    """A dashboard read and ``sync()`` share the handle's timer, and
    their blocks overlap: read opens, sync opens, read closes, sync
    closes (``read_first``), or sync opens, read opens, read closes,
    sync closes.  Neither block fails on exit, and each thread's timings
    carry exactly its own labels."""
    timer = Timer([fake_clock_factory()])
    read_open, sync_open, read_closed = (threading.Event() for _ in range(3))
    got, errors = {}, []

    def read():
        if not read_first:
            sync_open.wait(5)
        with timer("get_metric") as timings:
            read_open.set()
            if read_first:
                sync_open.wait(5)
        got["read"] = [name for name, _, _ in timings]
        read_closed.set()

    def sync():
        if read_first:
            read_open.wait(5)
        with timer("sync", "all") as timings:
            with timer("upsert_query"):
                sync_open.set()
                read_closed.wait(5)
        got["sync"] = [name for name, _, _ in timings]

    def run(fn):
        try:
            fn()
        except BaseException as e:  # noqa: BLE001
            errors.append(e)
            read_closed.set()

    threads = [threading.Thread(target=run, args=(fn,)) for fn in (read, sync)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(10)
    assert errors == []
    assert got["sync"] == ["sync.upsert_query.time", "sync.all.time"]
    assert got["read"] == ["get_metric.time"]


def test_timer_shared_by_many_threads_keeps_each_threads_blocks():
    """Stress: more threads than cores, a short switch interval, every
    thread nesting blocks under its own prefix on one shared Timer; each
    outermost block yields exactly its own thread's labels."""
    timer = Timer([fake_clock_factory()], prefix="db")
    bad, errors = [], []

    def work(i):
        try:
            for _ in range(200):
                with timer(f"t{i}", "all") as timings:
                    with timer("inner"):
                        pass
                names = [name for name, _, _ in timings]
                if names != [f"db.t{i}.inner.time", f"db.t{i}.all.time"]:
                    bad.append(names)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and bad == []
    assert timer.prefix == "db"


# -- flat codec (reference tests/test_app_flat.py:66-79 + dict/int cases) ----


def test_flatten_unflatten_reference_golden():
    ud = {"a": [{"x": 1}, {"x": 2, "y": 3}], "b": {"c": ["foo", "bar"], "d": 4}, "e": 5}
    fd = {
        "a.0.x": 1,
        "a.1.x": 2,
        "a.1.y": 3,
        "b.c.0": "foo",
        "b.c.1": "bar",
        "b.d": 4,
        "e": 5,
    }
    assert flatten(ud) == flatten(fd) == fd
    assert unflatten(fd) == unflatten(ud) == ud


def test_flatten_unflatten_plain_dicts():
    ud = {"a": {"b": 1, "c": {"d": 2}}, "e": {"f": 3}, "g": 4}
    fd = {"a.b": 1, "a.c.d": 2, "e.f": 3, "g": 4}
    assert flatten(ud) == fd
    assert unflatten(fd) == ud


def test_mixed_keys_stay_dict():
    # '1' next to 'b': not all-decimal → remains a dict (reference
    # test_app_flat.py:43-47)
    d = {"0": "a", "1": {"b": {"0": "c", "1": "d"}, "1": "e"}}
    assert unflatten(dict(flatten(d))) == ["a", {"b": ["c", "d"], "1": "e"}]


def test_int_key_validation():
    with pytest.raises(ValueError):
        unflatten({"x.1": "a"})  # must start from 0
    with pytest.raises(ValueError):
        unflatten({"x.0": "a", "x.2": "b"})  # no gaps


def test_max_depth():
    ud = {"a": {"b": 1, "c": {"d": 2}}, "e": {"f": 3}, "g": 4}
    fd = {"a.b": 1, "a.c.d": 2, "e.f": 3, "g": 4}
    assert flatten(ud, max_depth=3) == fd
    assert unflatten(fd, max_depth=3) == ud
    with pytest.raises(ValueError):
        flatten(ud, max_depth=2)
    with pytest.raises(ValueError):
        unflatten(fd, max_depth=2)


def test_query_string_round_trip():
    """The web layer's actual use: nested metric specs ↔ query params
    (reference app/__init__.py:173-175)."""
    spec = {
        "metrics": [
            {"name": "one", "period": "tensecond", "stat": "p90"},
            {"name": "two", "period": "oneminute", "stat": "avg"},
        ],
        "start": "2024-01-01",
        "end": "2024-01-02",
    }
    assert unflatten(flatten(spec)) == spec
