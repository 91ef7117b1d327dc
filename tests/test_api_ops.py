"""M5 API surface: pagination, sync self-metrics, CLI sync command."""

import fcntl

import pytest

from smalltsdb_spark import cli
from smalltsdb_spark.timer import Timer
from smalltsdb_spark.tsdb import TablesTSDB, ViewTSDB
from tests.test_golden import GOLDEN_B_INPUT


def test_get_metric_pagination(spark, tsdb_dir):
    db = ViewTSDB(spark, tsdb_dir)
    db.insert(GOLDEN_B_INPUT)
    full = db.get_metric("one", "tensecond", "n", (0, 100))
    assert len(full) == 5
    assert db.get_metric("one", "tensecond", "n", (0, 100), limit=2) == full[:2]
    assert db.get_metric("one", "tensecond", "n", (0, 100), limit=2, offset=2) == full[2:4]
    assert db.get_metric("one", "tensecond", "n", (0, 100), offset=4) == full[4:]


def test_list_metrics_pagination(spark, tsdb_dir):
    db = ViewTSDB(spark, tsdb_dir)
    db.insert(GOLDEN_B_INPUT)
    assert db.list_metrics(limit=1) == ["one"]
    assert db.list_metrics(limit=1, offset=1) == ["two"]


def _served_store(spark, tsdb_dir):
    """A synced TablesTSDB: paths "one"/"two", 10 s points over ten
    minutes, every bucket final (the dashboard's serving path)."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1e9)
    db.insert(
        [(p, float(t), float(t % 70)) for p in ("one", "two") for t in range(0, 600, 10)]
    )
    db.sync()
    return db


#: (offset, limit): no paging, limit=0, a page inside, a page running
#: past the end, an offset past the end
PAGES = [(0, None), (0, 0), (0, 3), (2, None), (2, 0), (2, 3), (2, 500), (500, None), (500, 3)]


def test_get_metric_submits_no_job(spark, tsdb_dir, count_jobs, monkeypatch):
    """A finalized read is served on the driver from the period table's
    files: no Spark job and no py4j round trip, for every limit/offset
    (list_metrics, off the path catalog, submits none either)."""
    db = _served_store(spark, tsdb_dir)
    pages = ({}, {"limit": 3}, {"offset": 2}, {"limit": 3, "offset": 2})
    for kw in pages:
        jobs = count_jobs(
            lambda: db.get_metric("one", "tensecond", "avg", (0, 600), **kw)
        )
        assert jobs == 0, kw
    assert count_jobs(db.list_metrics) == 0
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    real = client.send_command
    monkeypatch.setattr(
        client, "send_command", lambda *a, **k: calls.append(a) or real(*a, **k)
    )
    for kw in pages:
        assert db.get_metric("one", "tensecond", "avg", (0, 600), **kw), kw
    assert calls == []


def test_insert_of_rows_submits_no_job(spark, tsdb_dir, count_jobs, monkeypatch):
    """An insert of rows — every daemon flush — is written on the driver
    with pyarrow: no Spark job and no py4j round trip, counted as
    test_get_metric_submits_no_job counts them."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1e9)
    rows = [(p, float(t), float(t % 70)) for p in ("one", "two") for t in range(0, 600, 10)]
    assert count_jobs(lambda: db.insert(rows[:60])) == 0
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    real = client.send_command
    monkeypatch.setattr(
        client, "send_command", lambda *a, **k: calls.append(a) or real(*a, **k)
    )
    db.insert(rows[60:])
    assert calls == []
    monkeypatch.undo()
    assert sorted(map(tuple, db.incoming().collect())) == sorted(rows)


def test_list_metrics_submits_no_job(spark, tsdb_dir, count_jobs):
    """TablesTSDB.list_metrics is the union of the period tables' path
    catalogs: no Spark job, and the pages of the sorted list_metrics_df."""
    db = _served_store(spark, tsdb_dir)
    db.insert([("three", 5.0, 1.0)])
    db.sync()
    assert count_jobs(db.list_metrics) == 0
    want = sorted(r.path for r in db.list_metrics_df().collect())
    assert want == ["one", "three", "two"]
    for offset, limit in PAGES:
        assert db.list_metrics(offset=offset, limit=limit) == want[offset:][:limit]
    with pytest.raises(ValueError):
        db.list_metrics(offset=-1)


def test_get_metric_pages_match_the_ordered_dataframe(spark, tsdb_dir):
    """The driver sort returns exactly the rows of the DataFrame API,
    which sorts in Spark, over a grid of offset/limit values (limit=0
    and an offset past the end included)."""
    db = _served_store(spark, tsdb_dir)
    args = ("one", "oneminute", "p90", (0, 600))
    for offset, limit in PAGES:
        want = db.get_metric_df(*args, limit=limit, offset=offset).collect()
        got = db.get_metric(*args, limit=limit, offset=offset)
        assert got == [tuple(r) for r in want], (offset, limit)


def test_get_metric_partial_pages_match_the_ordered_dataframe(spark, tsdb_dir):
    """Same equality for include_partial=True: final buckets from the
    period table, open ones recomputed from incoming."""
    clock = {"now": 0.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert([("one", float(t), float(t % 7)) for t in range(0, 200, 3)])
    clock["now"] = 160.0  # buckets before 100 final, 100..190 open
    db.sync()
    args = ("one", "tensecond", "max", (0, 200))
    full = db.get_metric(*args, include_partial=True)
    assert [ts for ts, _ in full] == [float(t) for t in range(0, 200, 10)]
    for offset, limit in PAGES:
        want = db.get_metric_df(
            *args, limit=limit, offset=offset, include_partial=True
        ).collect()
        got = db.get_metric(*args, limit=limit, offset=offset, include_partial=True)
        assert got == [tuple(r) for r in want], (offset, limit)


def test_get_metric_bounds_sorts_on_the_driver(spark, tsdb_dir, count_jobs):
    """The bounds form pages the rows of get_metric_bounds_df, a clamp
    row (hi None) included, in fewer Spark jobs than that DataFrame's
    ordered collect."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1e9, histograms=True)
    db.insert(
        [("m", float(t), float(t % 130)) for t in range(0, 600, 5)]
        + [("m", 605.0, 2000.0)]
    )
    db.sync()
    args = ("m", "oneminute", "p99", (0, 660))
    want = [tuple(r) for r in db.get_metric_bounds_df(*args).collect()]
    assert len(want) == 11 and want[-1][2] is None
    assert db.get_metric_bounds(*args) == want
    for offset, limit in PAGES:
        got = db.get_metric(*args, limit=limit, offset=offset, bounds=True)
        assert got == want[offset:][:limit], (offset, limit)
    ordered = count_jobs(lambda: db.get_metric_bounds_df(*args).collect())
    assert count_jobs(lambda: db.get_metric(*args, bounds=True)) < ordered


def test_list_metrics_code_point_order(spark, tsdb_dir):
    """list_metrics sorts on the driver in Python's str order, which is
    Spark's default (UTF8_BINARY) order: case, accents, CJK and astral
    characters included."""
    paths = ["Z", "a", "é", "ß", "中", "😀", "cpu", "CPU", "Cpu", "e"]
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1e9)
    db.insert([(p, 1.0, 1.0) for p in paths])
    db.sync()
    want = [r.path for r in db.list_metrics_df().orderBy("path").collect()]
    assert want == sorted(paths)
    assert db.list_metrics() == want
    for offset, limit in PAGES:
        assert db.list_metrics(limit=limit, offset=offset) == want[offset:][:limit]


def test_negative_page_arguments_refuse(spark, tsdb_dir):
    db = ViewTSDB(spark, tsdb_dir)
    with pytest.raises(ValueError, match=">= 0"):
        db.list_metrics(offset=-1)
    with pytest.raises(ValueError, match=">= 0"):
        db.get_metric("one", "tensecond", "n", (0, 100), limit=-1)


def test_sync_emit_metrics(spark, tsdb_dir):
    """T6: sync timings re-ingested as datapoints with the reference's
    dotted naming (tsdb.py:310-337, cli.py:59-60)."""
    db = TablesTSDB(
        spark,
        tsdb_dir,
        now=lambda: 100.0,
        emit_metrics=True,
        timer=Timer(prefix="smalltsdb"),
    )
    db.insert([("one", 1.0, 1.0)])
    db.sync()
    incoming = {r.path for r in db.incoming().collect()}
    assert "smalltsdb.sync.all.time" in incoming
    assert "smalltsdb.sync.tensecond.all.time" in incoming
    assert "smalltsdb.sync.tensecond.upsert_query.time" in incoming
    assert "smalltsdb.sync.delete_incoming_query.time" in incoming
    # 6 periods × 2 + sync.all + delete = 14 timing datapoints + 1 data row
    assert len(incoming) == 15


def test_cli_sync_and_lock(spark, tsdb_dir, tmp_path):
    db = TablesTSDB(spark, tsdb_dir)
    db.insert([("cli.metric", 1.0, 5.0)])  # ts=1 → final long ago

    cli.main(["sync", "--db", tsdb_dir])
    assert db.get_metric("cli.metric", "tensecond", "sum", (0, 10)) == [(0.0, 5.0)]

    lock_file = str(tmp_path / "sync.lock")
    holder = open(lock_file, "a")
    fcntl.flock(holder, fcntl.LOCK_EX)
    with pytest.raises(SystemExit):
        cli.main(["sync", "--db", tsdb_dir, "--lock-file", lock_file])
    fcntl.flock(holder, fcntl.LOCK_UN)
    holder.close()
    cli.main(["sync", "--db", tsdb_dir, "--lock-file", lock_file])


def test_cli_rundev(spark, tsdb_dir):
    """rundev parity (reference rundev.py:29-55): synthetic diceroll
    datapoints over a real TCP socket into the daemon, then a sync —
    finalized buckets must show up under the reference's metric name."""
    cli.main(
        [
            "rundev",
            "--db",
            tsdb_dir,
            "--address",
            "localhost:0",
            "--points",
            "24",
            "--seed",
            "7",
            "--interval",
            "0.3",
            "--iterations",
            "1",
            "--no-app",
        ]
    )
    db = TablesTSDB(spark, tsdb_dir)
    assert "local.random.diceroll" in db.list_metrics()
    rows = db.period_table("tensecond").collect()
    assert rows and all(r.path == "local.random.diceroll" for r in rows)
    assert all(1.0 <= r.min <= r.max <= 6.0 for r in rows)


def test_cli_stream_failure_raises_and_stops_every_query(
    spark, tmp_path, monkeypatch
):
    """``stream`` waits on the queries it started, not on the caller's
    ``spark.streams`` (the rollups run on child sessions): when one of
    them fails, the command raises that failure and stops all 7."""
    import argparse

    from pyspark.sql import functions as F

    from smalltsdb_spark import session, streaming
    from smalltsdb_spark.sources.daemon import SpoolSink

    spool = str(tmp_path / "spool")
    SpoolSink(spool)([("web.latency", 100.0, 1.0)])
    started = []

    def recording(start):
        def wrapper(stream, *args, **kwargs):
            if args[2:3] == (60,):  # the oneminute rollup fails on its first row
                stream = stream.withColumn(
                    "value", F.raise_error(F.lit("injected stream failure"))
                )
            started.append(start(stream, *args, **kwargs))
            return started[-1]

        return wrapper

    monkeypatch.setattr(session, "get_spark", lambda: spark)
    monkeypatch.setattr(streaming, "start_ingest", recording(streaming.start_ingest))
    monkeypatch.setattr(streaming, "start_rollup", recording(streaming.start_rollup))
    args = argparse.Namespace(
        db=str(tmp_path / "db"), spool=spool, interval=1.0, tail=60.0,
        checkpoints=None, max_files_per_trigger=None,
    )
    try:
        with pytest.raises(Exception, match="injected stream failure"):
            cli.cmd_stream(args)
        assert len(started) == 7
        assert not [q for q in started if q.isActive]
    finally:
        for q in started:
            q.stop()


def test_approx_percentile_error_bounds_sf01(spark):
    """Quantitative |approx - exact| pin for the 100 TB percentile mode at
    sf0.1: every day-bucket's approx p50/p90/p99 must land inside the
    exact interpolated [q-0.02, q+0.02] quantile bracket — 5x tighter
    than the driver row's provable 0.1 bracket, and checked where buckets
    are big enough (n >= 500) that the sketch's rank-error guarantee
    (1 + n/accuracy ranks) makes the bound provable, not empirical."""
    from pyspark.sql import functions as F

    from smalltsdb_spark.config import QUANTILES
    from smalltsdb_spark.operators.aggregate import aggregate, bucket
    from smalltsdb_spark.queries import events_as_incoming

    inc = events_as_incoming(spark, "/root/testdata/sf0.1")
    ap = aggregate(inc, 86400, exact=False)
    brackets = []
    for q in QUANTILES:
        brackets += [max(0.0, q - 0.02), min(1.0, q + 0.02)]
    ex = inc.groupBy("path", bucket("timestamp", 86400).alias("timestamp")).agg(
        F.count("value").alias("_n"),
        F.percentile("value", F.array(*[F.lit(b) for b in brackets])).alias("_b"),
    )
    j = ap.join(ex, ["path", "timestamp"]).filter(F.col("_n") >= 500)
    bad = F.lit(False)
    for i, q in enumerate(QUANTILES):
        p = F.col(f"p{int(q * 100)}")
        lo, hi = F.col("_b")[2 * i], F.col("_b")[2 * i + 1]
        bad = bad | (p < lo - F.lit(1e-9)) | (p > hi + F.lit(1e-9))
    checked, violations = j.agg(
        F.count("*"), F.sum(bad.cast("long"))
    ).first()
    assert checked > 0  # the bound must actually bite
    assert violations == 0


def test_query_timeout_cancels_slow_query(spark, tsdb_dir):
    """A deliberately slow read must abort with TimeoutError in ~timeout
    seconds (not run to completion), and the session must stay usable —
    cancellation is job-group-scoped, not session-wide."""
    import time as _time

    from pyspark.sql import functions as F

    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    db.insert(GOLDEN_B_INPUT)
    db.sync()

    @F.udf("double")
    def crawl(v):
        _time.sleep(120)
        return v

    real_df = db.get_metric_df("two", "tensecond", "avg", (0, 100))
    slowed = real_df.withColumn("avg", crawl("avg"))
    # the relation a read with partial buckets collects (a finalized
    # read runs no Spark job, so there is nothing of it to cancel)
    db._metric_rows = lambda *a, **k: slowed

    t0 = _time.perf_counter()
    with pytest.raises(TimeoutError):
        db.get_metric(
            "two", "tensecond", "avg", (0, 100), timeout=2.0, include_partial=True
        )
    assert _time.perf_counter() - t0 < 60  # cancelled, not slept out

    # the session survives: an untimed query on the same handle works
    del db._metric_rows  # restore the class method
    assert db.get_metric("two", "tensecond", "n", (0, 100))


def test_query_timeout_restores_the_callers_job_group(spark, tsdb_dir):
    """A timed read runs under its own job group and then gives the
    thread back the caller's group: id, description and interrupt flag."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    db.insert(GOLDEN_B_INPUT)
    db.sync()
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    sc.setJobGroup("caller-group", "the caller's own jobs", False)
    try:
        outer = {k: sc.getLocalProperty(k) for k in keys}
        # include_partial runs the read on Spark, under the timeout group
        assert db.get_metric(
            "two", "tensecond", "n", (0, 100), include_partial=True, timeout=30
        )
        assert {k: sc.getLocalProperty(k) for k in keys} == outer
    finally:
        for k in keys:
            sc.setLocalProperty(k, None)


def test_sync_accepts_timeout(spark, tsdb_dir):
    """sync(timeout=...) with headroom completes normally (the watchdog
    disarms) — and the timeout knob exists on the API (reference TODO
    tsdb.py:349)."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    db.insert(GOLDEN_B_INPUT)
    db.sync(timeout=300.0)
    assert db.get_metric("two", "tensecond", "n", (0, 100))


def test_get_metric_bounds_golden(spark, tsdb_dir):
    """Cascade quantile bounds through the API (VERDICT r10 item 5):
    hand-computed bin arithmetic.  Values [10, 60, 110, 260, 510] in one
    hour bucket, bin_width 50 → bins [0,1,2,5,10], n=5.  p90's
    interpolation ranks are floor(.9·4)+1=4 and ceil(.9·4)+1=5 → bins 5
    and 10 → [250, 550); the exact p90 (410) lies inside.  p50's ranks
    are both 3 → bin 2 → [100, 150) containing the exact 110.  A second
    path must not leak in; non-percentile stats refuse."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1e9)
    db.insert(
        [("m", float(10 * i), v) for i, v in enumerate([10.0, 60.0, 110.0, 260.0, 510.0])]
        + [("other", 0.0, 99999.0)]
    )
    assert db.get_metric_bounds("m", "onehour", "p90", (0, 7200)) == [
        (0.0, 250.0, 550.0)
    ]
    assert db.get_metric_bounds("m", "onehour", "p50", (0, 7200)) == [
        (0.0, 100.0, 150.0)
    ]
    # the flagged form returns the same rows
    assert db.get_metric("m", "onehour", "p90", (0, 7200), bounds=True) == [
        (0.0, 250.0, 550.0)
    ]
    # clamp-bin tail: a huge value drives p99's hi rank into the clamp
    # bin → hi is None (honest unbounded tail)
    db2 = TablesTSDB(spark, tsdb_dir + "_clamp", now=lambda: 1e9)
    db2.insert([("m", float(10 * i), 2000.0) for i in range(5)])
    [(ts, lo, hi)] = db2.get_metric_bounds("m", "onehour", "p99", (0, 7200))
    assert ts == 0.0 and lo == 950.0 and hi is None
    with pytest.raises(ValueError, match="interpolated percentiles"):
        db.get_metric_bounds("m", "onehour", "avg", (0, 7200))
    with pytest.raises(ValueError, match="unknown stat"):
        db.get_metric_bounds("m", "onehour", "p999", (0, 7200))


def test_cli_decommission(tsdb_dir, tmp_path, capsys):
    """`smalltsdb_spark decommission` — the operational face of the
    stream→batch handover (storage.decommission_streaming_sink):
    targeted tables convert, autodetect finds every stream-owned table
    and nothing else, re-running is a clean no-op, and the handover
    honors the sync lock (it flips the writer protocol)."""
    import os

    hist_md = os.path.join(tsdb_dir, "histogram", "_spark_metadata")
    inc_md = os.path.join(tsdb_dir, "incoming", "_spark_metadata")
    os.makedirs(hist_md)
    os.makedirs(inc_md)
    os.makedirs(os.path.join(tsdb_dir, "tensecond"))  # batch-owned

    # targeted: only the named table converts
    cli.main(["decommission", "--db", tsdb_dir, "histogram"])
    assert not os.path.isdir(hist_md)
    assert os.path.isdir(inc_md)
    assert "histogram: decommissioned" in capsys.readouterr().out

    # autodetect: converts the remaining stream-owned table only
    cli.main(["decommission", "--db", tsdb_dir])
    out = capsys.readouterr().out
    assert not os.path.isdir(inc_md)
    assert "incoming: decommissioned" in out
    assert "tensecond" not in out

    # nothing stream-owned left: clean no-op
    cli.main(["decommission", "--db", tsdb_dir])
    assert "no stream-owned tables found" in capsys.readouterr().out

    # the handover is a writer and respects the sync lock
    os.makedirs(hist_md)
    lock_file = str(tmp_path / "sync.lock")
    holder = open(lock_file, "a")
    fcntl.flock(holder, fcntl.LOCK_EX)
    with pytest.raises(SystemExit):
        cli.main(
            ["decommission", "--db", tsdb_dir, "--lock-file", lock_file]
        )
    assert os.path.isdir(hist_md), "handover ran despite a held lock"
    fcntl.flock(holder, fcntl.LOCK_UN)
    holder.close()
    cli.main(["decommission", "--db", tsdb_dir, "--lock-file", lock_file])
    assert not os.path.isdir(hist_md)


def test_cli_decommission_orphan_modes(tsdb_dir, capsys):
    """--on-orphans: a staged-but-uncommitted part file (present on
    disk, absent from the sink log — a crashed trigger's leftovers)
    refuses the handover in strict mode and is quarantined by default,
    with the disposal reported (VERDICT r13 item 1, CLI face)."""
    import json
    import os

    from smalltsdb_spark.storage import SINK_QUARANTINE_DIR

    table = os.path.join(tsdb_dir, "histogram")
    md = os.path.join(table, "_spark_metadata")
    pdir = os.path.join(table, "pday=0")
    os.makedirs(md)
    os.makedirs(pdir)
    committed = os.path.join(pdir, "part-00000-aaaa.c000.snappy.parquet")
    orphan = os.path.join(pdir, "part-00001-bbbb.c000.snappy.parquet")
    for f in (committed, orphan):
        with open(f, "wb") as fh:
            fh.write(b"PAR1")
    with open(os.path.join(md, "0"), "w") as fh:
        fh.write("v1\n" + json.dumps({
            "path": "file://" + committed, "size": 4, "isDir": False,
            "modificationTime": 0, "blockReplication": 1, "action": "add",
        }))

    # strict mode: the whole handover is refused, nothing is touched
    with pytest.raises(ValueError, match="never committed"):
        cli.main(
            ["decommission", "--db", tsdb_dir, "--on-orphans", "refuse",
             "histogram"]
        )
    assert os.path.isdir(md) and os.path.isfile(orphan)

    # default quarantine: orphan moved aside, disposal reported, log gone
    cli.main(["decommission", "--db", tsdb_dir, "histogram"])
    out = capsys.readouterr().out
    assert "histogram: quarantined 1 uncommitted file(s)" in out
    assert "histogram: decommissioned" in out
    assert not os.path.isdir(md)
    assert os.path.isfile(committed)
    assert not os.path.exists(orphan)
    assert os.path.isfile(os.path.join(
        table, SINK_QUARANTINE_DIR, "pday=0",
        "part-00001-bbbb.c000.snappy.parquet",
    ))


def test_cli_decommission_index(tmp_path, capsys):
    """`smalltsdb_spark decommission-index` — the manifest-protocol
    symmetry of `decommission`: targeted and autodetected indexes
    flatten to plain partitioned dirs, non-indexes are untouched, and
    re-running is a clean no-op."""
    import json
    import os

    from smalltsdb_spark import manifests

    base = str(tmp_path / "indexes")

    def build(name):
        idx = os.path.join(base, name)
        for b in range(2):
            rel = os.path.join(f"data_b{b}", "pfx=0", "part-0.parquet")
            full = os.path.join(idx, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "w") as f:
                json.dump([f"{name}b{b}"], f)
            prev = manifests.resolve_version(idx, before=b)[1]
            merged = {0: prev.get(0, []) + [rel]}
            manifests.write_version(idx, b, merged)
        return idx

    spans, sems = build("spans"), build("sems")
    os.makedirs(os.path.join(base, "plain_table"))  # no manifest

    # targeted: only the named index flattens
    cli.main(["decommission-index", "--db", base, "spans"])
    out = capsys.readouterr().out
    assert "spans: decommissioned (1 partition(s), 2 file(s))" in out
    assert manifests.latest_version(spans) is None
    assert os.path.isfile(os.path.join(spans, "pfx=0", "part-0.parquet"))
    assert manifests.latest_version(sems) is not None  # untouched

    # autodetect: finds the remaining index, skips the plain dir
    cli.main(["decommission-index", "--db", base])
    out = capsys.readouterr().out
    assert "sems: decommissioned" in out and "plain_table" not in out
    # nothing manifest-managed left: clean no-op
    cli.main(["decommission-index", "--db", base])
    assert "no manifest-managed indexes found" in capsys.readouterr().out


def test_cli_decommission_refuse_is_atomic_across_tables(tsdb_dir):
    """--on-orphans refuse must leave EVERY table untouched when ANY
    table would refuse — the pre-flight pass: table A (clean) must not
    be handed over before table B's orphan raises."""
    import json
    import os

    def sink(table, with_orphan):
        t = os.path.join(tsdb_dir, table)
        md = os.path.join(t, "_spark_metadata")
        pdir = os.path.join(t, "pday=0")
        os.makedirs(md)
        os.makedirs(pdir)
        committed = os.path.join(pdir, "part-00000-aa.c000.snappy.parquet")
        with open(committed, "wb") as fh:
            fh.write(b"PAR1")
        if with_orphan:
            with open(
                os.path.join(pdir, "part-00001-bb.c000.snappy.parquet"), "wb"
            ) as fh:
                fh.write(b"PAR1")
        with open(os.path.join(md, "0"), "w") as fh:
            fh.write("v1\n" + json.dumps({
                "path": "file://" + committed, "size": 4, "isDir": False,
                "modificationTime": 0, "blockReplication": 1,
                "action": "add",
            }))
        return md

    md_a = sink("aaa_clean", with_orphan=False)
    md_b = sink("bbb_orphaned", with_orphan=True)
    with pytest.raises(ValueError, match="never committed"):
        cli.main(
            ["decommission", "--db", tsdb_dir, "--on-orphans", "refuse",
             "aaa_clean", "bbb_orphaned"]
        )
    # BOTH logs intact — the clean table was not converted first
    assert os.path.isdir(md_a) and os.path.isdir(md_b)


def test_cli_decommission_allow_damaged_log(tsdb_dir, capsys):
    """--allow-damaged-log: a torn log line refuses by default and
    proceeds recoverably (quarantine) with the flag."""
    import json
    import os

    from smalltsdb_spark.storage import SINK_QUARANTINE_DIR

    t = os.path.join(tsdb_dir, "histogram")
    md = os.path.join(t, "_spark_metadata")
    pdir = os.path.join(t, "pday=0")
    os.makedirs(md)
    os.makedirs(pdir)
    committed = os.path.join(pdir, "part-00000-aa.c000.snappy.parquet")
    lost = os.path.join(pdir, "part-00001-bb.c000.snappy.parquet")
    for f in (committed, lost):
        with open(f, "wb") as fh:
            fh.write(b"PAR1")
    entry = json.dumps({
        "path": "file://" + committed, "size": 4, "isDir": False,
        "modificationTime": 0, "blockReplication": 1, "action": "add",
    })
    with open(os.path.join(md, "0"), "w") as fh:
        fh.write("v1\n" + entry + "\n" + entry[:25])  # torn tail

    with pytest.raises(ValueError, match="unparseable"):
        cli.main(["decommission", "--db", tsdb_dir, "histogram"])
    assert os.path.isdir(md)

    cli.main(
        ["decommission", "--db", tsdb_dir, "--allow-damaged-log", "histogram"]
    )
    out = capsys.readouterr().out
    assert "histogram: decommissioned" in out
    assert not os.path.isdir(md)
    assert os.path.isfile(committed)
    # the torn entry's file went to quarantine (recoverable), not deleted
    assert not os.path.exists(lost)
    assert os.path.isfile(os.path.join(
        t, SINK_QUARANTINE_DIR, "pday=0",
        "part-00001-bb.c000.snappy.parquet",
    ))


def test_lifecycle_queries_release_their_caches(spark):
    """r15 (VERDICT r14 item 4): the lifecycle rows' in-function caches
    are released in a finally before the query returns — a caller
    running many queries in one session must not accumulate cached
    relations (the bench's isolate() no longer papers over it).  The
    classifier/curation rows intentionally KEEP their featurize cache
    (the returned plan reads it); everything else must leave the block
    manager as it found it."""
    from smalltsdb_spark.queries import QUERIES

    sc = spark.sparkContext
    for name in ("tsdb_get_metric_partial", "tsdb_two_databases",
                 "tsdb_compact_roundtrip"):
        before = {e.getKey() for e in sc._jsc.getPersistentRDDs().entrySet().toArray()}
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        df.count()  # evaluate the returned plan too
        after = {e.getKey() for e in sc._jsc.getPersistentRDDs().entrySet().toArray()}
        assert after <= before, (name, after - before)
