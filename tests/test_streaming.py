"""Streaming flavor: spool → ingest → rollup, tested against the same
goldens as the batch path (FIXTURES.md §2).

Watermark mechanics under test (reference finality semantics, T2/T4):
- append mode emits a bucket exactly once, when watermark passes its end;
- rows later than the tail are silently dropped (reference
  tsdb.py:263-268 — the bucket's high-water mark has moved past).
"""

import os

import pytest
from pyspark.sql import functions as F

from smalltsdb_spark import manifests
from smalltsdb_spark.sources.daemon import SpoolSink
from smalltsdb_spark.streaming import (
    read_spool_stream,
    start_ingest,
    start_rollup,
    streaming_aggregate,
)
from smalltsdb_spark.tsdb import TablesTSDB
from tests.test_golden import GOLDEN_A_INPUT, GOLDEN_A_TENSECOND


@pytest.fixture()
def spool(tmp_path):
    sink = SpoolSink(str(tmp_path / "spool"))
    return sink


def _run_rollup(spark, spool, tmp_path, **kwargs):
    q = start_rollup(
        read_spool_stream(spark, spool.spool_dir),
        str(tmp_path / "tensecond"),
        str(tmp_path / "ckpt_rollup"),
        10,
        available_now=True,
        **kwargs,
    )
    q.awaitTermination(120)


#: what each starter hands Spark, pinned from before the starters shared
#: one helper: sink, trigger, output mode, and the parsed plan's sink
#: node and top projection (paths, query id and expression ids
#: normalized) plus a digest of the whole normalized parsed plan
STARTER_PLANS = {
    "start_ingest": (
        "FileSink[file:<base>/q0/out]",
        "AvailableNowTrigger",
        "Append",
        [
            "~WriteToMicroBatchDataSourceV1 FileSink[file:<base>/q0/out], <id>, [checkpointLocation=<base>/q0/ck, path=<base>/q0/out], Append",
            "+- ~Project [path#, timestamp#, value#, cast(FLOOR((timestamp# / cast(86400 as double))) as bigint) AS pday#]",
        ],
        "255414c336f9a71a",
    ),
    "start_rollup": (
        "FileSink[file:<base>/q1/out]",
        "AvailableNowTrigger",
        "Append",
        [
            "~WriteToMicroBatchDataSourceV1 FileSink[file:<base>/q1/out], <id>, [checkpointLocation=<base>/q1/ck, path=<base>/q1/out], Append",
            "+- ~Project [path#, timestamp#, n#, min#, max#, avg#, sum#, p50#, p90#, p99#, cast(FLOOR((timestamp# / cast(86400 as double))) as bigint) AS pday#]",
        ],
        "c95383e06692f4ad",
    ),
    "start_histogram_rollup": (
        "FileSink[file:<base>/q2/out]",
        "AvailableNowTrigger",
        "Append",
        [
            "~WriteToMicroBatchDataSourceV1 FileSink[file:<base>/q2/out], <id>, [checkpointLocation=<base>/q2/ck, path=<base>/q2/out], Append",
            "+- ~Project [path#, timestamp#, bin#, n#, cast(FLOOR((timestamp# / cast(86400 as double))) as bigint) AS pday#]",
        ],
        "0f5e8c45847f0ea9",
    ),
    "start_rollup_partials": (
        "ForeachBatchSink",
        "AvailableNowTrigger",
        "Update",
        [
            "~WriteToMicroBatchDataSourceV1 ForeachBatchSink, <id>, [checkpointLocation=<base>/q3/ck], Update",
            "+- ~Project [path#, cast(unix_timestamp(_w#-T60000ms.start, yyyy-MM-dd HH:mm:ss, Some(UTC), true) as double) AS timestamp#, n#, min#, max#, avg#, sum#, cast(_pcts#[0] as double) AS p50#, cast(_pcts#[1] as double) AS p90#, cast(_pcts#[2] as double) AS p99#]",
        ],
        "af32b775801cd6fb",
    ),
    "start_rollup interval": (
        "FileSink[file:<base>/q4/out]",
        "ProcessingTimeTrigger(10000)",
        "Append",
        [
            "~WriteToMicroBatchDataSourceV1 FileSink[file:<base>/q4/out], <id>, [checkpointLocation=<base>/q4/ck, path=<base>/q4/out], Append",
            "+- ~Project [path#, timestamp#, n#, min#, max#, avg#, sum#, p50#, p90#, p99#, cast(FLOOR((timestamp# / cast(86400 as double))) as bigint) AS pday#]",
        ],
        "3a46106b2c1bca47",
    ),
}


def _starter_plan(q, base):
    """(sink, trigger, output mode, parsed-plan head, digest) of ``q``."""
    import hashlib
    import re

    q.processAllAvailable()
    se = q._jsq.streamingQuery()
    parsed = q._jsq.explainInternal(True).split("== Analyzed Logical Plan ==")[0]
    parsed = re.sub(r"#\d+L?", "#", parsed.replace(base, "<base>"))
    parsed = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<id>", parsed)
    # the sink node ends in the batch id the plan was last run for
    parsed = re.sub(r"(Append|Update), \d+$", r"\1", parsed, flags=re.M)
    lines = parsed.splitlines()[1:]
    return (
        q.lastProgress["sink"]["description"].replace(base, "<base>"),
        se.trigger().toString(),
        se.outputMode().toString(),
        lines[:2],
        hashlib.sha256(parsed.encode()).hexdigest()[:16],
    )


def starter_plans(spark, base):
    """Start each streaming starter over a two-row parquet source under
    ``base`` and return its :func:`_starter_plan`."""
    from smalltsdb_spark.schemas import INCOMING_SCHEMA
    from smalltsdb_spark.streaming import (
        start_histogram_rollup,
        start_rollup_partials,
    )

    spark.createDataFrame(
        [("a", 100.0, 1.0), ("b", 7300.0, 2.0)], INCOMING_SCHEMA
    ).write.parquet(f"{base}/src")
    starters = {
        "start_ingest": lambda src, d: start_ingest(
            src, f"{d}/out", f"{d}/ck", available_now=True),
        "start_rollup": lambda src, d: start_rollup(
            src, f"{d}/out", f"{d}/ck", 60, available_now=True),
        "start_histogram_rollup": lambda src, d: start_histogram_rollup(
            src, f"{d}/out", f"{d}/ck", 60, available_now=True),
        "start_rollup_partials": lambda src, d: start_rollup_partials(
            src, f"{d}/out", f"{d}/ck", 60, available_now=True),
        "start_rollup interval": lambda src, d: start_rollup(
            src, f"{d}/out", f"{d}/ck", 60),
    }
    plans = {}
    for i, (name, start) in enumerate(starters.items()):
        src = spark.readStream.schema(INCOMING_SCHEMA).parquet(f"{base}/src")
        q = start(src, f"{base}/q{i}")
        try:
            plans[name] = _starter_plan(q, base)
        finally:
            q.stop()
    return plans


def test_starter_plans_unchanged(spark, tmp_path):
    """The four starters share one private helper for the trigger choice
    and the file sink chain; what each one starts is unchanged."""
    plans = starter_plans(spark, str(tmp_path))
    assert {k: list(v) for k, v in plans.items()} == {
        k: list(v) for k, v in STARTER_PLANS.items()
    }


def _state_partitions(checkpoint):
    """Partition directories of the checkpoint's one stateful operator."""
    return sorted(n for n in os.listdir(f"{checkpoint}/state/0") if n.isdigit())


def _offset_log_width(checkpoint, batch=0):
    """The shuffle width the checkpoint's offset log froze at ``batch``."""
    import json

    with open(f"{checkpoint}/offsets/{batch}") as f:
        meta = json.loads(f.read().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


def _files_per_batch_and_pday(table):
    """{(micro-batch, pday): files} from the table's file-sink log."""
    import collections
    import json

    log = f"{table}/_spark_metadata"
    out = collections.Counter()
    for name in os.listdir(log):
        if name.isdigit():
            with open(f"{log}/{name}") as f:
                for line in f.read().splitlines()[1:]:
                    path = json.loads(line)["path"]
                    out[int(name), path.rsplit("/pday=", 1)[1].split("/")[0]] += 1
    return out


def _write_sources(spark, src, first_batch):
    """Three one-file source batches of 24 paths: the first (or, with
    ``first_batch=False``, the other two) just before a day boundary,
    just after it, and a clock point a day on that closes every window."""
    from smalltsdb_spark.schemas import INCOMING_SCHEMA

    day = 86400.0
    batches = [
        [(f"p{i}", day - 290 + 7 * i, float(i)) for i in range(24)],
        [(f"p{i}", day + 10 + 7 * i, float(i) / 2) for i in range(24)],
        [("clock", 2 * day + 500, 0.0)],
    ]
    for k, rows in enumerate(batches[:1] if first_batch else batches[1:]):
        spark.createDataFrame(rows, INCOMING_SCHEMA).coalesce(1).write.parquet(
            f"{src}/b{k + (0 if first_batch else 1)}"
        )


@pytest.mark.parametrize(
    "starter", ["start_rollup", "start_histogram_rollup", "start_rollup_partials"]
)
def test_stateful_starters_run_at_the_state_width(spark, tmp_path, starter):
    """Each stateful starter runs its stream at ``STATE_PARTITIONS``
    whatever the caller's width (4 here): the offset log freezes that
    width, the state has that many partitions, a file sink writes at
    most one file per ``pday`` per micro-batch, and the caller's conf is
    not written."""
    from smalltsdb_spark import streaming
    from smalltsdb_spark.schemas import INCOMING_SCHEMA
    from smalltsdb_spark.session import STATE_PARTITIONS

    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _write_sources(spark, src, first_batch=True)
    _write_sources(spark, src, first_batch=False)
    before = dict(spark.conf.getAll)
    q = getattr(streaming, starter)(
        spark.readStream.schema(INCOMING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*"),
        out,
        ck,
        60,
        available_now=True,
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    assert dict(spark.conf.getAll) == before
    assert _offset_log_width(ck) == STATE_PARTITIONS
    assert len(_state_partitions(ck)) == STATE_PARTITIONS
    if starter != "start_rollup_partials":
        files = _files_per_batch_and_pday(out)
        assert len({pday for _, pday in files}) == 2, files
        assert max(files.values()) == 1, files


def test_four_partition_checkpoint_restarts_at_its_width(spark, tmp_path):
    """A rollup checkpoint made at 4 state partitions (before the state
    width existed: ``streaming_aggregate`` written by the 4-wide session)
    restarts through ``start_rollup`` at its frozen width: every bucket
    is emitted once, and the table equals the batch aggregation of what
    the watermark closed."""
    from smalltsdb_spark.operators.aggregate import aggregate
    from smalltsdb_spark.schemas import INCOMING_SCHEMA, PARTITION_COLUMN

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def source():
        return spark.readStream.schema(INCOMING_SCHEMA).parquet(f"{src}/*")

    _write_sources(spark, src, first_batch=True)
    q = (
        streaming_aggregate(source(), 10)
        .withColumn(
            PARTITION_COLUMN,
            F.floor(F.col("timestamp") / F.lit(86400)).cast("long"),
        )
        .writeStream.format("parquet")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .option("path", out)
        .partitionBy(PARTITION_COLUMN)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(_state_partitions(ck)) == 4

    _write_sources(spark, src, first_batch=False)
    q = start_rollup(source(), out, ck, 10, available_now=True)
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    assert len(_state_partitions(ck)) == 4
    last = max(int(n) for n in os.listdir(f"{ck}/offsets") if n.isdigit())
    assert _offset_log_width(ck, last) == 4

    cols = ["path", "timestamp", "n", "min", "max", "avg", "sum", "p50", "p90", "p99"]
    got = sorted(tuple(r) for r in spark.read.parquet(out).select(cols).collect())
    assert len({r[:2] for r in got}) == len(got)
    incoming = spark.read.schema(INCOMING_SCHEMA).parquet(f"{src}/*")
    watermark = incoming.agg(F.max("timestamp")).first()[0] - 60
    oracle = aggregate(incoming, 10).where(F.col("timestamp") + 10 <= watermark)
    want = sorted(tuple(r) for r in oracle.select(cols).collect())
    assert len(want) == 48
    assert got == pytest.approx(want)


def _table(spark, tmp_path, name="tensecond"):
    from smalltsdb_spark.storage import _has_data

    p = str(tmp_path / name)
    if not _has_data(p):
        return []
    df = spark.read.parquet(p).select(
        "path", "timestamp", "n", "min", "max", "avg", "sum", "p50", "p90", "p99"
    )
    return sorted(tuple(r) for r in df.collect())


def test_ingest_then_batch_sync_golden(spark, spool, tmp_path, tsdb_dir):
    """spool files → streaming ingest → incoming parquet → batch sync()."""
    spool([(p, t, v) for p, t, v in GOLDEN_A_INPUT])
    incoming_path = str(tmp_path / "incoming")
    q = start_ingest(
        read_spool_stream(spark, spool.spool_dir),
        incoming_path,
        str(tmp_path / "ckpt_ingest"),
        available_now=True,
    )
    q.awaitTermination(120)

    db = TablesTSDB(spark, tsdb_dir, incoming_path=incoming_path, now=lambda: 100.0)
    assert sorted(map(tuple, db.incoming().collect())) == sorted(GOLDEN_A_INPUT)
    db.sync()
    rows = [
        tuple(r)
        for r in db.period_table("tensecond").orderBy("path", "timestamp").collect()
    ]
    assert rows == pytest.approx(GOLDEN_A_TENSECOND)


def test_rollup_watermark_finality_golden(spark, spool, tmp_path):
    # run 1: all golden rows arrive; max event time 12 → watermark 0 →
    # nothing final yet (reference: now=12+ε, tail=60 ⇒ no final buckets)
    spool([(p, t, v) for p, t, v in GOLDEN_A_INPUT])
    _run_rollup(spark, spool, tmp_path)
    assert _table(spark, tmp_path) == []

    # run 2: a clock-advancing datapoint (ts=200) moves the watermark to
    # 140 → buckets [0,10) and [10,20) finalize and append exactly once
    spool([("clock", 200.0, 0.0)])
    _run_rollup(spark, spool, tmp_path)
    assert _table(spark, tmp_path) == pytest.approx(sorted(GOLDEN_A_TENSECOND))

    # run 3 (T4): a row later than the tail targets finalized bucket 0 —
    # dropped, no duplicate bucket row, no recompute
    spool([("one", 3.0, 99.0)])
    _run_rollup(spark, spool, tmp_path)
    assert _table(spark, tmp_path) == pytest.approx(sorted(GOLDEN_A_TENSECOND))


def test_rollup_partials_update_mode(spark, spool, tmp_path):
    """The reference computes but never materializes partial buckets
    (tsdb.py:372-374); update mode exposes them — a capability upgrade."""
    spool([(p, t, v) for p, t, v in GOLDEN_A_INPUT])
    agg = streaming_aggregate(read_spool_stream(spark, spool.spool_dir), 10)
    q = (
        agg.writeStream.format("memory")
        .queryName("partials")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        tuple(r)
        for r in spark.table("partials")
        .select("path", "timestamp", "n", "min", "max", "avg", "sum", "p50", "p90", "p99")
        .collect()
    )
    # same values as the final buckets — they just became visible before
    # the watermark passed (ViewTSDB shows the same thing, tsdb.py:216-227)
    assert rows == pytest.approx(sorted(GOLDEN_A_TENSECOND))


def test_ingest_backpressure_bounded_batches(spark, spool, tmp_path):
    """maxFilesPerTrigger=1 drains a 4-file backlog in 4 bounded
    micro-batches instead of one giant catch-up batch (the post-outage
    self-healing property: at production rates an unbounded first batch
    after downtime shuffles the whole backlog at once)."""
    for p, t, v in GOLDEN_A_INPUT:
        spool([(p, t, v)])  # one file per datapoint → 4+ files
    n_files = len(
        [f for f in os.listdir(spool.spool_dir) if f.endswith(".graphite")]
    )
    assert n_files >= 4
    incoming_path = str(tmp_path / "incoming")
    q = start_ingest(
        read_spool_stream(spark, spool.spool_dir, max_files_per_trigger=1),
        incoming_path,
        str(tmp_path / "ckpt_bp"),
        available_now=True,
    )
    q.awaitTermination(180)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    # one batch per file: the backlog drained in n_files bounded steps
    assert len(progress) == n_files
    rows = sorted(
        map(tuple, spark.read.parquet(incoming_path).select(
            "path", "timestamp", "value").collect())
    )
    assert rows == sorted(GOLDEN_A_INPUT)


def test_streaming_sink_tables_refuse_file_mutation(spark, spool, tmp_path):
    """A stream-written table is read THROUGH its _spark_metadata log, so
    file-level batch mutations (append/compact/retention/upsert) corrupt
    log-based reads (verified: compaction left every spark.read throwing
    FILE_NOT_EXIST).  The storage layer must refuse them while the log
    exists, and work again after an explicit decommission."""
    import pytest

    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import INCOMING_SCHEMA

    for p, t, v in GOLDEN_A_INPUT:
        spool([(p, t, v)])
    incoming_path = str(tmp_path / "incoming")
    q = start_ingest(
        read_spool_stream(spark, spool.spool_dir),
        incoming_path,
        str(tmp_path / "ckpt_guard"),
        available_now=True,
    )
    q.awaitTermination(180)
    assert storage.is_streaming_sink(incoming_path)
    one_row = spark.createDataFrame([("m", 1.0, 1.0)], INCOMING_SCHEMA)

    with pytest.raises(ValueError, match="_spark_metadata"):
        storage.append(one_row, incoming_path)
    with pytest.raises(ValueError, match="_spark_metadata"):
        storage.overwrite_partitions(one_row, incoming_path)
    with pytest.raises(ValueError, match="_spark_metadata"):
        storage.drop_partitions_below(incoming_path, 10**9)
    # compaction only mutates when fragmented — force >1 file in pday=0
    counts = storage.partition_file_counts(incoming_path)
    if max(counts.values()) > 1:
        with pytest.raises(ValueError, match="_spark_metadata"):
            storage.compact_partitions(spark, incoming_path, INCOMING_SCHEMA)

    before = sorted(map(tuple, spark.read.parquet(incoming_path).select(
        "path", "timestamp", "value").collect()))
    assert storage.decommission_streaming_sink(incoming_path)
    assert not storage.is_streaming_sink(incoming_path)
    assert storage.decommission_streaming_sink(incoming_path) is False  # idempotent
    # now a normal directory-listed table: mutation works and reads agree
    storage.compact_partitions(spark, incoming_path, INCOMING_SCHEMA)
    after = sorted(map(tuple, spark.read.parquet(incoming_path).select(
        "path", "timestamp", "value").collect()))
    assert after == before
    assert all(
        n == 1 for n in storage.partition_file_counts(incoming_path).values()
    )


def _drained_sink_with_orphan(spark, spool, tmp_path):
    """A drained stream-owned incoming table with one planted orphan —
    a copy of a committed part file under a fresh task-UUID name in the
    same partition dir, exactly what a task that died after writing but
    before its batch commit leaves behind: on disk, valid parquet,
    absent from the sink log."""
    import shutil as _sh
    import uuid

    from smalltsdb_spark import storage

    for p, t, v in GOLDEN_A_INPUT:
        spool([(p, t, v)])
    incoming_path = str(tmp_path / "incoming")
    q = start_ingest(
        read_spool_stream(spark, spool.spool_dir),
        incoming_path,
        str(tmp_path / "ckpt_orph"),
        available_now=True,
    )
    assert q.awaitTermination(180), "drain did not finish"
    committed = sorted(map(tuple, spark.read.parquet(incoming_path).select(
        "path", "timestamp", "value").collect()))
    rel_paths, _ = storage.read_sink_log(incoming_path)
    donor_rel = sorted(rel_paths)[0]
    orphan_rel = os.path.join(
        os.path.dirname(donor_rel),
        f"part-00000-{uuid.uuid4()}.c000.snappy.parquet",
    )
    _sh.copyfile(
        os.path.join(incoming_path, donor_rel),
        os.path.join(incoming_path, orphan_rel),
    )
    # the orphan is real data a listing-based reader would double-count
    assert spark.read.parquet(
        os.path.join(incoming_path, orphan_rel)
    ).count() > 0
    return incoming_path, committed, orphan_rel


def test_decommission_quarantines_uncommitted_sink_files(spark, spool, tmp_path):
    """VERDICT r13 item 1: a stream that crashed mid-trigger leaves
    staged-but-uncommitted part files the sink log correctly hid;
    decommission must reconcile the log against the directory and
    quarantine those orphans BEFORE removing the log, or the handover
    silently surfaces them as duplicate rows to listing-based readers."""
    from smalltsdb_spark import storage

    incoming_path, committed, orphan_rel = _drained_sink_with_orphan(
        spark, spool, tmp_path
    )
    assert storage.decommission_streaming_sink(incoming_path)  # quarantine
    # the post-handover directory read equals the log's committed set —
    # no duplicate rows from the orphan
    after = sorted(map(tuple, spark.read.parquet(incoming_path).select(
        "path", "timestamp", "value").collect()))
    assert after == committed
    # the orphan was moved (not destroyed) into the hidden quarantine
    # dot-dir, preserving its relative path for hand recovery
    assert not os.path.exists(os.path.join(incoming_path, orphan_rel))
    assert os.path.isfile(os.path.join(
        incoming_path, storage.SINK_QUARANTINE_DIR, orphan_rel
    ))


def test_decommission_refuse_and_delete_orphan_modes(spark, spool, tmp_path):
    """Strict mode refuses the whole handover while uncommitted files
    exist (nothing touched, log intact); delete mode removes them."""
    import pytest

    from smalltsdb_spark import storage

    incoming_path, committed, orphan_rel = _drained_sink_with_orphan(
        spark, spool, tmp_path
    )
    with pytest.raises(ValueError, match="never committed"):
        storage.decommission_streaming_sink(incoming_path, on_orphans="refuse")
    # refused: table untouched — still stream-owned, orphan still there
    assert storage.is_streaming_sink(incoming_path)
    assert os.path.isfile(os.path.join(incoming_path, orphan_rel))

    assert storage.decommission_streaming_sink(incoming_path, on_orphans="delete")
    assert not os.path.exists(os.path.join(incoming_path, orphan_rel))
    assert not os.path.isdir(
        os.path.join(incoming_path, storage.SINK_QUARANTINE_DIR)
    )
    after = sorted(map(tuple, spark.read.parquet(incoming_path).select(
        "path", "timestamp", "value").collect()))
    assert after == committed


def test_partials_rollup_exposes_open_buckets_and_converges(spark, spool, tmp_path):
    """start_rollup_partials (r8, T2 upgrade): update mode materializes
    buckets the finality rule hasn't closed — absent from the append
    table — at their CURRENT values; once more data arrives, the upsert
    REPLACES the partial row (no duplicates), converging on the final
    aggregation."""
    from smalltsdb_spark.storage import read_table
    from smalltsdb_spark.schemas import AGG_SCHEMA
    from smalltsdb_spark.streaming import start_rollup_partials

    partial = str(tmp_path / "tensecond_partial")
    final = str(tmp_path / "tensecond_final")

    def run_both():
        for starter, out, ck in [
            (start_rollup, final, "ckf"),
            (start_rollup_partials, partial, "ckp"),
        ]:
            q = starter(
                read_spool_stream(spark, spool.spool_dir),
                out,
                str(tmp_path / ck),
                10,
                available_now=True,
            )
            q.awaitTermination(120)

    def partial_rows():
        return {
            (r.path, r.timestamp): (r.n, r.min, r.max, r.sum)
            for r in read_table(spark, partial, AGG_SCHEMA).collect()
        }

    # batch 1: bucket 0 has data; bucket 20 row moves the watermark so
    # bucket 0 finalizes; bucket 20 itself stays OPEN (tail=60)
    spool([("m", 1.0, 10.0), ("m", 2.0, 20.0), ("m", 25.0, 100.0)])
    run_both()
    finals = _table(spark, tmp_path, "tensecond_final")
    assert [(p, t, n) for p, t, n, *_ in finals] == []  # nothing final yet
    got = partial_rows()
    assert got[("m", 0.0)] == (2.0, 10.0, 20.0, 30.0)  # OPEN bucket visible
    assert got[("m", 20.0)] == (1.0, 100.0, 100.0, 100.0)

    # batch 2: watermark carried from run 1 is max(25)-60 < 0, so bucket
    # 0 is still inside the tail — the ("m", 3.0) row MERGES (in-tail
    # late data updates its open bucket, reference semantics) and the
    # partial row is REPLACED in place, not duplicated; the 95.0 row
    # advances the post-batch watermark to 35
    spool([("m", 27.0, 50.0), ("m", 3.0, 999.0), ("m", 95.0, 1.0)])
    run_both()
    got = partial_rows()
    assert got[("m", 0.0)] == (3.0, 10.0, 999.0, 1029.0)  # merged in-tail
    assert got[("m", 20.0)] == (2.0, 50.0, 100.0, 150.0)  # replaced in place
    assert got[("m", 90.0)] == (1.0, 1.0, 1.0, 1.0)

    # batch 3: watermark is now 35 > bucket 0's end — the ("m", 4.0) row
    # is TOO LATE and must be dropped (same rule as append mode); the
    # 200.0 row pushes the watermark so buckets 0 and 20 finalize
    spool([("m", 4.0, 777.0), ("m", 200.0, 5.0)])
    run_both()
    got = partial_rows()
    assert got[("m", 0.0)] == (3.0, 10.0, 999.0, 1029.0)  # late row dropped
    assert got[("m", 20.0)] == (2.0, 50.0, 100.0, 150.0)
    # exactly one row per (path, bucket): the upsert replaces, never appends
    all_rows = read_table(spark, partial, AGG_SCHEMA).collect()
    assert len(all_rows) == len(got)
    # for every bucket the append table has finalized, the partial row
    # equals the final row (the partials table converges on finality)
    finals = {
        (p, t): (n, mn, mx, s)
        for p, t, n, mn, mx, _avg, s, *_ in _table(spark, tmp_path, "tensecond_final")
    }
    assert finals and all(got[k] == v for k, v in finals.items())


def test_span_dedup_stream_handler_is_idempotent_and_restart_safe(
    spark, tmp_path
):
    """foreachBatch is AT-LEAST-ONCE: a crash between sink write and
    checkpoint commit replays the batch with the same batch_id, and a
    restarted driver has no in-memory state.  The span-dedup handler
    (streaming/span_dedup.py) must therefore (a) produce identical
    output when a batch is replayed — its own half-committed index
    version is ignored by the versions-strictly-below rule — and (b)
    resolve its pre-state purely from disk (a SECOND handler instance,
    as after a driver restart, continues correctly)."""
    from smalltsdb_spark.streaming.span_dedup import (
        make_span_dedup_batch_handler,
        read_index,
    )

    span = "a b c d"
    b0 = spark.createDataFrame(
        [(0, f"x {span} y"), (2, "u v w z")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(1, f"p {span} q"), (3, "u v w z")],  # both dup vs batch 0
        "doc_id long, text string",
    )
    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text", k=4, min_count=2
    )

    handle(b0, 0)
    got0 = {
        r.doc_id: (r.n_removed, r.text_clean)
        for r in spark.read.parquet(out).drop("batch").collect()
    }
    # batch 0 has no duplicates (vs empty index or within itself)
    assert got0 == {0: (0, f"x {span} y"), 2: (0, "u v w z")}

    # driver "restart": a FRESH handler must resolve state from disk
    handle2 = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text", k=4, min_count=2
    )
    handle2(b1, 1)

    def snapshot():
        return {
            r.doc_id: (r.n_removed, r.text_clean)
            for r in spark.read.parquet(out).drop("batch").collect()
        }

    after_b1 = snapshot()
    # batch 1's span and line both duplicate batch 0: stripped
    assert after_b1[1] == (4, "p q")
    assert after_b1[3] == (4, "")
    assert after_b1[0] == (0, f"x {span} y")  # batch 0 output untouched

    # REPLAY batch 1 (same batch_id, post-crash): byte-identical state
    handle2(b1, 1)
    assert snapshot() == after_b1
    assert manifests.latest_version(index_base) == 1
    # replayed index equals the scratch index over both batches
    from smalltsdb_spark.operators.dedup import shingle_count_index

    merged = {r.h: r.c for r in read_index(spark, index_base).collect()}
    scratch = {
        r.h: r.c
        for r in shingle_count_index(
            b0.unionByName(b1), "doc_id", "text", k=4
        ).collect()
    }
    assert merged == scratch


def test_span_dedup_index_appends_only_the_batch_delta(spark, tmp_path):
    """VERDICT r10 item 1: the streaming index is hash-prefix-partitioned
    and LSM-maintained — a trigger APPENDS one delta file per touched
    partition (O(batch) written; counts merge at read) and never
    rewrites the index.  Batch 0 seeds many prefixes; batch 1 carries
    exactly ONE distinct shingle, so its data dir must hold exactly one
    pfx partition, the touched partition's manifest entry must be batch
    0's files PLUS the new delta, and every untouched prefix carries by
    reference — never re-read or rewritten."""
    import os

    from smalltsdb_spark.streaming.span_dedup import (
        make_span_dedup_batch_handler,
        read_index,
    )

    b0 = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i}") for i in range(40)],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(100, "a b c d")], "doc_id long, text string"
    )
    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text",
        k=4, min_count=2, n_prefixes=16,
    )
    handle(b0, 0)
    files_v0 = manifests.read_version(index_base, 0)
    assert len(files_v0) >= 2  # 40 hashes spread over several prefixes

    handle(b1, 1)
    pfx_dirs = [
        d
        for d in os.listdir(os.path.join(index_base, "data_b1"))
        if d.startswith("pfx=")
    ]
    assert len(pfx_dirs) == 1  # one distinct shingle -> one delta file
    files_v1 = manifests.read_version(index_base, 1)
    touched = int(pfx_dirs[0].split("=", 1)[1])
    delta_files = [f for f in files_v1[touched] if f.startswith("data_b1/")]
    assert len(delta_files) == 1
    assert files_v1[touched] == files_v0.get(touched, []) + delta_files
    carried = {p: fs for p, fs in files_v1.items() if p != touched}
    assert carried == {p: fs for p, fs in files_v0.items() if p != touched}
    assert all(
        f.startswith("data_b0/") for fs in carried.values() for f in fs
    )
    # the read path union-sums base + delta: one row per hash
    rows = read_index(spark, index_base).collect()
    assert len({r.h for r in rows}) == len(rows)


def test_span_dedup_handler_failure_leaves_no_cache(
    spark, tmp_path, monkeypatch
):
    """A failure raised after the span dedup handler persists its batch
    (here: persisting the batch's shingle delta) releases the batch's
    cache: a failed trigger pins nothing."""
    from smalltsdb_spark.streaming.span_dedup import (
        make_span_dedup_batch_handler,
    )

    spark.catalog.clearCache()
    batch = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    frame = type(batch)  # the session's concrete DataFrame class
    real = frame.persist

    def failing(self, *args, **kwargs):
        if self.columns == ["h", "c", "pfx"]:
            raise RuntimeError("injected failure persisting the delta")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame, "persist", failing)
    handle = make_span_dedup_batch_handler(
        spark, str(tmp_path / "idx"), str(tmp_path / "out"), "doc_id", "text",
        k=4, min_count=2,
    )
    with pytest.raises(RuntimeError, match="injected"):
        handle(batch, 0)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_span_dedup_index_compaction_bounds_files_per_partition(
    spark, tmp_path
):
    """Size-tiered compaction: appending deltas forever would grow a
    partition's file list without bound; a commit that pushes a
    partition past compact_files folds it back to ONE file (named by
    the committing batch id; a replay folds into an attempt-unique
    sibling dir and GC reaps the superseded attempt).  With
    compact_files=2, every committed manifest holds ≤ 2 files per
    partition, and the merged counts stay exact across folds."""
    from smalltsdb_spark.streaming.span_dedup import (
        make_span_dedup_batch_handler,
        read_index,
    )

    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text",
        k=4, min_count=2, n_prefixes=4,
        gc_grace_seconds=0.0, compact_files=2,
    )
    for b in range(6):
        df = spark.createDataFrame(
            [(b, f"x a b c d y{b}")], "doc_id long, text string"
        )
        handle(df, b)
        files = manifests.read_version(index_base, manifests.latest_version(index_base))
        assert all(len(fs) <= 2 for fs in files.values()), files
    counts = {r.h: r.c for r in read_index(spark, index_base).collect()}
    # 'x a b c' and 'a b c d' appeared once per batch; folds must not
    # lose or double them; the per-batch tail shingle stays at 1
    assert sum(1 for c in counts.values() if c == 6) == 2
    assert sum(1 for c in counts.values() if c == 1) == 6


def test_span_dedup_index_versions_and_disk_are_bounded(spark, tmp_path):
    """VERDICT r10 item 1 / ADVICE r10: superseded manifests and their
    unreferenced data files are GC'd after each commit — steady state is
    the pre-state manifest plus the new one (the replay rule never
    resolves anything older), and with a zero grace window every parquet
    under the index base is referenced by a live manifest.  The merged
    relation still equals the from-scratch index over all batches."""
    import os
    import re

    from smalltsdb_spark.operators.dedup import shingle_count_index
    from smalltsdb_spark.streaming.span_dedup import (
        make_span_dedup_batch_handler,
        read_index,
    )

    span = "a b c d"
    batches = [
        spark.createDataFrame(
            [(10 * b + j, f"s{b} {span} t{b}{j}") for j in range(2)],
            "doc_id long, text string",
        )
        for b in range(4)
    ]
    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text",
        k=4, min_count=2, n_prefixes=8, gc_grace_seconds=0.0,
    )
    for b, df in enumerate(batches):
        handle(df, b)

    versions = sorted(
        int(m.group(1))
        for m in (
            re.match(r"^manifest_v(\d+)\.json$", n)
            for n in os.listdir(index_base)
        )
        if m
    )
    assert versions == [2, 3]  # pre-state + newest, nothing older

    live = {
        f
        for v in versions
        for fs in manifests.read_version(index_base, v).values()
        for f in fs
    }
    on_disk = set()
    for root, dirs, fs in os.walk(index_base):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in fs:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                on_disk.add(
                    os.path.relpath(os.path.join(root, f), index_base)
                )
    assert on_disk == live  # zero grace: no unreferenced file survives

    merged = {r.h: r.c for r in read_index(spark, index_base).collect()}
    all_docs = batches[0]
    for df in batches[1:]:
        all_docs = all_docs.unionByName(df)
    scratch = {
        r.h: r.c
        for r in shingle_count_index(all_docs, "doc_id", "text", k=4).collect()
    }
    assert merged == scratch


def test_span_dedup_index_randomized_equals_scratch(spark, tmp_path):
    """Randomized differential over the LSM index: after EVERY commit of
    a random batch sequence (random doc counts, shared + unique spans,
    occasional replays) the manifest-resolved union-sum must equal the
    from-scratch shingle_count_index over everything ingested so far,
    and the committed file lists must respect the compaction bound.
    Seeded — failures reproduce."""
    import random

    from smalltsdb_spark.operators.dedup import shingle_count_index
    from smalltsdb_spark.streaming.span_dedup import (
        make_span_dedup_batch_handler,
        read_index,
    )

    rng = random.Random(20260816)
    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text",
        k=3, min_count=2, n_prefixes=8,
        gc_grace_seconds=0.0, compact_files=3,
    )
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    ingested = []
    batches = []
    for b in range(7):
        docs = [
            (
                100 * b + j,
                " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))),
            )
            for j in range(rng.randint(1, 4))
        ]
        batches.append(docs)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        handle(df, b)
        if rng.random() < 0.4:  # at-least-once: replay the same batch id
            handle(df, b)
        ingested.extend(docs)
        merged = {r.h: r.c for r in read_index(spark, index_base).collect()}
        scratch = {
            r.h: r.c
            for r in shingle_count_index(
                spark.createDataFrame(ingested, "doc_id long, text string"),
                "doc_id", "text", k=3,
            ).collect()
        }
        assert merged == scratch, f"diverged after batch {b}"
        files = manifests.read_version(index_base, manifests.latest_version(index_base))
        assert all(len(fs) <= 3 for fs in files.values()), (b, files)


def test_reader_snapshot_survives_concurrent_commit_and_zero_grace_gc(
    spark, tmp_path
):
    """VERDICT r11 item 7 — the LSM index under reader/writer
    interleaving: a reader that resolved manifest v BEFORE the writer
    commits v+1 (with GC at ZERO grace) must still find every file of
    its resolved snapshot on disk and union-sum it to the exact
    pre-commit relation.  This is the structural guarantee (not a
    timing one): committing v+1 keeps the pre-state version v and its
    files LIVE — only versions older than the pre-state are reaped —
    so the sweep can never yank a current reader's snapshot, even with
    no grace window at all.  Seeded interleaving over several commits;
    failures reproduce."""
    import os
    import random

    from smalltsdb_spark.streaming.span_dedup import (
        _read_files,
        make_span_dedup_batch_handler,
    )

    rng = random.Random(20260817)
    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text",
        k=3, min_count=2, n_prefixes=4,
        gc_grace_seconds=0.0, compact_files=3,
    )
    vocab = ["w1", "w2", "w3", "w4"]
    for b in range(5):
        # reader phase: resolve the newest committed snapshot and pin
        # its expected relation BEFORE the writer moves
        version, files = manifests.resolve_version(index_base)
        rels = [f for fs in files.values() for f in fs]
        expected = None
        if rels:
            expected = {
                (r.h, r.c)
                for r in _read_files(spark, index_base, rels)
                .groupBy("h")
                .agg(F.sum("c").cast("long").alias("c"))
                .collect()
            }
        # writer phase: commit the next batch; GC runs at zero grace
        docs = [
            (
                100 * b + j,
                " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 7))),
            )
            for j in range(rng.randint(1, 3))
        ]
        handle(spark.createDataFrame(docs, "doc_id long, text string"), b)
        # reader completes AFTER the commit: every resolved file must
        # still exist, and the snapshot must still sum identically
        for rel in rels:
            assert os.path.isfile(os.path.join(index_base, rel)), (
                f"reader snapshot file {rel} vanished during commit {b}"
            )
        if expected is not None:
            got = {
                (r.h, r.c)
                for r in _read_files(spark, index_base, rels)
                .groupBy("h")
                .agg(F.sum("c").cast("long").alias("c"))
                .collect()
            }
            assert got == expected, f"snapshot diverged during commit {b}"


def test_replay_writes_attempt_unique_dir_preserving_stale_readers(
    spark, tmp_path
):
    """ADVICE r11: an at-least-once replay of batch b AFTER v{b}
    committed must not overwrite data_b{b} in place — Spark overwrite
    deletes the dir, yanking files from an external reader still
    holding the stale v{b} list inside its grace window.  The replay
    writes an attempt-unique dir; the stale files survive (grace) and
    both manifests' lists read to the same relation."""
    import os

    from smalltsdb_spark.streaming.span_dedup import (
        _read_files,
        make_span_dedup_batch_handler,
    )

    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text",
        k=3, min_count=2, n_prefixes=4,
        gc_grace_seconds=300.0,
    )
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y")], "doc_id long, text string"
    )
    handle(df, 0)
    stale = manifests.read_version(index_base, 0)
    stale_rels = [f for fs in stale.values() for f in fs]
    assert stale_rels and all(f.startswith("data_b0/") for f in stale_rels)

    def relation(rels):
        return {
            (r.h, r.c)
            for r in _read_files(spark, index_base, rels)
            .groupBy("h")
            .agg(F.sum("c").cast("long").alias("c"))
            .collect()
        }

    before = relation(stale_rels)
    handle(df, 0)  # replay after commit
    fresh = manifests.read_version(index_base, 0)
    fresh_rels = [f for fs in fresh.values() for f in fs]
    # the replay landed in an attempt-unique sibling, not data_b0
    assert all(not f.startswith("data_b0/") for f in fresh_rels), fresh_rels
    # the stale reader's files are all still present and sum unchanged
    for rel in stale_rels:
        assert os.path.isfile(os.path.join(index_base, rel))
    assert relation(stale_rels) == before == relation(fresh_rels)


def test_empty_batch_dir_debris_respects_grace_window(spark, tmp_path):
    """ADVICE r11: a data_b* dir holding ZERO parquet files (partial
    writer debris) was reaped instantly — the all-dead branch is
    vacuously true on an empty list.  It must honor the same grace
    window as every other unresolved file: fresh debris survives a
    commit, aged debris is swept."""
    import os
    import time as _time

    from smalltsdb_spark.streaming.span_dedup import (
        make_span_dedup_batch_handler,
    )

    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text",
        k=3, min_count=2, n_prefixes=4,
        gc_grace_seconds=60.0,
    )
    fresh_debris = os.path.join(index_base, "data_b90")
    aged_debris = os.path.join(index_base, "data_b91")
    os.makedirs(fresh_debris)
    os.makedirs(aged_debris)
    old = _time.time() - 3600
    os.utime(aged_debris, (old, old))
    handle(
        spark.createDataFrame([(1, "a b c d")], "doc_id long, text string"),
        0,
    )
    assert os.path.isdir(fresh_debris), "fresh debris reaped inside grace"
    assert not os.path.isdir(aged_debris), "aged debris must be swept"


def test_histogram_rollup_exactly_once_across_restarts(spark, tmp_path):
    """VERDICT r11 item 3 — streaming maintenance of the persisted
    histogram: append-mode watermark finality emits each (path, fine
    bucket, bin) count exactly once; a restarted query (same
    checkpoint) resumes without duplicating; rows later than the tail
    are dropped (same T4 rule as the period rollups); and the
    stream-maintained table serves bounds through the SAME TablesTSDB
    read path as the batch-synced one, which in turn refuses to
    batch-mutate the stream-owned table."""
    from smalltsdb_spark.operators.aggregate import value_histogram
    from smalltsdb_spark.schemas import INCOMING_SCHEMA
    from smalltsdb_spark.streaming import start_histogram_rollup
    from smalltsdb_spark.tsdb import TablesTSDB

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    hist_path = os.path.join(store, "histogram")

    def run_once():
        q = start_histogram_rollup(
            spark.readStream.schema(INCOMING_SCHEMA).parquet(src),
            hist_path,
            ckpt,
            10,
            bin_width=1.0,
            available_now=True,
        )
        q.awaitTermination(120)

    def hist():
        from smalltsdb_spark import storage
        from smalltsdb_spark.schemas import HIST_SCHEMA

        return {
            (r.path, r.timestamp, r.bin): r.n
            for r in storage.read_table(spark, hist_path, HIST_SCHEMA).collect()
        }

    inc_rows = [(p, float(t), float(v)) for p, t, v in GOLDEN_A_INPUT]
    spark.createDataFrame(inc_rows, INCOMING_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    # max event time ~12 → watermark 0 → nothing final yet
    assert hist() == {}

    # restart with a clock-advancing row: watermark 140 closes every
    # golden bucket; counts equal the batch value_histogram exactly
    spark.createDataFrame(
        [("_clock", 200.0, 0.0)], INCOMING_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    expected = {
        (r.path, r.timestamp, r.bin): r.n
        for r in value_histogram(
            spark.createDataFrame(inc_rows, INCOMING_SCHEMA), 10, bin_width=1.0
        ).collect()
    }
    assert hist() == expected

    # late rows behind the watermark are dropped; a replayed restart
    # changes nothing (the sink log + state make re-runs no-ops)
    spark.createDataFrame(
        [("one", 3.0, 99.0)], INCOMING_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    run_once()
    assert hist() == expected

    # the stream-maintained table serves bounds through the standard
    # read path (no sync ever ran), with the store's matching geometry
    db = TablesTSDB(
        spark,
        store,
        periods=[("tensecond", 10), ("onehour", 3600)],
        now=lambda: 300.0,
        histograms=True,
        hist_fine_seconds=10,
        hist_bin_width=1.0,
    )
    got = db.get_metric_bounds("one", "tensecond", "p50", (0, 100))
    # every exact golden p50 must lie inside its [lo, hi) bin bounds
    exact = {
        (r[0], r[1]): r[7] for r in GOLDEN_A_TENSECOND
    }  # (path, ts) -> p50
    assert got, "bounds read from the stream-maintained table is empty"
    for ts, lo, hi in got:
        p50 = exact[("one", ts)]
        assert lo - 1e-9 <= p50 and (hi is None or p50 <= hi + 1e-9)
    # one table, one maintenance flavor: the batch syncer refuses to
    # mutate the stream-owned histogram (the file-sink log owns it) —
    # the row must be FINAL at now=300 (t=100 < finality cut 240) or
    # the upsert early-returns before ever touching storage
    db.insert([("one", 100.0, 1.0)])
    with pytest.raises(ValueError, match="_spark_metadata"):
        db.sync()


def test_semantic_dedup_handler_union_equals_frozen_full(spark, tmp_path):
    """Streaming SemDeDup (r12 — streaming/semantic_dedup.py): three
    batches driven through the handler directly; the union of the
    batch-keyed pair outputs must equal the full frozen-centroid
    SemDeDup pair relation (each pair once, at the first batch where
    both sides exist); a replay after commit must change nothing
    visible, land in an attempt-unique dir, and keep the stale
    attempt's files inside the grace window; the advanced index must
    round-trip to exactly ivf_assign over everything ingested."""
    from smalltsdb_spark.operators import similarity
    from smalltsdb_spark.streaming.semantic_dedup import (
        make_semantic_dedup_batch_handler,
        read_semantic_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 5 > 1)
    b1 = emb.filter(F.col("vec_id") % 5 == 0)
    b2 = emb.filter(F.col("vec_id") % 5 == 1)
    C = similarity.ivf_train(corpus, "vec_id", "embedding", n_centroids=8, seed=7)
    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_semantic_dedup_batch_handler(
        spark, index_base, out, C, "vec_id", "embedding",
        threshold=0.3, gc_grace_seconds=300.0, compact_files=2,
    )
    for b, df in enumerate([corpus, b1, b2]):
        handle(df, b)

    def pairs():
        return {
            (r.cluster, r.id_a, r.id_b, r.sim)
            for r in spark.read.parquet(out).select(
                "cluster", "id_a", "id_b", "sim"
            ).collect()
        }

    full = {
        (r.cluster, r.id_a, r.id_b, r.sim)
        for r in similarity.semantic_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.3, centroids=C
        ).collect()
    }
    got = pairs()
    assert got == full
    assert full, "fixture yields no pairs — weak test"
    # per-batch counts must sum to the union size: no pair twice
    per_batch = sum(
        spark.read.parquet(os.path.join(out, f"batch={b}")).count()
        for b in range(3)
    )
    assert per_batch == len(full)

    # replay of batch 2 after commit: output unchanged, index files of
    # the first attempt survive (grace), new manifest points elsewhere
    from smalltsdb_spark import manifests

    _, files_before = manifests.resolve_version(index_base)
    rels_before = [f for fs in files_before.values() for f in fs]
    handle(b2, 2)
    assert pairs() == full
    for rel in rels_before:
        assert os.path.isfile(os.path.join(index_base, rel)), (
            f"stale reader file {rel} vanished on replay"
        )
    # the advanced index equals ivf_assign over everything ingested
    idx = {
        (r.neighbor_id, r._list)
        for r in read_semantic_index(spark, index_base).collect()
    }
    scratch = {
        (r.neighbor_id, r._list)
        for r in similarity.ivf_assign(emb, "vec_id", "embedding", C).collect()
    }
    assert idx == scratch
    # compaction bound holds on the committed manifest
    _, files = manifests.resolve_version(index_base)
    assert all(len(fs) <= 2 for fs in files.values()), files


def test_semantic_dedup_zero_grace_gc_keeps_live_index(spark, tmp_path):
    """ADVICE r12 (high) reproduction at the subsystem level: with
    ``gc_grace_seconds=0`` every per-batch GC pass runs its aged-debris
    branches immediately.  Before the manifests.py visibility fix the
    ``_list=N`` partition dirs were pruned as hidden, every live
    ``data_b*`` dir scanned as zero parquet files, and GC rmtree'd
    manifest-referenced index files — corpus silently lost after one
    batch.  Every committed-manifest file must survive, and the index
    must still equal ivf_assign over everything ingested."""
    from smalltsdb_spark import manifests
    from smalltsdb_spark.operators import similarity
    from smalltsdb_spark.streaming.semantic_dedup import (
        make_semantic_dedup_batch_handler,
        read_semantic_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 4 == 0)
    b1 = emb.filter(F.col("vec_id") % 4 == 1)
    b2 = emb.filter(F.col("vec_id") % 4 == 2)
    C = similarity.ivf_train(corpus, "vec_id", "embedding", n_centroids=8, seed=7)
    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_semantic_dedup_batch_handler(
        spark, index_base, out, C, "vec_id", "embedding",
        threshold=0.3, gc_grace_seconds=0.0, compact_files=2,
    )
    for b, df in enumerate([corpus, b1, b2]):
        handle(df, b)
        # every file the just-committed manifest references is on disk
        v, files = manifests.resolve_version(index_base)
        assert v == b
        for rel in (f for fs in files.values() for f in fs):
            assert os.path.isfile(os.path.join(index_base, rel)), (
                f"batch {b}: live manifest-referenced file {rel} was "
                "GC'd as debris (underscore-partition visibility bug)"
            )
    idx = {
        (r.neighbor_id, r._list)
        for r in read_semantic_index(spark, index_base).collect()
    }
    ingested = emb.filter(F.col("vec_id") % 4 != 3)
    scratch = {
        (r.neighbor_id, r._list)
        for r in similarity.ivf_assign(
            ingested, "vec_id", "embedding", C
        ).collect()
    }
    assert idx == scratch and idx, "index lost corpus under zero-grace GC"


def test_stream_histogram_geometry_pin_written_and_enforced(spark, tmp_path):
    """VERDICT r12 item 1: start_histogram_rollup write-or-verifies the
    SAME _geometry.json pin the batch path creates (tsdb.py
    _pin_hist_geometry), BEFORE the query starts.  A store opened with
    a different geometry over the stream-maintained table must raise
    the existing geometry ValueError instead of silently serving
    mis-binned bounds; a second maintainer with mismatched geometry
    must fail before start()."""
    import json

    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import INCOMING_SCHEMA
    from smalltsdb_spark.streaming import start_histogram_rollup
    from smalltsdb_spark.tsdb import TablesTSDB

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    hist_path = os.path.join(store, "histogram")
    spark.createDataFrame(
        [("one", 5.0, 42.0)], INCOMING_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_histogram_rollup(
        spark.readStream.schema(INCOMING_SCHEMA).parquet(src),
        hist_path,
        str(tmp_path / "ckpt"),
        10,
        bin_width=10.0,
        available_now=True,
    )
    q.awaitTermination(120)
    with open(os.path.join(hist_path, storage.HIST_GEOMETRY_MARKER)) as f:
        assert json.load(f) == {
            "bin_width": 10.0, "clamp_bin": 19, "fine_seconds": 10,
        }
    # default-geometry open (bin_width=50) over the bin_width=10 table
    with pytest.raises(ValueError, match="geometry"):
        TablesTSDB(spark, store, histograms=True, hist_fine_seconds=10)
    # matching geometry opens fine
    TablesTSDB(
        spark, store, histograms=True,
        hist_fine_seconds=10, hist_bin_width=10.0,
    )
    # a second maintainer with a DIFFERENT geometry fails before start
    with pytest.raises(ValueError, match="geometry"):
        start_histogram_rollup(
            spark.readStream.schema(INCOMING_SCHEMA).parquet(src),
            hist_path,
            str(tmp_path / "ckpt2"),
            60,
            bin_width=50.0,
        )


def test_unpinned_nonempty_histogram_refused(spark, tmp_path):
    """A non-empty histogram table with NO geometry pin (legacy stream
    data, foreign files) is refused at open AND at bounds-read time —
    its rows' bin width/clamp/fine period are unknowable."""
    from smalltsdb_spark.tsdb import TablesTSDB

    store = str(tmp_path / "store")
    hist_dir = os.path.join(store, "histogram")
    # empty dir (markers only) is fine to open
    os.makedirs(hist_dir)
    db = TablesTSDB(spark, store, histograms=True, now=lambda: 1000.0)
    # unpinned data appears AFTER open (e.g. an old-version stream):
    # the read path re-verifies and refuses
    os.makedirs(os.path.join(hist_dir, "pday=0"))
    with open(os.path.join(hist_dir, "pday=0", "part-0.parquet"), "wb") as f:
        f.write(b"x")
    with pytest.raises(ValueError, match="no _geometry.json pin"):
        db.get_metric_bounds("one", "tensecond", "p50", (0, 100))
    # and a fresh open refuses eagerly
    with pytest.raises(ValueError, match="no _geometry.json pin"):
        TablesTSDB(spark, store, histograms=True)


def test_histogram_stream_to_batch_decommission_handover(spark, tmp_path):
    """VERDICT r12 item 6: full stream→batch ownership round-trip for
    the HISTOGRAM table.  A stream maintains it (geometry-pinned); the
    retired stream's table is decommissioned; a batch TablesTSDB then
    continues the SAME table with sync() — the new buckets append next
    to the stream's, bounds reads serve the union correctly, and the
    geometry pin survives the handover (a wrong-geometry open still
    raises)."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.operators.aggregate import value_histogram
    from smalltsdb_spark.schemas import HIST_SCHEMA, INCOMING_SCHEMA
    from smalltsdb_spark.streaming import start_histogram_rollup
    from smalltsdb_spark.tsdb import TablesTSDB

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    hist_path = os.path.join(store, "histogram")
    inc_rows = [(p, float(t), float(v)) for p, t, v in GOLDEN_A_INPUT]
    spark.createDataFrame(
        inc_rows + [("_clock", 200.0, 0.0)], INCOMING_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_histogram_rollup(
        spark.readStream.schema(INCOMING_SCHEMA).parquet(src),
        hist_path,
        str(tmp_path / "ckpt"),
        10,
        bin_width=1.0,
        available_now=True,
    )
    # the handover below is only legal on a FINISHED stream (ADVICE r13)
    assert q.awaitTermination(120), "stream drain did not finish"

    def hist():
        return {
            (r.path, r.timestamp, r.bin): r.n
            for r in storage.read_table(
                spark, hist_path, HIST_SCHEMA
            ).collect()
        }

    golden_hist = {
        (r.path, r.timestamp, r.bin): r.n
        for r in value_histogram(
            spark.createDataFrame(inc_rows, INCOMING_SCHEMA), 10, bin_width=1.0
        ).collect()
    }
    assert hist() == golden_hist, "stream phase did not finalize goldens"

    # retire the stream; hand the table to batch ownership
    assert storage.decommission_streaming_sink(hist_path)
    db = TablesTSDB(
        spark, store,
        periods=[("tensecond", 10), ("onehour", 3600)],
        now=lambda: 1000.0,
        histograms=True,
        hist_fine_seconds=10,
        hist_bin_width=1.0,
    )
    new_rows = [("one", 300.0, 2.0), ("one", 303.0, 7.0), ("one", 412.0, 4.0)]
    db.insert(new_rows)
    db.sync()  # was a ValueError while the stream owned the table
    expected = dict(golden_hist)
    expected.update(
        {
            (r.path, r.timestamp, r.bin): r.n
            for r in value_histogram(
                spark.createDataFrame(new_rows, INCOMING_SCHEMA),
                10,
                bin_width=1.0,
            ).collect()
        }
    )
    assert hist() == expected, "batch sync did not continue the table"
    # bounds serve the union: stream-written and batch-written buckets
    got = dict()
    for ts, lo, hi in db.get_metric_bounds(
        "one", "tensecond", "p50", (0, 500)
    ):
        got[ts] = (lo, hi)
    exact = {
        (r[0], r[1]): r[7] for r in GOLDEN_A_TENSECOND
    }  # (path, ts) -> p50
    exact[("one", 300.0)] = 4.5  # p50 of {2, 7}
    exact[("one", 410.0)] = 4.0
    for (path, ts), p50 in exact.items():
        if path != "one":
            continue
        lo, hi = got[ts]
        assert lo - 1e-9 <= p50 and (hi is None or p50 <= hi + 1e-9), (
            ts, lo, hi, p50,
        )
    # geometry pin survived the handover
    with pytest.raises(ValueError, match="geometry"):
        TablesTSDB(
            spark, store, histograms=True,
            hist_fine_seconds=10, hist_bin_width=2.0,
        )


def test_span_index_decommission_to_plain_table(spark, tmp_path):
    """VERDICT r13 item 7: a retired span-dedup stream's index can be
    handed to batch ownership — manifests.decommission_manifest_index
    flattens the newest committed manifest into a plain partitioned
    directory; an ordinary spark.read.parquet + the LSM merge
    (groupBy-sum, exactly what the manifest read path does) then serves
    the identical counts, and the manifest protocol is gone."""
    from smalltsdb_spark import manifests
    from smalltsdb_spark.streaming.span_dedup import (
        make_span_dedup_batch_handler,
        read_index,
    )

    index_base, out = str(tmp_path / "idx"), str(tmp_path / "out")
    handle = make_span_dedup_batch_handler(
        spark, index_base, out, "doc_id", "text",
        k=4, min_count=2, n_prefixes=4,
        gc_grace_seconds=0.0, compact_files=2,
    )
    for b in range(4):
        df = spark.createDataFrame(
            [(b, f"x a b c d y{b}")], "doc_id long, text string"
        )
        handle(df, b)
    before = {r.h: r.c for r in read_index(spark, index_base).collect()}

    final = manifests.decommission_manifest_index(index_base)
    assert final is not None
    names = os.listdir(index_base)
    assert not any(manifests.VERSION_RE.match(n) for n in names)
    assert not any(n.startswith("data_b") for n in names)
    after = {
        r.h: r.c
        for r in spark.read.parquet(index_base)
        .groupBy("h")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    assert after == before
