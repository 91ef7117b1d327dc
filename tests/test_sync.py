"""Golden dataset D — simulated-clock incremental sync.

Reference test (tests/test_smalltsdb.py:121-155): the wall clock is
injected, and the tensecond table is asserted after each step.  Pins bucket
finalization timing, the silent-late-row drop, and sync idempotency.
"""

import os
import time

import pytest

from pyspark.sql import functions as F

from smalltsdb_spark.tsdb import TablesTSDB, TwoDatabasesTSDB


def _file_keys(files, schema_names) -> list[tuple]:
    """The ``(path, timestamp[, bin])`` keys of parquet ``files``, read
    with pyarrow (no Spark job, so a job count around a sync is unmoved)."""
    import pyarrow.parquet as pq

    cols = ["path", "timestamp", *(["bin"] if "bin" in schema_names else [])]
    keys = []
    for f in files:
        t = pq.read_table(f, columns=cols)
        keys.extend(zip(*(t[c].to_pylist() for c in cols)))
    return keys


@pytest.fixture(autouse=True)
def appends_never_collide(monkeypatch):
    """Test-only spy on sync's install step, for every test here: the
    keys a manifest append stages are unique and disjoint from the
    table's committed keys — the invariant that lets sync append where
    the reference replaces.  Returns the appended tables' paths."""
    import pyarrow.parquet as pq

    from smalltsdb_spark import manifests, storage

    real = storage.install_staged
    appended = []

    def spy(path, staged, **kw):
        staged_files = manifests.collect_parquets(staged)
        if staged_files:
            committed = storage.read_manifest(path)
            if committed is None:
                committed = storage._live_by_unit(path)
            names = pq.read_schema(staged_files[0]).names
            new = _file_keys(staged_files, names)
            old = _file_keys(
                [os.path.join(path, f) for fs in committed.values() for f in fs],
                names,
            )
            assert len(set(new)) == len(new), f"duplicate staged keys in {path}"
            assert set(new).isdisjoint(old), f"an append to {path} collides"
            appended.append(path)
        return real(path, staged, **kw)

    monkeypatch.setattr(storage, "install_staged", spy)
    return appended


def rows_n(db):
    return [
        (r.path, r.timestamp, r.n)
        for r in db.period_table("tensecond").orderBy("path", "timestamp").collect()
    ]


def _synced_tables(db) -> set[str]:
    """The tables ``db``'s last sync computed rather than skipped: each
    leaves its ``sync.<table>.all`` timing (whichever path, driver or
    Spark, computed it)."""
    return {
        label.split(".")[1]
        for label, _start, _seconds in db.timer.collected
        if label.startswith("sync.") and label.endswith(".all.time") and label.count(".") == 3
    }


@pytest.mark.parametrize(
    "cls,grain",
    [
        (TablesTSDB, "day"),
        (TablesTSDB, "hour"),  # same answers, 24x smaller rewrite unit
        (TwoDatabasesTSDB, "day"),
    ],
)
def test_simulated_clock_sync(cls, grain, spark, tsdb_dir):
    clock = {"now": 0.0}
    db = cls(spark, tsdb_dir, now=lambda: clock["now"], partition_grain=grain)

    # step 1: bucket 0 not final at 69 (needs now >= 0 + 10 + 60)
    db.insert([("one", 1, 1), ("two", 5, 2)])
    clock["now"] = 69.0
    db.sync()
    assert rows_n(db) == []

    # step 2: bucket 0 final at 70
    clock["now"] = 70.0
    db.sync()
    assert rows_n(db) == [("one", 0.0, 1.0), ("two", 0.0, 1.0)]

    # step 3: late row ('one', 2, 5) silently lost — bucket 0 already final
    db.insert([("one", 2, 5), ("one", 12, 1)])
    clock["now"] = 79.0
    db.sync()
    assert rows_n(db) == [("one", 0.0, 1.0), ("two", 0.0, 1.0)]

    # step 4: bucket 10 finalizes at 80
    clock["now"] = 80.0
    db.sync()
    assert rows_n(db) == [("one", 0.0, 1.0), ("one", 10.0, 1.0), ("two", 0.0, 1.0)]

    # step 5: idempotent
    clock["now"] = 90.0
    db.sync()
    assert rows_n(db) == [("one", 0.0, 1.0), ("one", 10.0, 1.0), ("two", 0.0, 1.0)]


def test_hour_grain_layout_and_rewrite_unit(spark, tsdb_dir):
    """partition_grain='hour' must (a) lay incoming/aggregate partitions
    out as pday=floor(ts/3600), so (b) an upsert touching one hour leaves
    every other hour's partition directory untouched — the 24x rewrite-
    amplification fix (VERDICT r5 item 4 / r6 missing #2)."""
    import os

    clock = {"now": 0.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"], partition_grain="hour")
    # two datapoints 3 hours apart
    db.insert([("m", 100.0, 1.0), ("m", 3 * 3600.0 + 5.0, 2.0)])
    clock["now"] = 4 * 3600.0
    db.sync()
    inc_parts = sorted(
        d for d in os.listdir(db.incoming_path) if d.startswith("pday=")
    )
    assert inc_parts == ["pday=0", "pday=3"]  # hour units, not day 0
    agg_dir = db._period_path("tensecond")
    agg_parts = sorted(d for d in os.listdir(agg_dir) if d.startswith("pday="))
    assert agg_parts == ["pday=0", "pday=3"]

    # record partition mtimes, then sync new data touching ONLY hour 4
    before = {d: os.stat(os.path.join(agg_dir, d)).st_mtime_ns for d in agg_parts}
    db.insert([("m", 4 * 3600.0 + 50.0, 3.0)])
    clock["now"] = 5 * 3600.0
    db.sync()
    after_parts = sorted(d for d in os.listdir(agg_dir) if d.startswith("pday="))
    assert "pday=4" in after_parts
    for d, mtime in before.items():
        assert os.stat(os.path.join(agg_dir, d)).st_mtime_ns == mtime, (
            f"{d} was rewritten by an upsert that only touched hour 4"
        )


def test_grain_mismatch_is_a_hard_error(spark, tsdb_dir):
    """Re-opening a store with a different grain must fail eagerly: the
    pday values on disk mean floor(ts/old_grain), and a writer using the
    new grain would silently interleave incompatible partitions."""
    clock = {"now": 0.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"], partition_grain="hour")
    db.insert([("m", 1.0, 1.0)])  # first write pins the marker
    with pytest.raises(ValueError, match="partition grain"):
        TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])  # default 'day'
    with pytest.raises(ValueError, match="unknown partition_grain"):
        TablesTSDB(spark, tsdb_dir, partition_grain="week")


def test_sync_results_are_grain_invariant(spark, tmp_path):
    """The partition grain is STORAGE layout only: the same inserts
    synced at day grain and at hour grain must produce identical period
    tables and identical surviving incoming rows — over a dataset that
    straddles hour AND day boundaries (where a grain-dependent bug in
    upsert pruning or boundary retention would show)."""
    pts = [
        # same path in multiple hours of one day + a second day,
        # plus a second path to exercise per-path HWMs
        ("a", 10.0, 1.0), ("a", 3_605.0, 2.0), ("a", 7_210.0, 3.0),
        ("a", 86_400.0 + 15.0, 4.0),
        ("b", 3_599.0, 5.0), ("b", 86_400.0 + 3_601.0, 6.0),
    ]
    now = 3 * 86_400.0  # everything final; retention cutoff active
    results = {}
    for grain in ("day", "hour"):
        d = str(tmp_path / grain)
        db = TablesTSDB(spark, d, now=lambda: now, partition_grain=grain)
        db.insert(pts)
        db.sync()
        db.sync()  # idempotency at both grains
        results[grain] = {
            period: sorted(
                (r.path, r.timestamp, r.n, r.min, r.max, r.avg, r.sum)
                for r in db.period_table(period).collect()
            )
            for period, _ in db.periods
        } | {
            "_incoming": sorted(
                (r.path, r.timestamp, r.value) for r in db.incoming().collect()
            )
        }
    assert results["day"] == results["hour"]


def test_legacy_unmarked_store_refuses_new_grain(spark, tsdb_dir):
    """A store with pre-marker day-grain partitions (created before the
    grain marker existed) must refuse an hour-grain open at write time:
    its pday values mean floor(ts/86400), and reinterpreting them as
    hours would misplace reads and mass-delete data at retention."""
    import os

    clock = {"now": 0.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert([("m", 1.0, 1.0)])
    os.remove(os.path.join(tsdb_dir, "_partition_grain"))  # simulate legacy
    legacy_as_hour = TablesTSDB(
        spark, tsdb_dir, now=lambda: clock["now"], partition_grain="hour"
    )  # open succeeds (no marker to check) ...
    with pytest.raises(ValueError, match="pre-marker"):
        legacy_as_hour.insert([("m", 2.0, 1.0)])  # ... first write refuses
    # day grain may still be pinned onto the legacy layout
    TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"]).insert([("m", 2.0, 1.0)])


def test_read_grain_reports_pinned_value(spark, tsdb_dir):
    """External writers (daemon ingest/rollup, cli stream) read the
    store's grain through storage.read_grain so they cannot write
    mismatched partition values into an hour-grain store."""
    from smalltsdb_spark.storage import read_grain

    assert read_grain(tsdb_dir) == 86400  # unmarked -> default day
    clock = {"now": 0.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"], partition_grain="hour")
    db.insert([("m", 1.0, 1.0)])
    assert read_grain(tsdb_dir) == 3600


def test_retention_drops_old_partitions(spark, tsdb_dir):
    clock = {"now": 0.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    old_ts = 100.0  # day 0
    new_ts = 10 * 86400.0 + 5  # day 10
    db.insert([("m", old_ts, 1.0), ("m", new_ts, 2.0)])
    clock["now"] = new_ts + 100
    db.sync()
    # cutoff = now - 60 - 86400 is far past old_ts -> day-0 partition dropped
    remaining = [(r.path, r.timestamp) for r in db.incoming().collect()]
    assert remaining == [("m", new_ts)]
    # but the old bucket was finalized before deletion
    assert ("m", 0.0 + (old_ts // 10) * 10) in [
        (r.path, r.timestamp) for r in db.period_table("tensecond").collect()
    ]


def test_overwrite_partitions_swaps_atomically(spark, tmp_path):
    """A reader concurrent with repeated partition overwrites must never
    see a partition mixing old and new files: every row batch carries one
    marker value, so a mixed snapshot would surface two values at once.
    Transient read failures (the dir-absent blink between the two renames)
    are retried; only successful reads are asserted."""
    import threading

    from smalltsdb_spark import storage

    path = str(tmp_path / "t")
    n_rows = 200

    def batch(marker: float):
        return spark.createDataFrame(
            [("p", float(i), marker) for i in range(n_rows)],
            "path string, timestamp double, value double",
        )

    storage.overwrite_partitions(batch(0.0), path)

    seen_mixed = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                vals = {
                    r.value
                    for r in spark.read.parquet(path).select("value").collect()
                }
            except Exception:
                continue  # dir-absent blink or listing race: retry
            if len(vals) > 1:
                seen_mixed.append(vals)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(1, 6):
            storage.overwrite_partitions(batch(float(i)), path)
    finally:
        stop.set()
        t.join()
    assert not seen_mixed, f"reader saw mixed partition states: {seen_mixed}"
    # final state is the last batch, exactly once
    final = spark.read.parquet(path).select("value").distinct().collect()
    assert [r.value for r in final] == [5.0]
    # no staging/old debris visible to readers
    import os as _os

    leftovers = [n for n in _os.listdir(str(tmp_path)) if "staging" in n]
    assert leftovers == []


def test_compact_preserves_rows(spark, tmp_path):
    """compact() coalesces fragmented partitions to one file each and
    preserves the row multiset exactly — incoming fragmented by repeated
    inserts, a period table fragmented by append-mode (streaming rollup)
    writes."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA

    base = str(tmp_path / "db")
    db = TablesTSDB(spark, base, now=lambda: 0.0)
    # 3 inserts × 2 days → every pday dir holds 3 files
    for i in range(3):
        db.insert([(f"m.{i}", 10.0 * i, 1.0), (f"m.{i}", 86400.0 + i, 2.0)])
    counts = storage.partition_file_counts(db.incoming_path)
    assert sorted(counts) == [0, 1] and all(n == 3 for n in counts.values())
    before = sorted(map(tuple, db.incoming().collect()))

    # fragment a period table the way streaming rollups do: append mode
    agg_rows = [("m.0", 0.0) + (1.0,) * 8, ("m.1", 86400.0) + (2.0,) * 8]
    onehour = db._period_path("onehour")
    for _ in range(2):
        storage.append(
            spark.createDataFrame(agg_rows, AGG_SCHEMA), onehour, db.grain_seconds
        )
    assert all(n == 2 for n in storage.partition_file_counts(onehour).values())
    agg_before = sorted(map(tuple, db.period_table("onehour").collect()))

    done = db.compact()
    assert done["incoming"] == [0, 1]
    assert done["onehour"] == [0, 1]
    assert all(
        n == 1 for n in storage.partition_file_counts(db.incoming_path).values()
    )
    assert all(n == 1 for n in storage.partition_file_counts(onehour).values())
    assert sorted(map(tuple, db.incoming().collect())) == before
    assert sorted(map(tuple, db.period_table("onehour").collect())) == agg_before
    # already-compact store: a second pass is a no-op (nothing rewritten)
    again = db.compact()
    assert set(again) == {"incoming"} | {n for n, _ in db.periods}
    assert all(v == [] for v in again.values())


def test_pin_grain_from_many_threads_keeps_one_marker(tmp_path):
    """pin_grain from many threads of one process must not lose the
    marker: the tmp name is per-writer (pid+uuid), so no thread can
    os.replace another's tmp file away mid-write."""
    import threading

    from smalltsdb_spark import storage

    root = str(tmp_path / "store")
    errors = []

    def pin():
        try:
            for _ in range(20):
                storage.pin_grain(root, 86400)
        except Exception as e:  # pragma: no cover - failure diagnostics
            errors.append(e)

    threads = [threading.Thread(target=pin) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not [t for t in threads if t.is_alive()]
    assert not errors
    assert storage.read_grain(root) == 86400
    # no stranded tmp files from a lost rename race
    assert [f for f in os.listdir(root) if ".tmp-" in f] == []


def test_an_insert_landing_during_compaction_survives(spark, tmp_path, monkeypatch):
    """Compaction takes out exactly the files its read resolved: an
    insert that lands in the fragmented partition after compaction's
    staged write, just before its commit, keeps its file (a swap of the
    whole partition directory deleted it), and every row is present
    exactly once.  The partition is small, so compaction runs on the
    driver."""
    _an_insert_lands_during_compaction(spark, tmp_path, monkeypatch)


def test_an_insert_landing_during_a_spark_compaction_survives(
    spark, tmp_path, monkeypatch
):
    """:func:`test_an_insert_landing_during_compaction_survives` with
    compaction on its Spark path (``_DRIVER_ROWS`` = 0)."""
    from smalltsdb_spark import storage

    monkeypatch.setattr(storage, "_DRIVER_ROWS", 0)
    _an_insert_lands_during_compaction(spark, tmp_path, monkeypatch)


def _an_insert_lands_during_compaction(spark, tmp_path, monkeypatch):
    import collections

    from smalltsdb_spark import storage

    db = TablesTSDB(spark, str(tmp_path / "db"), now=lambda: 0.0)
    earlier = [(f"m.{i}", 10.0 * i, 1.0) for i in range(3)]
    for row in earlier:
        db.insert([row])
    late = ("late", 30.0, 3.0)
    real = storage._commit

    def land_then_commit(*args, **kwargs):
        monkeypatch.setattr(storage, "_commit", real)
        db.insert([late])
        return real(*args, **kwargs)

    monkeypatch.setattr(storage, "_commit", land_then_commit)
    assert db.compact()["incoming"] == [0]
    assert storage._commit is real  # the commit of compaction's rewrite ran
    rows = collections.Counter(map(tuple, db.incoming().collect()))
    assert rows == collections.Counter([*earlier, late])
    assert storage.partition_file_counts(db.incoming_path) == {0: 2}


def test_compacting_an_adopted_spark_written_table_leaves_no_sidecar(spark, tmp_path):
    """A Spark-written listing table (a period table from before
    manifests, or one handed back by ``decommission_streaming_sink``)
    adopts its files as its first manifest; once compaction retires
    them, the next commit's GC removes each with its Hadoop ``.crc``
    sidecar."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA

    path = str(tmp_path / "t")

    def agg_rows(ts_values):
        return spark.createDataFrame(
            [("p", ts, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0) for ts in ts_values],
            AGG_SCHEMA,
        )

    for ts in (5.0, 15.0):  # two Spark appends: two files in pday=0
        storage.with_pday(agg_rows([ts])).write.partitionBy(
            storage.PARTITION_COLUMN
        ).mode("append").parquet(path)
    pdir = os.path.join(path, "pday=0")
    assert len([f for f in os.listdir(pdir) if f.endswith(".crc")]) == 2
    storage.upsert(agg_rows([DAY + 5.0]), path, AGG_SCHEMA)  # adopts the listing
    assert storage.compact_partitions(spark, path, AGG_SCHEMA) == [0]
    storage.upsert(agg_rows([DAY + 15.0]), path, AGG_SCHEMA)  # GCs the retired files
    assert _sidecars_without_files(path) == []
    assert [f for f in os.listdir(pdir) if f.endswith(".crc")] == []
    assert sorted(r.timestamp for r in storage.read_table(spark, path, AGG_SCHEMA).collect()) == [
        5.0, 15.0, DAY + 5.0, DAY + 15.0
    ]


# ---------------------------------------------------------------------------
# Manifest commit protocol (VERDICT r7 "What's missing" #1)
# ---------------------------------------------------------------------------


def _all_rows(db, period="tensecond"):
    return sorted(
        (r.path, r.timestamp, r.n, r.sum)
        for r in db.period_table(period).collect()
    )


def _on_disk_parquet(path):
    out = set()
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.update(
            os.path.relpath(os.path.join(root, f), path)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def test_sync_killed_mid_write_keeps_readers_on_old_snapshot(
    spark, tsdb_dir, monkeypatch
):
    """The crash-injection test of the r8 verdict: kill the sync between
    partition installs -> readers see the OLD whole-table snapshot (no
    mixed old/new partitions) and the failed sync leaves no cached RDD
    and no sync record behind; the next sync runs, garbage-collects the
    debris and completes with exactly the rows a never-crashed store
    has."""
    from smalltsdb_spark import storage

    day = 86400.0
    clock = {"now": 4 * day}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    # three day-partitions of finalized data
    points = [(f"m{i}", i * day + 5.0, float(v)) for i in range(3) for v in (1, 2)]
    db.insert(points)
    db.sync()
    v1 = _all_rows(db)
    assert len(v1) == 3  # one final tensecond bucket per day
    manifest_path = os.path.join(tsdb_dir, "tensecond", storage.MANIFEST)
    assert os.path.isfile(manifest_path), "period tables are manifest-committed"

    # second wave touches ALL THREE existing partitions (late-ish rows in
    # each day's next bucket) so the crashed upsert spans partitions
    late = [(f"m{i}", i * day + 15.0, 9.0) for i in range(3)]
    db.insert(late)
    clock["now"] = 5 * day

    real_install = storage._install_staged_partition
    calls = {"n": 0}
    installed_during_crash = []
    tensecond = os.path.join(tsdb_dir, "tensecond") + os.sep

    def exploding_install(staged_dir, dest_dir):
        # only the tensecond table's installs count and explode, so the
        # periods' concurrent workers cannot change which install fails
        if not dest_dir.startswith(tensecond):
            return real_install(staged_dir, dest_dir)
        calls["n"] += 1
        if calls["n"] >= 2:
            raise OSError("injected crash between partition installs")
        moved = real_install(staged_dir, dest_dir)
        installed_during_crash.extend(os.path.join(dest_dir, f) for f in moved)
        return moved

    jsc = spark.sparkContext._jsc
    persisted_before = set(jsc.getPersistentRDDs().keys())
    synced = db._synced
    monkeypatch.setattr(storage, "_install_staged_partition", exploding_install)
    with pytest.raises(OSError, match="injected crash"):
        db.sync()
    monkeypatch.undo()
    assert db._synced is synced, "a failed sync records nothing"

    # the failed upsert released its cache (the session is shared across
    # tests, so compare with the ids persisted before, not with zero)
    assert set(jsc.getPersistentRDDs().keys()) <= persisted_before
    assert calls["n"] >= 2, "the crash fired between partition installs"
    assert installed_during_crash, "some new files were already on disk"
    # READERS: the old manifest still resolves — exactly the v1 snapshot,
    # even though partition dirs contain half-installed new files
    assert _all_rows(db) == v1
    fresh_reader = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    assert _all_rows(fresh_reader) == v1

    # RECOVERY: the next sync runs and completes; results match a store
    # that never crashed, and the crashed attempt's debris is GC'd
    db.sync()
    assert _synced_tables(db)
    recovered = _all_rows(db)
    assert recovered != v1 and len(recovered) == 6
    for f in installed_during_crash:
        assert not os.path.exists(f), f"crash debris survived GC: {f}"

    import shutil
    import tempfile

    clean_dir = tempfile.mkdtemp(prefix="tsdb-clean-")
    try:
        clock2 = {"now": 4 * day}
        clean = TablesTSDB(spark, clean_dir, now=lambda: clock2["now"])
        clean.insert(points)
        clean.sync()
        clean.insert(late)
        clock2["now"] = 5 * day
        clean.sync()
        assert recovered == _all_rows(clean)
    finally:
        shutil.rmtree(clean_dir, ignore_errors=True)


def test_manifest_readers_ignore_staged_and_unmanifested_files(spark, tsdb_dir):
    """Files on disk but not in the manifest (a writer's staged moves,
    crash debris) are invisible; the manifest is the source of truth."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA

    clock = {"now": 86400.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert([("a", 5.0, 1.0)])
    db.sync()
    table = os.path.join(tsdb_dir, "tensecond")
    before = _all_rows(db)
    # smuggle an alien parquet file (a copy of the live one — real rows,
    # real footer) into a live partition dir, bypassing the manifest
    import glob

    pdir = glob.glob(os.path.join(table, "pday=*"))[0]
    live = glob.glob(os.path.join(pdir, "*.parquet"))[0]
    import shutil as _sh

    _sh.copy(live, os.path.join(pdir, "part-alien.parquet"))
    # directory listing now has 2 files; manifest still lists 1
    assert _all_rows(db) == before
    assert storage.partition_file_counts(table) == {
        u: 1 for u in storage.partition_file_counts(table)
    }


def test_legacy_dirswap_store_upgrades_to_manifest_seamlessly(spark, tsdb_dir):
    """A listing-only period table (a pre-r8 store, or one handed back by
    decommission) adopts its directory listing as the first manifest on
    the next sync; nothing is lost, later reads resolve the manifest."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA

    day = 86400.0
    clock = {"now": day}
    table = os.path.join(tsdb_dir, "tensecond")
    storage.append(
        spark.createDataFrame(
            [("a", 0.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)], AGG_SCHEMA
        ),
        table,
    )
    assert storage.read_manifest(table) is None
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    v1 = _all_rows(db)
    assert v1 == [("a", 0.0, 1.0, 1.0)]  # readable before any manifest exists
    db.insert([("a", day + 5.0, 2.0)])
    clock["now"] = 2 * day
    db.sync()
    assert os.path.isfile(os.path.join(table, storage.MANIFEST))
    rows = _all_rows(db)
    assert rows[0] == v1[0] and len(rows) == 2  # old day adopted + new day
    manifest = storage.read_manifest(table)
    assert _on_disk_parquet(table) >= {
        f for fs in manifest.values() for f in fs
    }


def test_manifest_gc_grace_window_for_inflight_readers(spark, tsdb_dir):
    """SCALE.md's promise, pinned (VERDICT r8 item 4): an in-flight reader
    that resolved the manifest keeps a working snapshot for one full sync
    cycle after its files are replaced — the replacing sync does NOT
    delete them (it only GCs the PREVIOUS generation); the sync after
    that reclaims them."""
    from smalltsdb_spark import storage

    day = 86400.0
    clock = {"now": day}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert([("m", 5.0, 1.0)])
    db.sync()
    table = os.path.join(tsdb_dir, "tensecond")
    v1_files = {
        f for fs in storage.read_manifest(table).values() for f in fs
    }
    assert v1_files

    # the in-flight reader: plan (and pin the file listing of) a query
    # against the v1 snapshot, but do not collect it yet
    inflight = db.period_table("tensecond").select("path", "timestamp", "n")
    inflight_rows = None

    # sync #2 replaces the day-0 partition (late row in the same bucket's
    # partition) -> v1 files leave the manifest but MUST stay on disk
    db.insert([("m", 15.0, 2.0)])
    clock["now"] = 2 * day
    db.sync()
    assert _on_disk_parquet(table) >= v1_files, (
        "replaced files must survive the replacing sync (grace window)"
    )
    # the already-planned DataFrame still collects correctly from v1
    inflight_rows = sorted((r.path, r.timestamp, r.n) for r in inflight.collect())
    assert inflight_rows == [("m", 0.0, 1.0)]

    # sync #3 (the NEXT mutation) reclaims the v1 generation
    db.insert([("m", day + 5.0, 3.0)])
    clock["now"] = 3 * day
    db.sync()
    on_disk = _on_disk_parquet(table)
    assert not (on_disk & v1_files), f"v1 files survived GC: {on_disk & v1_files}"


def test_retention_drop_defers_physical_deletion_on_manifest_tables(
    spark, tmp_path
):
    """ADVICE r8 storage.py item: drop_partitions_below on a manifest
    table must swap the manifest immediately but leave the doomed files
    for the next mutation's GC — same one-cycle grace as overwrites."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA

    path = str(tmp_path / "t")
    day = 86400.0

    def agg_rows(ts_values):
        return spark.createDataFrame(
            [("p", ts, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0) for ts in ts_values],
            AGG_SCHEMA,
        )

    storage.overwrite_partitions(agg_rows([5.0, day + 5.0]), path, manifest=True)
    doomed_files = {
        f
        for u, fs in storage.read_manifest(path).items()
        if u == 0
        for f in fs
    }
    assert doomed_files

    dropped = storage.drop_partitions_below(path, day)
    assert dropped == ["pday=0"]
    # manifest no longer resolves day 0 ...
    assert 0 not in storage.read_manifest(path)
    reader = storage.read_table(spark, path, AGG_SCHEMA)
    assert [r.timestamp for r in reader.collect()] == [day + 5.0]
    # ... but the files are still on disk (reader grace window)
    assert _on_disk_parquet(path) >= doomed_files
    # the next mutation's GC reclaims them
    storage.overwrite_partitions(agg_rows([2 * day + 5.0]), path)
    assert not (_on_disk_parquet(path) & doomed_files)


def test_gc_min_age_keeps_young_unmanifested_files(spark, tmp_path):
    """The per-trigger streaming upsert's grace mechanism: unmanifested
    files younger than min_age_seconds survive the GC; older ones go."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA

    path = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [("p", 5.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)], AGG_SCHEMA
    )
    storage.overwrite_partitions(rows, path, manifest=True)
    manifest = storage.read_manifest(path)
    live = {f for fs in manifest.values() for f in fs}
    pdir = os.path.join(path, "pday=0")
    young = os.path.join(pdir, "part-young.parquet")
    old = os.path.join(pdir, "part-old.parquet")
    src = os.path.join(path, next(iter(live)))
    import shutil as _sh

    _sh.copy(src, young)
    _sh.copy(src, old)
    os.utime(old, (0.0, 0.0))  # epoch mtime: ancient
    removed = storage._gc_unmanifested(path, manifest, min_age_seconds=300.0)
    assert removed == [os.path.join("pday=0", "part-old.parquet")]
    assert os.path.exists(young)
    # ungated GC (the batch-sync path) reclaims the young file too
    removed = storage._gc_unmanifested(path, manifest)
    assert removed == [os.path.join("pday=0", "part-young.parquet")]
    assert {os.path.join(path, f) for fs in manifest.values() for f in fs} == {
        os.path.join(path, f) for f in live
    }


def test_gc_min_age_gates_on_retirement_not_write_age(spark, tmp_path):
    """ADVICE r9 (medium): a file ALREADY older than min_age when it is
    retired must still get the full grace window — manifest commits
    re-touch the files they retire, so the mtime gate measures
    retirement age, not write age.  Covers both retirement points:
    partition overwrite and deferred retention drop."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA

    def agg_rows(ts_values):
        return spark.createDataFrame(
            [("p", ts, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0) for ts in ts_values],
            AGG_SCHEMA,
        )

    day = 86400.0
    # --- overwrite retirement ---
    path = str(tmp_path / "t1")
    storage.overwrite_partitions(agg_rows([5.0]), path, manifest=True)
    old_live = {f for fs in storage.read_manifest(path).values() for f in fs}
    for f in old_live:
        os.utime(os.path.join(path, f), (0.0, 0.0))  # ancient write age
    storage.overwrite_partitions(agg_rows([7.0]), path)  # retires old_live
    survivors = storage._gc_unmanifested(
        path, storage.read_manifest(path), min_age_seconds=300.0
    )
    assert survivors == []  # retirement was seconds ago: full grace kept
    assert {f for f in old_live if os.path.exists(os.path.join(path, f))} == old_live
    removed = storage._gc_unmanifested(path, storage.read_manifest(path))
    assert set(removed) == old_live  # ungated GC still reclaims

    # --- deferred retention-drop retirement ---
    path2 = str(tmp_path / "t2")
    storage.overwrite_partitions(
        agg_rows([5.0, day + 5.0]), path2, manifest=True
    )
    doomed = {
        f for u, fs in storage.read_manifest(path2).items() if u == 0 for f in fs
    }
    for f in doomed:
        os.utime(os.path.join(path2, f), (0.0, 0.0))
    storage.drop_partitions_below(path2, day)
    survivors = storage._gc_unmanifested(
        path2, storage.read_manifest(path2), min_age_seconds=300.0
    )
    assert survivors == []
    assert all(os.path.exists(os.path.join(path2, f)) for f in doomed)


def test_append_runs_deferred_gc_on_manifest_tables(spark, tmp_path):
    """ADVICE r9: append() is a manifest mutation, so it must run the
    deferred GC — an append+retention-drop-only workload previously
    never reclaimed dropped files (unbounded disk growth)."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA

    def agg_rows(ts_values):
        return spark.createDataFrame(
            [("p", ts, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0) for ts in ts_values],
            AGG_SCHEMA,
        )

    day = 86400.0
    path = str(tmp_path / "t")
    storage.overwrite_partitions(agg_rows([5.0, day + 5.0]), path, manifest=True)
    doomed = {
        f for u, fs in storage.read_manifest(path).items() if u == 0 for f in fs
    }
    storage.drop_partitions_below(path, day)
    assert all(os.path.exists(os.path.join(path, f)) for f in doomed)  # deferred
    storage.append(agg_rows([2 * day + 5.0]), path)
    assert not any(os.path.exists(os.path.join(path, f)) for f in doomed)
    # the append itself landed and the table reads whole
    reader = storage.read_table(spark, path, AGG_SCHEMA)
    assert sorted(r.timestamp for r in reader.collect()) == [day + 5.0, 2 * day + 5.0]


def test_get_metric_include_partial_serves_open_buckets(spark, tsdb_dir):
    """VERDICT r8 item 7: get_metric(include_partial=True) returns the
    open (not-yet-final) buckets alongside the synced finals — the
    ViewTSDB-parity behavior for open windows, simulated-clock golden."""
    from smalltsdb_spark.tsdb import ViewTSDB

    clock = {"now": 0.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert([("one", 1, 1.0), ("one", 12, 2.0), ("one", 22, 4.0),
               ("one", 24, 6.0), ("two", 23, 9.0)])
    clock["now"] = 80.0  # finality cut = floor((80-60)/10)*10 = 20
    db.sync()

    final = db.get_metric("one", "tensecond", "avg", (0, 100))
    assert final == [(0.0, 1.0), (10.0, 2.0)]  # bucket 20 still open

    with_partial = db.get_metric(
        "one", "tensecond", "avg", (0, 100), include_partial=True
    )
    assert with_partial == [(0.0, 1.0), (10.0, 2.0), (20.0, 5.0)]
    # n is served too, and the other path's open bucket stays separate
    assert db.get_metric(
        "two", "tensecond", "n", (0, 100), include_partial=True
    ) == [(20.0, 1.0)]

    # ViewTSDB parity: a view over the same storage returns the same
    # rows a partial-inclusive TablesTSDB read does
    view = ViewTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    assert with_partial == view.get_metric("one", "tensecond", "avg", (0, 100))
    # ... and on ViewTSDB the flag is an accepted no-op
    assert with_partial == view.get_metric(
        "one", "tensecond", "avg", (0, 100), include_partial=True
    )

    # interval/limit/offset compose with partials
    assert db.get_metric(
        "one", "tensecond", "avg", (15, 100), include_partial=True
    ) == [(20.0, 5.0)]
    assert db.get_metric(
        "one", "tensecond", "avg", (0, 100), include_partial=True, limit=2,
        offset=1,
    ) == [(10.0, 2.0), (20.0, 5.0)]

    # once the clock passes the bucket's finality, sync materializes it
    # and the partial read CONVERGES to the final read (same values)
    clock["now"] = 100.0
    db.sync()
    assert db.get_metric("one", "tensecond", "avg", (0, 100)) == with_partial
    assert db.get_metric(
        "one", "tensecond", "avg", (0, 100), include_partial=True
    ) == with_partial


def test_histogram_table_synced_incrementally_and_bounds_survive_retention(
    spark, tsdb_dir
):
    """Persisted fine histogram (r11 — histograms=True): sync maintains a
    (path, fine bucket, bin, n) table at the finest period under the
    same HWM/finality discipline as the period tables; late syncs only
    append NEW final buckets; re-sync is a no-op; and because the
    relation is materialized, get_metric_bounds keeps serving provable
    percentile bounds AFTER incoming retention has deleted every raw
    row — the property the on-the-fly path cannot have."""
    clock = {"now": 500.0}
    db = TablesTSDB(
        spark,
        tsdb_dir,
        periods=[("tensecond", 10), ("onehour", 3600)],
        now=lambda: clock["now"],
        histograms=True,
        hist_fine_seconds=10,  # pin the fine grain this test asserts on
    )
    db.insert(
        [("m", float(10 * i), v)
         for i, v in enumerate([10.0, 60.0, 110.0, 260.0, 510.0])]
    )
    db.sync()

    def hist():
        return {
            (r.path, r.timestamp, r.bin): r.n
            for r in db._histogram_table().collect()
        }

    first = {
        ("m", 0.0, 0): 1, ("m", 10.0, 1): 1, ("m", 20.0, 2): 1,
        ("m", 30.0, 5): 1, ("m", 40.0, 10): 1,
    }
    assert hist() == first

    # incremental advance: a later row lands as ONE new bucket (bin
    # clamped at 19); earlier buckets are not rewritten; re-sync no-op
    db.insert([("m", 100.0, 1000.0)])
    clock["now"] = 1000.0
    db.sync()
    assert hist() == {**first, ("m", 100.0, 19): 1}
    db.sync()
    assert hist() == {**first, ("m", 100.0, 19): 1}

    # incoming retention wipes the raw rows; bounds still serve from the
    # persisted table (merged to the hour): p90 of 6 values has ranks
    # floor(.9*5)+1=5 -> bin 10 and ceil(.9*5)+1=6 -> clamp bin -> hi None
    clock["now"] = 4 * 3600.0
    db.sync()
    assert db.incoming().count() == 0
    assert db.get_metric_bounds("m", "onehour", "p90", (0, 7200)) == [
        (0.0, 500.0, None)
    ]
    # p50 of 6 values: ranks floor(.5*5)+1=3 -> bin 2 and ceil(.5*5)+1=4
    # -> bin 5, so [100, 300) brackets the exact 185.0
    assert db.get_metric_bounds("m", "onehour", "p50", (0, 7200)) == [
        (0.0, 100.0, 300.0)
    ]


def test_histogram_fine_seconds_default_geometry(spark, tsdb_dir):
    """hist_fine_seconds (VERDICT r11 item 2): the persisted histogram
    is decoupled from the store's finest period — default 60 s buckets
    even when the finest period is 10 s (at a 1 s finest period a
    finest-grain histogram is ≈ raw-sized, defeating the cascade
    economics at 100 TB).  Bounds serve any period divisible by the
    fine grain; others raise the divisibility ValueError."""
    import pytest

    db = TablesTSDB(
        spark,
        tsdb_dir,
        periods=[("tensecond", 10), ("onehour", 3600)],
        now=lambda: 1e9,
        histograms=True,
    )
    # rows spread across two 60 s fine buckets of one hour bucket
    db.insert([("m", float(t), v) for t, v in
               [(0, 10.0), (30, 60.0), (61, 110.0), (90, 260.0), (119, 510.0)]])
    db.sync()
    hist = {
        (r.timestamp, r.bin): r.n for r in db._histogram_table().collect()
    }
    # 60 s buckets: t in [0,60) -> 0.0, t in [60,120) -> 60.0
    assert hist == {
        (0.0, 0): 1, (0.0, 1): 1, (60.0, 2): 1, (60.0, 5): 1, (60.0, 10): 1,
    }
    # the persisted relation has 2 bucket keys vs 5 at the finest grain
    # — the compression the knob exists for — and bounds still serve
    # the hour with the exact same containment values
    assert db.get_metric_bounds("m", "onehour", "p90", (0, 7200)) == [
        (0.0, 250.0, 550.0)
    ]
    # tensecond (10 s) is not divisible by the 60 s fine grain
    with pytest.raises(ValueError, match="not a multiple"):
        db.get_metric_bounds("m", "tensecond", "p90", (0, 7200))


def test_histogram_fine_seconds_validation(spark, tsdb_dir):
    """Config validation: non-positive fine grain refuses; a fine grain
    dividing NO configured period refuses at open (the histogram could
    serve bounds for nothing)."""
    import pytest

    with pytest.raises(ValueError, match="positive integer"):
        TablesTSDB(spark, tsdb_dir, hist_fine_seconds=0)
    with pytest.raises(ValueError, match="divides none"):
        TablesTSDB(
            spark,
            tsdb_dir,
            periods=[("tensecond", 10)],
            histograms=True,
            hist_fine_seconds=7,
        )
    # without histograms=True the knob is inert config — no divisibility
    # requirement (the on-the-fly path falls back to the queried period)
    TablesTSDB(spark, tsdb_dir, periods=[("tensecond", 10)], hist_fine_seconds=7)


def test_histogram_geometry_pinned_on_disk(spark, tsdb_dir):
    """The histogram geometry (bin width, clamp bin, fine seconds) is
    fixed at store creation: the first histogram write pins a marker,
    and reopening with ANY different geometry fails eagerly at open —
    a mixed-geometry histogram would merge garbage (bucket-keyed
    replacement would interleave two bucket widths)."""
    import pytest

    clock = {"now": 1e9}
    db = TablesTSDB(
        spark, tsdb_dir, now=lambda: clock["now"], histograms=True
    )
    db.insert([("m", 0.0, 10.0)])
    db.sync()
    # same geometry reopens fine
    TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"], histograms=True)
    for kw in (
        {"hist_fine_seconds": 30},
        {"hist_bin_width": 25.0},
        {"hist_clamp_bin": 9},
    ):
        with pytest.raises(ValueError, match="geometry"):
            TablesTSDB(
                spark, tsdb_dir, now=lambda: clock["now"], histograms=True, **kw
            )


def test_bounds_with_include_partial_raises(spark, tsdb_dir):
    """ADVICE r11: bounds=True serves final histogram buckets only, so
    combining it with include_partial=True raises instead of silently
    dropping the open buckets the caller asked for."""
    import pytest

    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1e9, histograms=True)
    db.insert([("m", 0.0, 10.0)])
    db.sync()
    with pytest.raises(ValueError, match="final histogram buckets only"):
        db.get_metric(
            "m", "onehour", "p90", (0, 7200), bounds=True, include_partial=True
        )


def test_histograms_enabled_late_warns_about_missing_history(spark, tsdb_dir):
    """ADVICE r11: enabling histograms=True on a pre-existing store
    starts the histogram HWM from scratch while incoming retention may
    already have dropped old raw rows — sync warns that historical
    buckets will be absent from bounds reads (rows missing, not
    wrong)."""
    import warnings

    clock = {"now": 500.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert([("m", 0.0, 10.0)])
    db.sync()
    db2 = TablesTSDB(
        spark, tsdb_dir, now=lambda: clock["now"], histograms=True
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        db2.sync()
    assert sum("histogram table is empty" in str(x.message) for x in w) == 1
    # the sync that pinned the histogram's geometry warned; later syncs,
    # on this handle or a fresh one, stay quiet
    clock["now"] += 60.0
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        db2.sync()
        TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"], histograms=True).sync()
    assert not any("histogram table is empty" in str(x.message) for x in w)


def test_concurrent_sync_propagates_worker_failure(
    spark, tsdb_dir, monkeypatch
):
    """r12: sync must re-raise a failed table commit instead of leaving
    the period silently stale while sync reports success.  Retention
    must not run under a failed aggregate (raw rows would be deleted
    before ever being aggregated)."""
    from smalltsdb_spark import storage

    clock = {"now": 100.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert([("m", 1.0, 1.0)])

    real = storage.install_staged
    def exploding(*a, **kw):
        raise OSError("injected worker failure")

    monkeypatch.setattr(storage, "install_staged", exploding)
    with pytest.raises(OSError, match="injected worker failure"):
        db.sync()
    monkeypatch.setattr(storage, "install_staged", real)
    # the raw row survived (retention skipped) and a retry completes
    assert db.incoming().count() == 1
    db.sync()
    assert db.get_metric("m", "tensecond", "n", (0, 100)) == [(0.0, 1.0)]


def test_read_table_tags_known_empty_and_exposes_partition_col(spark, tmp_path):
    """The upsert fast path (r14): a read of an absent/empty table is
    tagged ``_smalltsdb_empty_relation`` so the upsert can skip the
    anti-join outright, and ``with_partition_col=True`` keeps ``pday``
    in the result so replaced-day reads can filter on the PARTITION
    column (file-index pruning) instead of ``floor(timestamp/grain)``
    (a data column, which scans every file)."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA, INCOMING_SCHEMA

    absent = str(tmp_path / "absent")
    df = storage.read_table(spark, absent, AGG_SCHEMA)
    assert getattr(df, "_smalltsdb_empty_relation", False)
    assert df.columns == [f.name for f in AGG_SCHEMA.fields]
    dfp = storage.read_table(spark, absent, AGG_SCHEMA, with_partition_col=True)
    assert getattr(dfp, "_smalltsdb_empty_relation", False)
    assert dfp.columns[-1] == storage.PARTITION_COLUMN

    # a real table: the tag is absent and pday is readable + filterable
    real = str(tmp_path / "real")
    rows = spark.createDataFrame(
        [("a", 10.0, 1.0), ("a", 90_000.0, 2.0)], INCOMING_SCHEMA
    )
    storage.append(rows, real)
    got = storage.read_table(
        spark, real, INCOMING_SCHEMA, with_partition_col=True
    )
    assert not getattr(got, "_smalltsdb_empty_relation", False)
    days = sorted(
        r[0] for r in got.select(storage.PARTITION_COLUMN).distinct().collect()
    )
    assert days == [0, 1]
    pruned = got.filter(F.col(storage.PARTITION_COLUMN) == 1)
    assert [tuple(r) for r in pruned.select("path", "value").collect()] == [
        ("a", 2.0)
    ]


def test_second_sync_upsert_replaces_into_existing_days(spark, tsdb_dir):
    """Behavioral pin for the r14 upsert rewrite (partition-pruned
    replaced-day read + empty-table anti-join skip): a second sync that
    completes a bucket an earlier sync already wrote must REPLACE the
    bucket (not duplicate it), and the final table must equal the plain
    aggregation of all rows — exercising both the fast path (first
    sync, empty table) and the pruned anti-join (second sync, same
    day)."""
    from smalltsdb_spark.operators.aggregate import aggregate

    clock = {"now": 25.0}
    db = TablesTSDB(
        spark, tsdb_dir, periods=[("tensecond", 10)], now=lambda: clock["now"]
    )
    rows1 = [("m", 1.0, 1.0), ("m", 12.0, 2.0)]
    rows2 = [("m", 15.0, 4.0), ("m", 22.0, 8.0)]
    db.insert(rows1)
    db.sync()  # finality horizon floor(25-60/10) → nothing final yet is fine
    clock["now"] = 100_000.0
    db.insert(rows2)
    db.sync()
    db.sync()  # idempotent
    got = sorted(
        tuple(r)
        for r in db.period_table("tensecond")
        .select("path", "timestamp", "n", "sum")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in aggregate(
            spark.createDataFrame(
                rows1 + rows2, "path string, timestamp double, value double"
            ),
            10,
        )
        .select("path", "timestamp", "n", "sum")
        .collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Idle sync: periods with nothing to finalize are skipped on the driver
# ---------------------------------------------------------------------------


def _manifests(base, names):
    from smalltsdb_spark import storage

    out = {}
    for name in names:
        with open(os.path.join(base, name, storage.MANIFEST), "rb") as f:
            out[name] = f.read()
    return out


def test_idle_resync_submits_no_jobs(spark, tsdb_dir, count_jobs):
    """A second sync at the same clock, after a sync whose retention
    dropped one incoming partition and rewrote the boundary one, submits
    no Spark job and leaves every period table's manifest byte-identical
    and incoming untouched."""
    def incoming_files():
        return {
            (rel, os.stat(os.path.join(db.incoming_path, rel)).st_mtime_ns)
            for rel in _on_disk_parquet(db.incoming_path)
        }

    day = 86400.0
    clock = {"now": 2 * day + 43_260.0}  # retention cutoff = day + 43_200
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert(
        [
            ("a", 100.0, 1.0),  # day 0: dropped whole
            ("a", day + 1_000.0, 2.0),  # boundary day, below the cutoff
            ("a", day + 50_000.0, 3.0),  # boundary day, kept
            ("b", 2 * day + 5.0, 4.0),
            ("b", 2 * day + 40_000.0, 5.0),
        ]
    )
    before = incoming_files()
    db.sync()
    assert _synced_tables(db)
    after = incoming_files()
    assert not any(rel.startswith("pday=0") for rel, _ in after)
    assert {f for f in after if f[0].startswith("pday=1")}.isdisjoint(before)
    assert sorted(r.timestamp for r in db.incoming().collect()) == [
        day + 50_000.0, 2 * day + 5.0, 2 * day + 40_000.0
    ]

    names = [name for name, _ in db.periods]
    manifests_before = _manifests(tsdb_dir, names)
    assert count_jobs(db.sync) == 0
    assert _synced_tables(db) == set()
    assert _manifests(tsdb_dir, names) == manifests_before
    assert incoming_files() == after


class _Twins:
    """The same steps applied to two stores: one synced by a single
    long-lived handle (which skips idle periods), the other by a fresh
    handle per sync (which has no record, so every sync is a full one)."""

    PERIODS = [("tensecond", 10), ("oneminute", 60), ("onehour", 3600)]

    def __init__(self, spark, tmp_path, clock, **kw):
        self.spark = spark
        self.kw = dict(periods=self.PERIODS, now=lambda: clock["now"], **kw)
        self.dirs = (str(tmp_path / "skipping"), str(tmp_path / "fresh"))
        self.db = TablesTSDB(spark, self.dirs[0], **self.kw)

    def fresh(self):
        return TablesTSDB(self.spark, self.dirs[1], **self.kw)

    def insert(self, points):
        self.db.insert(points)
        self.fresh().insert(points)

    def sync(self) -> int:
        """Sync both stores and check they agree; returns how many tables
        the skipping handle's sync computed (:func:`_synced_tables`)."""
        self.db.sync()
        synced = len(_synced_tables(self.db))
        self.fresh().sync()
        self.assert_same()
        return synced

    def rows(self, base):
        db = TablesTSDB(self.spark, base, **self.kw)
        return {
            name: sorted(map(tuple, db.period_table(name).collect()))
            for name, _ in self.PERIODS
        } | {"incoming": sorted(map(tuple, db.incoming().collect()))}

    def assert_same(self):
        assert self.rows(self.dirs[0]) == self.rows(self.dirs[1])


def test_idle_sync_finalizes_a_late_point_at_the_same_clock(spark, tmp_path):
    """A point inserted with no clock advance, for a path whose
    high-water mark is older than the finality cut, is finalized."""
    clock = {"now": 1_000.0}
    twins = _Twins(spark, tmp_path, clock)
    twins.insert([("a", 5.0, 1.0), ("a", 900.0, 2.0), ("b", 5.0, 3.0)])
    twins.sync()
    assert twins.sync() == 0
    twins.insert([("b", 500.0, 4.0)])  # b's HWM is bucket 0
    assert twins.sync() > 0
    assert ("b", 500.0) in {
        (r.path, r.timestamp) for r in twins.db.period_table("tensecond").collect()
    }


def test_idle_sync_finalizes_the_tail_when_the_clock_advances(spark, tmp_path):
    """A clock advance with no new file moves ``final_end``, so the
    tail rows that just became final are written."""
    clock = {"now": 1_000.0}
    twins = _Twins(spark, tmp_path, clock)
    twins.insert([("a", 5.0, 1.0), ("a", 950.0, 2.0), ("a", 3_000.0, 3.0)])
    twins.sync()
    tail = ("a", 950.0)
    assert tail not in {
        (r.path, r.timestamp) for r in twins.db.period_table("tensecond").collect()
    }
    clock["now"] = 1_100.0
    assert twins.sync() > 0
    assert tail in {
        (r.path, r.timestamp) for r in twins.db.period_table("tensecond").collect()
    }


def test_idle_sync_rebuilds_a_changed_period_table(spark, tmp_path):
    """A period table whose directory or manifest changed between syncs
    is re-evaluated at the same clock: a deleted table is rebuilt from
    incoming, and a partition dropped from a manifest is refilled."""
    import shutil

    from smalltsdb_spark import storage

    day = 86400.0
    clock = {"now": day + 3_800.0}
    twins = _Twins(spark, tmp_path, clock, partition_grain="hour")
    twins.insert([("a", day + 200.0, 1.0), ("b", day + 3_700.0, 2.0)])
    twins.sync()
    assert twins.sync() == 0

    for base in twins.dirs:
        shutil.rmtree(os.path.join(base, "oneminute"))
    assert twins.sync() > 0
    assert twins.db.period_table("oneminute").count() == 2

    for base in twins.dirs:  # drop hour 24, and with it a's only bucket
        storage.drop_partitions_below(
            os.path.join(base, "tensecond"), day + 3_600.0, 3600
        )
    assert twins.sync() > 0
    assert twins.db.period_table("tensecond").count() == 2
    assert twins.sync() == 0


def test_idle_sync_reruns_a_period_after_its_retention_drop(spark, tmp_path):
    """A period's own retention drop can lower a path's high-water mark,
    so the sync after the drop runs that period again; it and a full
    sync leave the same rows."""
    clock = {"now": 3_000.0}
    twins = _Twins(
        spark, tmp_path, clock, partition_grain="hour", retention={"tensecond": 60.0}
    )
    twins.insert([("a", 3_550.0, 1.0), ("b", 3_700.0, 2.0)])
    twins.sync()
    twins.insert([("a", 10.0, 3.0)])
    clock["now"] = 3_800.0  # tensecond drops hour 0 (and a's bucket 10)
    twins.sync()
    assert twins.sync() > 0


def test_idle_sync_runs_after_a_file_lands_in_the_rewritten_boundary(
    spark, tmp_path, monkeypatch
):
    """A file that lands in retention's boundary partition after sync's
    snapshot, without any period having seen its rows, is outside the
    record of what sync covered (only the files retention replaced are
    added to it), so the next sync at the same clock runs and finalizes
    them."""
    import shutil

    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import INCOMING_SCHEMA

    late = ("z", 7_600.0, 5.0)  # hour 2, above the next cutoff
    foreign = str(tmp_path / "foreign")
    storage.append(spark.createDataFrame([late], INCOMING_SCHEMA), foreign, 3600)
    (part,) = _on_disk_parquet(foreign)

    clock = {"now": 10_000.0}
    twins = _Twins(spark, tmp_path, clock, partition_grain="hour")
    twins.insert([("a", 7_300.0, 1.0), ("a", 7_500.0, 2.0)])
    twins.sync()

    clock["now"] = 11_060.0  # cutoff 7_400 splits hour 2
    real = storage.delete_rows_below

    def land_then_delete(path, *args):
        dest = os.path.join(twins.db.incoming_path, part)
        shutil.copy(os.path.join(foreign, part), dest)
        monkeypatch.setattr(storage, "delete_rows_below", real)
        return real(path, *args)

    monkeypatch.setattr(storage, "delete_rows_below", land_then_delete)
    twins.db.sync()
    monkeypatch.undo()
    assert ("z", 7_600.0, 5.0) in {tuple(r) for r in twins.db.incoming().collect()}
    twins.fresh().insert([late])
    assert twins.sync() > 0


def test_idle_sync_sees_a_change_under_spark_metadata(spark, tmp_path):
    """Hidden entries are part of incoming's snapshot: a file sink log
    appearing under ``_spark_metadata`` disables the skip (the log now
    decides which files the reader lists)."""
    import json

    clock = {"now": 1_000.0}
    twins = _Twins(spark, tmp_path, clock)
    twins.insert([("a", 5.0, 1.0), ("a", 900.0, 2.0)])
    twins.sync()
    assert twins.sync() == 0
    for base in twins.dirs:
        incoming = os.path.join(base, "incoming")
        files = sorted(_on_disk_parquet(incoming))
        md = os.path.join(incoming, "_spark_metadata")
        os.makedirs(md)
        with open(os.path.join(md, "0"), "w") as f:
            f.write("v1\n")
            for rel in files:
                full = os.path.join(incoming, rel)
                st = os.stat(full)
                f.write(
                    json.dumps(
                        {
                            "path": "file://" + full,
                            "size": st.st_size,
                            "isDir": False,
                            "modificationTime": st.st_mtime_ns // 1_000_000,
                            "blockReplication": 1,
                            "blockSize": 33554432,
                            "action": "add",
                        }
                    )
                    + "\n"
                )
    assert twins.sync() > 0
    assert twins.sync() == 0


def test_idle_sync_matches_full_sync_on_a_random_schedule(spark, tmp_path):
    """Seeded mix of inserts ahead of and behind the high-water marks,
    clock advances or none, and syncs: after every sync the skipping
    handle's store equals the one a fresh handle syncs in full, and a
    sync with no step since the previous one computes no table."""
    import random

    rng = random.Random(20261017)
    clock = {"now": 4_000.0}
    twins = _Twins(spark, tmp_path, clock)
    paths = ["a", "b", "c"]
    twins.insert([(p, 5.0, 1.0) for p in paths])
    twins.sync()
    dirty = False
    for _ in range(14):
        step = rng.choice(["ahead", "behind", "advance", "sync", "sync"])
        if step == "ahead":
            ts = clock["now"] - rng.uniform(0, 200)
            twins.insert([(rng.choice(paths), ts, rng.uniform(0, 10))])
        elif step == "behind":
            ts = clock["now"] - rng.uniform(500, 3_000)
            twins.insert([(rng.choice(paths), ts, rng.uniform(0, 10))])
        elif step == "advance":
            clock["now"] += rng.choice([5.0, 60.0, 700.0])
        else:
            synced = twins.sync()
            if not dirty:
                assert synced == 0
            dirty = False
            continue
        dirty = True
    twins.sync()


# ---------------------------------------------------------------------------
# Sync as one append-only pass
# ---------------------------------------------------------------------------

DAY = 86400.0


def _points(rng, paths, lo, hi, n):
    """``n`` points spread evenly over ``[lo, hi)`` on random paths."""
    step = (hi - lo) / n
    return [
        (rng.choice(paths), lo + i * step + rng.uniform(0, step), float(rng.randint(0, 99)))
        for i in range(n)
    ]


def _staging_dirs(base):
    return [n for n in os.listdir(base) if n.startswith(".sync-staging-")]


def _hourly_ticks(spark, tsdb_dir, count_jobs, appended) -> list[int]:
    """An hourly tick over the six default periods, a day of history and
    incoming retention in steady state; returns the Spark jobs of each
    tick's sync, after checking that every table below a day took new
    buckets."""
    import random

    rng = random.Random(11)
    paths = [f"m{i}" for i in range(200)]
    t0 = 20 * DAY + 1800.0
    clock = {"now": t0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert(_points(rng, paths, t0 - 25 * 3600.0, t0, 25 * 200))
    db.sync()
    jobs = []
    for k in (1, 2):
        db.insert(_points(rng, paths, t0 + (k - 1) * 3600.0, t0 + k * 3600.0, 200))
        clock["now"] = t0 + k * 3600.0
        appended.clear()
        jobs.append(count_jobs(db.sync))
        # non-idle: every table below a day took new buckets
        assert sorted(appended) == sorted(
            db._period_path(name) for name, s in db.periods if s < DAY
        )
    assert _staging_dirs(tsdb_dir) == []
    return jobs


def test_non_idle_sync_submits_no_job(
    spark, tsdb_dir, count_jobs, appends_never_collide
):
    """An hourly tick's sync computes its delta on the driver: the
    high-water marks come from the driver-side path catalog, the new
    buckets of all six tables from a pyarrow/numpy pass over incoming,
    six manifest appends commit them, and retention rewrites the boundary
    partition's straddling file on the driver — no Spark job, where one
    job chain per period took about 60."""
    assert _hourly_ticks(spark, tsdb_dir, count_jobs, appends_never_collide) == [0, 0]


def test_non_idle_spark_sync_is_at_most_three_jobs(
    spark, tsdb_dir, count_jobs, appends_never_collide, monkeypatch
):
    """The same ticks on sync's Spark path (``_DRIVER_ROWS`` = 0): one
    aggregation and one write for all six tables — at most 3 Spark
    jobs."""
    from smalltsdb_spark import storage

    monkeypatch.setattr(storage, "_DRIVER_ROWS", 0)
    jobs = _hourly_ticks(spark, tsdb_dir, count_jobs, appends_never_collide)
    assert all(0 < n <= 3 for n in jobs), jobs


def test_sync_across_a_day_boundary_compacts_only_closed_partitions(
    spark, tmp_path
):
    """Hourly syncs from 21:00 to 02:00: each sync appends one file to a
    table's open day partition and never rewrites it, and the first
    sync whose ``final_end`` passes midnight compacts the closed day to
    one live file with the same rows — every store equal to a fresh
    handle's full sync throughout."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.intervals import final_end

    clock = {"now": DAY - 3 * 3600.0}
    twins = _Twins(spark, tmp_path, clock)
    db = twins.db
    open_files = {}
    compacted = set()
    for _ in range(5):
        lo = clock["now"]
        twins.insert(
            [(p, lo + s + 7.0, float(s)) for p in ("a", "b") for s in range(0, 3600, 600)]
        )
        clock["now"] = lo + 3600.0
        before = {
            name: storage.read_manifest(db._period_path(name)) or {}
            for name, _ in twins.PERIODS
        }
        twins.sync()
        for name, seconds in twins.PERIODS:
            fe = final_end(seconds, db.tail, clock["now"])
            manifest = storage.read_manifest(db._period_path(name)) or {}
            for unit, files in manifest.items():
                if (unit + 1) * DAY <= fe:
                    assert len(files) == 1, (name, unit)
                    if len(before[name].get(unit, [])) > 1:
                        compacted.add(name)
                else:  # open: appended to, never rewritten
                    assert set(open_files.get((name, unit), [])) <= set(files)
                    open_files[(name, unit)] = files
    assert compacted == {name for name, _ in twins.PERIODS}
    assert len(open_files[("tensecond", 1)]) == 2  # two syncs into day 1


def test_sync_bounds_the_open_partitions_file_count(spark, tmp_path, monkeypatch):
    """Syncs every 10 s into one open day partition: each appends a file
    until the partition holds more than ``_OPEN_FILES``, when that sync
    compacts it to one — the store equal to a fresh handle's full sync
    throughout."""
    from smalltsdb_spark import storage, tsdb

    monkeypatch.setattr(tsdb, "_OPEN_FILES", 3)
    clock = {"now": 1_000.0}
    twins = _Twins(spark, tmp_path, clock)
    counts = []
    for k in range(6):
        # final for tensecond (tail 60 s) once the clock steps 10 s
        twins.insert([("a", clock["now"] - 55.0, float(k))])
        clock["now"] += 10.0
        twins.sync()
        counts.append(storage.partition_file_counts(twins.db._period_path("tensecond")))
    assert counts == [{0: n} for n in (1, 2, 3, 1, 2, 3)]


def test_histogram_without_new_buckets_commits_nothing(
    spark, tmp_path, appends_never_collide
):
    """A sync that finalizes tensecond buckets but no 60 s histogram
    bucket appends to tensecond only: the histogram's first such sync
    writes no manifest, and a later one leaves it untouched."""
    import warnings

    from smalltsdb_spark import storage

    clock = {"now": 100.0}  # tensecond final below 40, histogram below 0
    twins = _KeyedTwins(spark, tmp_path, clock, histograms=True)
    db = twins.db
    hist = os.path.join(db.path, "histogram")
    manifest = os.path.join(hist, storage.MANIFEST)
    with warnings.catch_warnings(record=True) as w:
        # a store created with histograms: no histogram bucket being
        # final yet is not the "enabled late" state
        warnings.simplefilter("always")
        twins.insert([("a", 5.0, 1.0)])
        twins.sync()
        assert not os.path.exists(manifest)
        twins.insert([("a", float(t), 2.0) for t in range(15, 940, 60)])
        clock["now"] = 1_000.0
        twins.sync()
        assert hist in appends_never_collide
        before = os.stat(manifest)
        appends_never_collide.clear()
        twins.insert([("a", 945.0, 3.0)])  # final for tensecond only
        clock["now"] = 1_010.0
        twins.sync()
    assert {os.path.basename(p) for p in appends_never_collide} == {"tensecond"}
    after = os.stat(manifest)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
    assert not [x for x in w if "histogram table is empty" in str(x.message)]


@pytest.mark.parametrize("fail_at", [1, 2], ids=["before-first", "between-tables"])
def test_sync_crash_between_installs_leaves_whole_table_snapshots(
    spark, tmp_path, monkeypatch, fail_at
):
    """Crash injection after the one write: before the first table's
    install, and between two tables' installs.  Readers see each table
    at its old or its new whole snapshot; the failed sync leaves no
    persisted RDD and no sync record, only its staging directory; the
    next sync removes that debris and ends equal to a store that never
    crashed."""
    from smalltsdb_spark import storage

    clock = {"now": 4_000.0}
    twins = _Twins(spark, tmp_path, clock)
    db = twins.db
    names = [name for name, _ in twins.PERIODS]
    twins.insert([(p, t, 1.0) for p in ("a", "b") for t in (5.0, 1_500.0, 2_900.0)])
    twins.sync()
    twins.insert([(p, t, 2.0) for p in ("a", "b") for t in (3_950.0, 4_100.0)])
    clock["now"] = 8_000.0

    def snapshot():
        reader = TablesTSDB(spark, db.path, **twins.kw)
        return {
            name: sorted(map(tuple, reader.period_table(name).collect()))
            for name in names
        }

    old = snapshot()
    manifests_before = _manifests(db.path, names)
    real = storage.install_staged
    calls = []

    def crashing(path, *a, **kw):
        calls.append(path)
        if len(calls) == fail_at:
            raise OSError("injected crash between installs")
        return real(path, *a, **kw)

    jsc = spark.sparkContext._jsc
    persisted_before = set(jsc.getPersistentRDDs().keys())
    synced = db._synced
    monkeypatch.setattr(storage, "install_staged", crashing)
    with pytest.raises(OSError, match="injected crash"):
        db.sync()
    monkeypatch.setattr(storage, "install_staged", real)
    assert db._synced is synced
    assert set(jsc.getPersistentRDDs().keys()) <= persisted_before
    assert len(_staging_dirs(db.path)) == 1

    mid = snapshot()
    committed = {os.path.basename(p) for p in calls[: fail_at - 1]}
    manifests_mid = _manifests(db.path, names)
    for name in names:
        if name in committed:
            assert mid[name] != old[name]
        else:
            assert manifests_mid[name] == manifests_before[name]
            assert mid[name] == old[name]

    twins.sync()  # the retry, compared with a never-crashed store
    assert _staging_dirs(db.path) == []
    after = snapshot()
    for name in committed:
        assert after[name] == mid[name]  # the new whole snapshot, kept


class _KeyedTwins(_Twins):
    """:class:`_Twins` whose comparison also checks that every table's
    keys are unique, and covers the persisted histogram."""

    def rows(self, base):
        from smalltsdb_spark import storage

        out = super().rows(base)
        db = TablesTSDB(self.spark, base, **self.kw)
        if db.histograms:
            out["histogram"] = sorted(
                map(
                    tuple,
                    db._histogram_table().drop(storage.PARTITION_COLUMN).collect(),
                )
            )
        for name, rows in out.items():
            if name != "incoming":
                width = 3 if name == "histogram" else 2
                keys = [r[:width] for r in rows]
                assert len(set(keys)) == len(keys), f"{name} holds a key twice"
        return out


def test_appends_stay_disjoint_when_retention_drops_a_paths_only_rows(
    spark, tmp_path, appends_never_collide
):
    """A period's retention drops a path's only bucket while incoming
    still holds the raw row, so the path's high-water mark falls back to
    nothing: the next sync finalizes the row again into the dropped
    partition (which retention drops again), and new points for the
    path then arrive — no append ever meets a stored key."""
    clock = {"now": 3_000.0}
    twins = _KeyedTwins(
        spark, tmp_path, clock, partition_grain="hour", retention={"tensecond": 60.0}
    )
    twins.insert([("a", 100.0, 1.0), ("b", 3_500.0, 2.0)])
    twins.sync()
    clock["now"] = 3_700.0  # tensecond drops hour 0; incoming keeps a@100
    twins.sync()
    twins.sync()
    twins.insert([("a", 3_650.0, 3.0), ("a", 3_690.0, 4.0)])
    clock["now"] = 3_800.0
    twins.sync()
    assert appends_never_collide


def test_appends_stay_disjoint_with_late_points_behind_the_high_water_mark(
    spark, tmp_path, appends_never_collide
):
    """Points behind a path's high-water mark are dropped by the finer
    tables and finalized by the coarser ones whose bucket is still
    open."""
    clock = {"now": 1_000.0}
    twins = _KeyedTwins(spark, tmp_path, clock)
    twins.insert([("a", 5.0, 1.0), ("a", 900.0, 2.0)])
    twins.sync()
    twins.insert([("a", 400.0, 3.0), ("a", 3.0, 4.0)])
    twins.sync()
    clock["now"] = 4_000.0
    twins.sync()
    twins.insert([("a", 450.0, 5.0)])
    twins.sync()
    assert appends_never_collide


def test_appends_stay_disjoint_after_a_timed_out_sync_is_retried(
    spark, tmp_path, monkeypatch, appends_never_collide
):
    """A Spark-path sync (``_DRIVER_ROWS`` = 0) cancelled by ``timeout=``
    mid-aggregation raises TimeoutError and commits nothing; the retry
    appends exactly the buckets a store that never timed out has."""
    from pyspark.sql import functions as F

    from smalltsdb_spark import storage, tsdb

    monkeypatch.setattr(storage, "_DRIVER_ROWS", 0)
    real = tsdb.aggregate
    slow = F.udf(lambda _: time.sleep(1.0) is None, "boolean")

    def slow_aggregate(rows, *a, **kw):
        return real(rows.filter(slow(F.col("value"))), *a, **kw)

    _timed_out_then_retried(
        spark, tmp_path, monkeypatch, appends_never_collide, "aggregate", slow_aggregate, 3.0
    )


def test_appends_stay_disjoint_after_a_timed_out_driver_sync_is_retried(
    spark, tmp_path, monkeypatch, appends_never_collide
):
    """The driver pass checks ``timeout=`` before its first commit: a
    pass that overruns it raises TimeoutError having committed nothing,
    and the retry appends exactly the buckets a store that never timed
    out has."""
    from smalltsdb_spark import tsdb

    real = tsdb.aggregate_table

    def slow_aggregate_table(*a, **kw):
        time.sleep(1.0)
        return real(*a, **kw)

    _timed_out_then_retried(
        spark,
        tmp_path,
        monkeypatch,
        appends_never_collide,
        "aggregate_table",
        slow_aggregate_table,
        2.0,
    )


def _timed_out_then_retried(spark, tmp_path, monkeypatch, appended, name, slow, timeout):
    """Time out one sync while ``tsdb.<name>`` is replaced by ``slow``,
    then retry it."""
    from smalltsdb_spark import storage, tsdb

    clock = {"now": 1_000.0}
    twins = _KeyedTwins(spark, tmp_path, clock)
    twins.insert([(p, float(t), 1.0) for p in ("a", "b") for t in range(5, 900, 60)])
    twins.sync()
    twins.insert([(p, float(t), 2.0) for p in ("a", "b") for t in range(905, 1900, 60)])
    clock["now"] = 2_000.0
    appended.clear()
    real = getattr(tsdb, name)
    monkeypatch.setattr(tsdb, name, slow)
    def states():
        return [storage.table_state(twins.db._period_path(n)) for n, _ in twins.PERIODS]

    before = states()
    with pytest.raises(TimeoutError):
        twins.db.sync(timeout=timeout)
    monkeypatch.setattr(tsdb, name, real)
    assert appended == []
    assert states() == before
    twins.sync()
    assert appended


def test_appends_stay_disjoint_for_the_histogram_table(
    spark, tmp_path, appends_never_collide
):
    """The persisted histogram appends ``(path, timestamp, bin)`` keys
    under the same rule, behind its own high-water marks."""
    import random

    rng = random.Random(5)
    clock = {"now": 1_000.0}
    twins = _KeyedTwins(spark, tmp_path, clock, histograms=True)
    for _ in range(4):
        twins.insert(_points(rng, ["a", "b"], clock["now"] - 900.0, clock["now"], 30))
        twins.sync()
        clock["now"] += rng.choice([60.0, 700.0, 3_600.0])
    twins.sync()
    hist = os.path.join(twins.db.path, "histogram")
    assert hist in appends_never_collide


def test_retention_probe_reads_parquet_footers(spark, tmp_path, count_jobs):
    """Retention decides whether the boundary partition's files hold rows
    on either side of the cutoff from their footers, with no Spark job; a
    file written without statistics is decided from its ``timestamp``
    column on the driver, with no Spark job either, and both stores end
    with the same rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from smalltsdb_spark import storage

    rows = [("a", DAY + 100.0, 1.0), ("a", DAY + 5_000.0, 2.0), ("b", DAY + 9_000.0, 3.0)]
    stats_db = TablesTSDB(spark, str(tmp_path / "stats"))
    stats_db.insert(rows)
    bare_db = TablesTSDB(spark, str(tmp_path / "bare"))
    bare_db.insert([("z", 0.0, 0.0)])  # pins the grain; day 0, dropped below
    pdir = os.path.join(bare_db.incoming_path, "pday=1")
    os.makedirs(pdir)
    path, ts, value = zip(*rows)
    bare = os.path.join(pdir, "part-bare.parquet")
    pq.write_table(
        pa.table({"path": list(path), "timestamp": list(ts), "value": list(value)}),
        bare,
        write_statistics=False,
    )
    assert storage.column_ranges([bare], "timestamp") is None

    def retention(db, cutoff):
        jobs = count_jobs(
            lambda: db._retention(cutoff, storage.file_stats(db.incoming_path))
        )
        return jobs, sorted(map(tuple, db.incoming().collect()))

    # every row at or above the cutoff: nothing to rewrite
    stats_jobs, stats_rows = retention(stats_db, DAY + 50.0)
    bare_jobs, bare_rows = retention(bare_db, DAY + 50.0)
    assert (stats_jobs, stats_rows) == (0, sorted(rows))
    assert bare_jobs == 0 and bare_rows == stats_rows
    # the cutoff splits the partition: both rewrite it the same way
    _, stats_rows = retention(stats_db, DAY + 4_000.0)
    _, bare_rows = retention(bare_db, DAY + 4_000.0)
    assert stats_rows == bare_rows == sorted(rows[1:])


def test_insert_writes_only_encodings_spark_reads(spark, tmp_path):
    """An insert of rows writes its files on the driver in the encodings
    Spark's vectorized reader decodes (PLAIN, RLE, RLE_DICTIONARY — not
    BYTE_STREAM_SPLIT), dictionary-encoding a column only where that is
    smaller than plain: ``path`` always, ``value`` when rounded, the
    distinct timestamps never.  ``insert`` of the same rows as tuples and
    as a DataFrame reads back the same through ``incoming()``."""
    import random

    import pyarrow.parquet as pq

    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import INCOMING_SCHEMA

    rng = random.Random(7)
    paths = [f"host{i}.cpu" for i in range(300)]
    points = [(rng.choice(paths), DAY + rng.uniform(0, 2 * DAY)) for _ in range(1_800)]
    cases = {
        "rounded": [(p, t, round(rng.gauss(50, 10), 1)) for p, t in points],
        "unrounded": [(p, t, rng.gauss(50, 10)) for p, t in points],
    }
    for case, rows in cases.items():
        driver = TablesTSDB(spark, str(tmp_path / case / "driver"))
        driver.insert(rows)
        files = storage.live_files(driver.incoming_path)
        assert len(files) == 2, case  # days 1 and 2
        for rel in files:
            meta = pq.read_metadata(os.path.join(driver.incoming_path, rel))
            encodings = {}
            for i in range(meta.num_row_groups):
                for c in range(meta.num_columns):
                    column = meta.row_group(i).column(c)
                    encodings.setdefault(column.path_in_schema, set()).update(
                        column.encodings
                    )
            assert set().union(*encodings.values()) <= {"PLAIN", "RLE", "RLE_DICTIONARY"}
            dictionary = {n for n, e in encodings.items() if "RLE_DICTIONARY" in e}
            want = {"path", "value"} if case == "rounded" else {"path"}
            assert dictionary == want, (case, rel)
        spark_written = TablesTSDB(spark, str(tmp_path / case / "spark"))
        spark_written.insert(spark.createDataFrame(rows, INCOMING_SCHEMA))
        assert sorted(map(tuple, driver.incoming().collect())) == sorted(
            map(tuple, spark_written.incoming().collect())
        )


def _sidecars_without_files(root):
    """Hadoop ``.<name>.crc`` sidecars under ``root`` whose file is gone."""
    out = []
    for base, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(".") and f.endswith(".crc"):
                if not os.path.exists(os.path.join(base, f[1:-4])):
                    out.append(os.path.join(base, f))
    return out


def test_retention_rewrites_a_spark_written_file_and_its_sidecar(
    spark, tsdb_dir, count_jobs
):
    """Retention replaces a Spark-written straddling file on the driver
    and removes its checksum sidecar first (a stale one fails every later
    Spark scan with ``ChecksumException``); a Spark-written file wholly
    below the cutoff goes with its sidecar.  The partition reads back
    through Spark, and no sidecar is left without its file."""
    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import INCOMING_SCHEMA

    db = TablesTSDB(spark, tsdb_dir)
    straddling = [("a", DAY + 100.0, 1.0), ("a", DAY + 5_000.0, 2.0), ("b", DAY + 9_000.0, 3.0)]
    below = [("c", DAY + 200.0, 4.0)]
    for rows in (straddling, below):
        db.insert(spark.createDataFrame(rows, INCOMING_SCHEMA))
    pdir = os.path.join(db.incoming_path, "pday=1")
    sidecars = [f for f in os.listdir(pdir) if f.endswith(".crc")]
    assert len(sidecars) == 2
    jobs = count_jobs(
        lambda: db._retention(DAY + 4_000.0, storage.file_stats(db.incoming_path))
    )
    assert jobs == 0
    assert sorted(map(tuple, db.incoming().collect())) == straddling[1:]
    assert [f for f in os.listdir(pdir) if f.endswith(".crc")] == []
    assert _sidecars_without_files(db.incoming_path) == []


def test_a_file_landing_in_the_boundary_partition_during_retention_survives(
    spark, tmp_path, monkeypatch
):
    """A file that an insert lands in retention's boundary partition after
    retention listed it is left whole (a rewrite of the whole partition
    directory lost it), and the next sync at the same clock runs and
    finalizes its rows."""
    import shutil

    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import INCOMING_SCHEMA

    late = ("z", 7_600.0, 5.0)  # hour 2, above the next cutoff
    foreign = str(tmp_path / "foreign")
    storage.append(spark.createDataFrame([late], INCOMING_SCHEMA), foreign, 3600)
    (part,) = _on_disk_parquet(foreign)

    clock = {"now": 10_000.0}
    db = TablesTSDB(
        spark,
        str(tmp_path / "db"),
        periods=_Twins.PERIODS,
        now=lambda: clock["now"],
        partition_grain="hour",
    )
    db.insert([("a", 7_300.0, 1.0), ("a", 7_500.0, 2.0)])
    db.sync()

    clock["now"] = 11_060.0  # cutoff 7_400 splits hour 2
    real = storage.file_stats

    def list_then_land(root, sub=""):
        listed = real(root, sub)
        if sub:  # retention's listing of the boundary partition
            shutil.copy(
                os.path.join(foreign, part), os.path.join(db.incoming_path, part)
            )
            monkeypatch.setattr(storage, "file_stats", real)
        return listed

    monkeypatch.setattr(storage, "file_stats", list_then_land)
    db.sync()
    monkeypatch.undo()
    assert sorted(map(tuple, db.incoming().collect())) == [("a", 7_500.0, 2.0), late]
    db.sync()
    assert _synced_tables(db)
    assert ("z", 7_600.0) in {
        (r.path, r.timestamp) for r in db.period_table("tensecond").collect()
    }


def test_a_failure_between_two_straddling_rewrites_loses_no_row(
    spark, tsdb_dir, monkeypatch, count_jobs
):
    """Retention replaces each straddling file on its own: a failure
    after the first replacement leaves every row at or above the cutoff
    visible exactly once, and the next sync finishes the delete."""
    import collections

    from smalltsdb_spark import storage

    clock = {"now": 10_000.0}
    db = TablesTSDB(
        spark,
        tsdb_dir,
        periods=_Twins.PERIODS,
        now=lambda: clock["now"],
        partition_grain="hour",
    )
    rows = [
        [("a", 7_300.0, 1.0), ("a", 7_500.0, 2.0)],
        [("b", 7_350.0, 3.0), ("b", 7_550.0, 4.0)],
    ]
    for batch in rows:
        db.insert(batch)
    db.sync()

    clock["now"] = 11_060.0  # cutoff 7_400 splits both files
    cutoff = 7_400.0
    above = sorted(r for batch in rows for r in batch if r[1] >= cutoff)
    real = storage._keep_rows_at_or_above
    calls = []

    def fail_second(*args):
        calls.append(args)
        if len(calls) == 2:
            raise OSError("interrupted between two replacements")
        real(*args)

    monkeypatch.setattr(storage, "_keep_rows_at_or_above", fail_second)
    with pytest.raises(OSError, match="interrupted"):
        db.sync()
    monkeypatch.undo()
    visible = collections.Counter(map(tuple, db.incoming().collect()))
    assert {r: n for r, n in visible.items() if r[1] >= cutoff} == {r: 1 for r in above}
    assert len(visible) == len(above) + 1  # the second file's row below
    db.sync()
    assert sorted(map(tuple, db.incoming().collect())) == above
    assert count_jobs(db.sync) == 0
    assert _synced_tables(db) == set()


# ---------------------------------------------------------------------------
# The path catalog (catalog.py)
# ---------------------------------------------------------------------------


def _catalog_matches_scan(dbs, names) -> dict:
    """``list_metrics()`` equals the sorted ``list_metrics_df()`` and each
    table's catalog marks equal a Spark ``groupBy(path).max``, on every
    handle in ``dbs``; returns the scanned marks."""
    want = {
        name: {
            path: ts
            for path, ts in dbs[0]
            .period_table(name)
            .groupBy("path")
            .agg(F.max("timestamp"))
            .collect()
        }
        for name in names
    }
    paths = sorted(r.path for r in dbs[0].list_metrics_df().collect())
    for db in dbs:
        assert db.list_metrics() == paths
        for name in names:
            assert db._hwms(name) == want[name], name
    return want


def _series_match_dataframe(db, names, path, interval) -> None:
    """``get_metric`` (served on the driver) equals the ordered rows of
    ``get_metric_df`` (a Spark scan) on every table in ``names``, for
    every stat and every page of the ``PAGES`` grid."""
    from smalltsdb_spark.config import STATS
    from tests.test_api_ops import PAGES

    for name in names:
        for stat in STATS:
            want = [
                tuple(r) for r in db.get_metric_df(path, name, stat, interval).collect()
            ]
            for offset, limit in PAGES:
                got = db.get_metric(
                    path, name, stat, interval, offset=offset, limit=limit
                )
                assert got == want[offset:][:limit], (name, stat, offset, limit)


def test_path_catalog_equals_a_scan_on_a_random_schedule(
    spark, tmp_path, appends_never_collide
):
    """Seeded inserts, late points, clock advances, syncs and
    compactions over a store with every kind of period table: a
    manifest table whose retention drops whole hours (lowering
    high-water marks), a pre-manifest listing table adopted on its first
    append, and one owned by a streaming rollup's file-sink log, next to
    a data file the log never committed.  After every step the catalog
    of the live handle and of a fresh one equals a scan, and so does a
    read of one seeded path and interval (:func:`_series_match_dataframe`)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from smalltsdb_spark import manifests, storage
    from smalltsdb_spark.operators.aggregate import aggregate
    from smalltsdb_spark.schemas import INCOMING_SCHEMA
    from smalltsdb_spark.sources.daemon import SpoolSink
    from smalltsdb_spark.streaming import read_spool_stream, start_rollup

    hour = 3600
    base = str(tmp_path / "store")
    clock = {"now": 4 * hour + 30.0}
    kw = dict(
        periods=[
            ("tensecond", 10), ("oneminute", 60), ("onehour", hour), ("oneday", DAY)
        ],
        partition_grain="hour",
        retention={"tensecond": 2 * hour},
        now=lambda: clock["now"],
    )
    names = [name for name, _ in kw["periods"]]
    db = TablesTSDB(spark, base, **kw)
    first = [(p, 30.0 * i + 7.0, float(i)) for i, p in enumerate("abcab" * 20)]
    db.insert(first + [("e", 200.0, 1.0)])  # e: one point, dropped at 02:00+2h

    # oneminute predates manifests: a plain listing of a's and b's buckets
    legacy = spark.createDataFrame(
        [r for r in first if r[1] < 600.0], INCOMING_SCHEMA
    )
    storage.write_partitioned(aggregate(legacy, 60), db._period_path("oneminute"), hour)
    # oneday is owned by a streaming rollup; the clock stays below its
    # first final bucket, so sync never appends to it
    spool = SpoolSink(str(tmp_path / "spool"))
    spool([(f"s{d}", d * DAY + 100.0, 1.0) for d in (3, 4, 5)] + [("sw", 7 * DAY, 1.0)])
    start_rollup(
        read_spool_stream(spark, spool.spool_dir),
        db._period_path("oneday"),
        str(tmp_path / "ckpt"),
        86400,
        available_now=True,
        grain_seconds=hour,
    ).awaitTermination(120)
    sink = db._period_path("oneday")
    assert storage.is_streaming_sink(sink)
    orphan = os.path.join(sink, "pday=9999", "part-99999-orphan.c000.snappy.parquet")
    os.makedirs(os.path.dirname(orphan))
    rows = pq.read_table(manifests.collect_parquets(sink)[0])
    pq.write_table(
        rows.set_column(0, "path", pa.array(["ghost"] * rows.num_rows)), orphan
    )

    rng = random.Random(20261018)
    reads = random.Random(8)  # its own stream: the schedule stays rng's
    paths = ["a", "b", "c", "d"]

    def check():
        # a seeded path (the sink table's ones and the uncommitted
        # file's included) between two of: minute-aligned times, and its
        # last bucket in each table, which puts a bucket on an end of
        # the inclusive interval
        path = reads.choice([*paths, "e", "s4", "ghost"])
        edges = [60.0 * reads.randrange(0, int(clock["now"]) // 60) for _ in "ab"]
        edges += [hwms[path] for hwms in map(db._hwms, names) if path in hwms]
        _series_match_dataframe(db, names, path, sorted(reads.sample(edges, 2)))
        return _catalog_matches_scan([db, TablesTSDB(spark, base, **kw)], names)

    marks = [check()]
    assert set(marks[0]["oneday"]) == {"s3", "s4", "s5"}
    assert storage.read_manifest(db._period_path("oneminute")) is None
    db.sync()
    assert storage.read_manifest(db._period_path("oneminute")) is not None
    marks.append(check())

    steps = ["ahead", "late", "advance", "sync", "sync", "compact"]
    for step in [rng.choice(steps) for _ in range(12)] + ["advance", "sync"]:
        now = clock["now"]
        if step == "ahead":
            db.insert(
                [(rng.choice(paths), now - rng.uniform(0, 900), 1.0) for _ in range(3)]
            )
        elif step == "late":
            db.insert([(rng.choice(paths), now - rng.uniform(1_800, 3 * hour), 2.0)])
        elif step == "advance":
            clock["now"] += rng.choice([600.0, 1_800.0, hour])
        elif step == "sync":
            db.sync()
        else:
            db.compact()
        marks.append(check())
    assert clock["now"] < DAY  # oneday stayed the stream's alone
    # some retention drop lowered a high-water mark (e's, at least)
    assert any(
        path not in after["tensecond"] or after["tensecond"][path] < ts
        for before, after in zip(marks, marks[1:])
        for path, ts in before["tensecond"].items()
    )
    assert db._period_path("oneminute") in appends_never_collide


def test_list_metrics_during_sync_sees_a_whole_state(spark, tsdb_dir):
    """``list_metrics`` in a second thread while ``sync`` commits, on the
    syncing handle and on fresh ones: every answer is the pre-sync or
    the post-sync path set, and none raises."""
    import threading

    clock = {"now": 2 * 3600.0}
    db = TablesTSDB(spark, tsdb_dir, now=lambda: clock["now"])
    db.insert([(f"old{i}", 10.0 * i, 1.0) for i in range(50)])
    db.sync()
    # every new path has a final onesecond bucket, so the first table
    # sync commits already holds them all
    db.insert([(f"new{i}", 3_600.0 + 10.0 * i, 1.0) for i in range(50)])
    clock["now"] += 60.0
    pre = tuple(db.list_metrics())
    answers, errors, done = [], [], threading.Event()

    def read():
        k = 0
        while not done.is_set():
            k += 1
            handle = db if k % 2 else TablesTSDB(spark, tsdb_dir, now=db._now)
            try:
                answers.append(tuple(handle.list_metrics()))
            except Exception as exc:  # noqa: BLE001 — the test's subject
                errors.append(exc)

    reader = threading.Thread(target=read)
    reader.start()
    try:
        db.sync()
    finally:
        done.set()
        reader.join()
    post = tuple(db.list_metrics())
    assert errors == []
    assert set(post) == set(pre) | {f"new{i}" for i in range(50)}
    assert answers and set(answers) <= {pre, post}


def test_get_metric_during_sync_sees_a_whole_state(spark, tsdb_dir):
    """``get_metric`` in a second thread while ``sync`` appends to a
    period table and compacts its closed partitions (retiring the files
    the pre-sync snapshot names), on the syncing handle and on fresh
    ones: every answer is the pre-sync or the post-sync series, and
    none raises."""
    import threading

    from smalltsdb_spark import storage

    hour = 3600
    clock = {"now": 1_800.0}
    kw = dict(now=lambda: clock["now"], partition_grain="hour")
    db = TablesTSDB(spark, tsdb_dir, **kw)
    db.insert([("m", float(t), float(t % 17)) for t in range(0, 2 * hour, 5)])
    db.sync()  # hour 0 partly final: its partition stays open
    table = db._period_path("tensecond")
    before = set(storage.live_files(table))
    clock["now"] = 2 * hour + 600.0
    args = ("m", "tensecond", "avg", (0, 2 * hour))
    pre = tuple(db.get_metric(*args))
    answers, errors, done = [], [], threading.Event()

    def read():
        k = 0
        while not done.is_set():
            k += 1
            handle = db if k % 2 else TablesTSDB(spark, tsdb_dir, **kw)
            try:
                answers.append(tuple(handle.get_metric(*args)))
            except Exception as exc:  # noqa: BLE001 — the test's subject
                errors.append(exc)

    reader = threading.Thread(target=read)
    reader.start()
    try:
        db.sync()
    finally:
        done.set()
        reader.join(timeout=120)
    assert not reader.is_alive()
    post = tuple(db.get_metric(*args))
    assert errors == []
    assert len(pre) == 174 and len(post) == 2 * hour // 10
    # hours 0 and 1 closed: compacted to one new file each
    assert storage.partition_file_counts(table) == {0: 1, 1: 1}
    assert before.isdisjoint(storage.live_files(table))
    assert answers and set(answers) <= {pre, post}


def test_written_partitions_are_sorted_by_path_and_time(spark, tsdb_dir):
    """Every file the write path leaves (incoming's appends written on
    the driver, sync's staged pass, compaction) holds its rows in
    ``(path, timestamp)`` order, with ``path`` min/max statistics on
    every row group, so a one-path read can skip the row groups of other
    paths."""
    import random

    import pyarrow.parquet as pq

    from smalltsdb_spark import storage

    rng = random.Random(3)
    rows = [(f"p{rng.randrange(20)}", rng.uniform(0, 7_000), 1.0) for _ in range(2_000)]
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 8_000.0, partition_grain="hour")
    db.insert(rows[:1_000])
    db.insert(rows[1_000:])

    def assert_sorted_with_path_statistics(files):
        for f in files:
            got = pq.read_table(f, columns=["path", "timestamp"])
            keys = list(zip(got["path"].to_pylist(), got["timestamp"].to_pylist()))
            assert keys == sorted(keys), f
            meta = pq.read_metadata(f)
            col = meta.schema.names.index("path")
            for i in range(meta.num_row_groups):
                assert meta.row_group(i).column(col).statistics.has_min_max, f

    inserted = storage.live_files(db.incoming_path)
    assert len(inserted) == 2 * 2  # one file per insert per hour
    assert_sorted_with_path_statistics(
        os.path.join(db.incoming_path, rel) for rel in inserted
    )
    db.sync()
    db.compact()
    tables = [db.incoming_path] + [db._period_path(n) for n, _ in db.periods]
    files = [os.path.join(t, rel) for t in tables for rel in storage.live_files(t)]
    assert len(files) > len(tables)
    assert_sorted_with_path_statistics(files)


def test_read_series_decodes_only_the_row_groups_holding_its_path(
    tmp_path, monkeypatch
):
    """On a file of several small row groups sorted by path, a read of
    one path decodes only the row groups whose ``path`` statistics cover
    it (and, of those, whose ``timestamp`` range meets the interval); a
    path between two groups' ranges decodes none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from smalltsdb_spark import storage
    from smalltsdb_spark.schemas import AGG_SCHEMA

    table = str(tmp_path)
    rel = os.path.join("pday=0", "part-0.parquet")
    os.makedirs(os.path.join(table, "pday=0"))
    paths = ["a", "b", "c", "d"]
    pq.write_table(
        pa.table(
            {
                "path": [p for p in paths for _ in range(10)],
                "timestamp": [10.0 * i for _ in paths for i in range(10)],
                "avg": [float(k) for k in range(40)],
            }
        ),
        os.path.join(table, rel),
        row_group_size=5,  # two groups per path
    )
    decoded = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, groups, *args, **kwargs):
        decoded.append(list(groups))
        return real(self, groups, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)

    def read(path, start, end, keep=None):
        decoded.clear()
        return storage.read_series(
            table, [rel], AGG_SCHEMA, path, "avg", start, end, 86_400, keep=keep
        )

    assert read("b", 0.0, 90.0) == [(10.0 * i, 10.0 + i) for i in range(10)]
    assert decoded == [[2, 3]]
    assert read("b", 50.0, 70.0) == [(50.0, 15.0), (60.0, 16.0), (70.0, 17.0)]
    assert decoded == [[3]]
    assert read("b", 0.0, 90.0, keep=3) == [(0.0, 10.0), (10.0, 11.0), (20.0, 12.0)]
    assert read("bb", 0.0, 90.0) == [] and decoded == []
    assert read("b", 86_400.0, 90_000.0) == [] and decoded == []  # pday 1


def test_eligible_rows_find_every_mark_by_crc32(spark, tsdb_dir):
    """Sync's marks literal buckets paths by Python's zlib.crc32 of their
    UTF-8 bytes and rows find their bucket by Spark's crc32: the two must
    agree for every path, non-ASCII ones included, or a row would miss
    its mark and be aggregated again."""
    import random

    db = TablesTSDB(spark, tsdb_dir, now=lambda: 0.0)
    rng = random.Random(5)
    names = ["ü", "日本.cpu", "emoji.\U0001f600", "tab\tpath", "", "a" * 300]
    paths = names + [f"{rng.choice(names)}.{i}" for i in range(300)]
    marks = [
        {p: rng.randrange(0, 100) * 10.0 for p in paths if rng.random() < 0.8},
        {p: rng.randrange(0, 20) * 60.0 for p in paths if rng.random() < 0.8},
    ]
    rows = [(p, rng.uniform(0, 1500.0), 1.0) for p in paths for _ in range(4)]
    due = [(10, 1_200.0, marks[0]), (60, 1_200.0, marks[1])]
    got = sorted(
        (r.path, r.timestamp, r._table)
        for r in db._eligible_rows(
            spark.createDataFrame(rows, "path string, timestamp double, value double"),
            due,
        ).collect()
    )
    want = sorted(
        (p, ts, i)
        for p, ts, _v in rows
        for i, (s, fe, hwms) in enumerate(due)
        if (hwms[p] + s if p in hwms else 0.0) <= ts < fe
    )
    assert got == want


def test_path_catalog_re_resolves_a_retired_file_and_raises_on_a_lost_one(
    spark, tsdb_dir, monkeypatch
):
    """A file list resolved before a commit removed one of its files is
    re-resolved; a live file that is gone from disk raises, as a scan
    does, instead of retrying forever.  The same holds for the catalog
    and for get_metric's driver read of the period table."""
    from smalltsdb_spark import storage

    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1_000.0)
    db.insert([("a", 5.0, 1.0), ("b", 15.0, 2.0)])
    db.sync()
    table = db._period_path("tensecond")
    live = storage.live_files(table)
    real = storage.live_files
    answers = iter([])
    monkeypatch.setattr(
        storage, "live_files", lambda path: next(answers, None) or real(path)
    )
    stale = [*live, "pday=0/part-retired.parquet"]
    answers = iter([stale])
    assert db._catalog.hwms(table) == {"a": 0.0, "b": 10.0}
    answers = iter([stale])
    assert db.get_metric("b", "tensecond", "avg", (0, 100)) == [(10.0, 2.0)]
    os.remove(os.path.join(table, live[0]))
    with pytest.raises(FileNotFoundError):
        db._catalog.hwms(table)
    with pytest.raises(FileNotFoundError):
        db.get_metric("b", "tensecond", "avg", (0, 100))


def test_path_catalog_older_snapshot_keeps_newer_files(tmp_path, monkeypatch):
    """Only the newest resolution of a table's live files evicts: a
    reader that resolved before a commit and folds after it answers from
    its own snapshot and leaves the commit's files cached, so neither
    side summarizes the other's files again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from smalltsdb_spark import catalog, storage

    table = str(tmp_path)
    for name, path, ts in [("old", "a", 10.0), ("new", "b", 20.0)]:
        pq.write_table(
            pa.table({"path": [path], "timestamp": [ts]}),
            os.path.join(table, f"{name}.parquet"),
        )
    reads = []
    real = catalog.file_hwms
    monkeypatch.setattr(
        catalog, "file_hwms", lambda f: reads.append(os.path.basename(f)) or real(f)
    )
    cat = catalog.PathCatalog()
    # resolution 1 saw old.parquet; a commit swapped it for new.parquet;
    # resolution 2 saw that and folds first, then resolution 1 folds
    assert cat._fold(table, ["new.parquet"], 2) == {"b": 20.0}
    assert cat._fold(table, ["old.parquet"], 1) == {"a": 10.0}
    assert cat._fold(table, ["new.parquet"], 3) == {"b": 20.0}
    assert reads == ["new.parquet", "old.parquet"]
    monkeypatch.setattr(storage, "live_files", lambda path: ["new.parquet"])
    assert cat.hwms(table) == {"b": 20.0}
    assert reads == ["new.parquet", "old.parquet"]


# ---------------------------------------------------------------------------
# The driver pass against the Spark plan
# ---------------------------------------------------------------------------


def _same_double(a, b) -> bool:
    """Equal as doubles, NaN equal to NaN and −0.0 to 0.0 (Spark returns
    either zero, by row order)."""
    import math

    return a == b or (math.isnan(a) and math.isnan(b))


def _close_double(a, b) -> bool:
    """:func:`_same_double`, or within the oracle's tolerance."""
    import math

    return _same_double(a, b) or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _table_rows(db, name) -> dict:
    """``{key: row}`` of a period table or the histogram, read by Spark."""
    from smalltsdb_spark import storage

    if name == "histogram":
        df = db._histogram_table().drop(storage.PARTITION_COLUMN)
        return {tuple(r[:3]): tuple(r) for r in df.collect()}
    return {tuple(r[:2]): r.asDict() for r in db.period_table(name).collect()}


def test_driver_sync_equals_the_spark_plan_on_a_random_schedule(
    spark, tmp_path, monkeypatch, appends_never_collide
):
    """The random schedule of
    :func:`test_idle_sync_matches_full_sync_on_a_random_schedule`, with
    values that tie and hold NaN, ±∞ and −0.0, applied to three stores
    with histograms: one whose syncs run on the driver, one on the Spark
    plan (``_DRIVER_ROWS`` = 0), and one whose small limit sends its
    first syncs to the driver and later ones to Spark.  After every sync
    all three hold the same keys; n, min, max and the percentiles are
    equal as doubles, sum and avg within the oracle's tolerance, and the
    histograms are equal.  Each sync's path is recorded, and every store
    took the paths it was meant to."""
    import random

    from smalltsdb_spark import storage

    rng = random.Random(20261019)
    clock = {"now": 4_000.0}
    kw = dict(periods=_Twins.PERIODS, now=lambda: clock["now"], histograms=True)
    limits = {"driver": storage._DRIVER_ROWS, "spark": 0, "mixed": 40}
    dbs = {name: TablesTSDB(spark, str(tmp_path / name), **kw) for name in limits}
    took = {name: [] for name in limits}
    real = TablesTSDB._sync_on_driver

    def recording(self, due, staging):
        on_driver = real(self, due, staging)
        took[os.path.basename(self.path)].append(on_driver)
        return on_driver

    monkeypatch.setattr(TablesTSDB, "_sync_on_driver", recording)
    pool = [1.0, 2.0, 2.0, 5.5, -3.25, 0.0, -0.0, float("nan"), float("inf"), -float("inf")]

    def value():
        return rng.choice(pool) if rng.random() < 0.5 else round(rng.uniform(-50, 2_000), 1)

    def insert(lo, hi):
        points = [
            (rng.choice(["a", "b", "c"]), rng.uniform(lo, hi), value())
            for _ in range(rng.randint(3, 12))
        ]
        for db in dbs.values():
            db.insert(points)

    def sync_all():
        for name, db in dbs.items():
            with monkeypatch.context() as m:
                m.setattr(storage, "_DRIVER_ROWS", limits[name])
                db.sync()
        tables = [n for n, _ in _Twins.PERIODS] + ["histogram"]
        want = {t: _table_rows(dbs["spark"], t) for t in tables}
        for name in ("driver", "mixed"):
            for t in tables:
                got = _table_rows(dbs[name], t)
                assert got.keys() == want[t].keys(), (name, t)
                for key, row in got.items():
                    if t == "histogram":
                        assert row == want[t][key], (name, key)
                        continue
                    other = want[t][key]
                    for stat in ("n", "min", "max", "p50", "p90", "p99"):
                        assert _same_double(row[stat], other[stat]), (name, t, key, stat)
                    for stat in ("sum", "avg"):
                        assert _close_double(row[stat], other[stat]), (name, t, key, stat)

    insert(0.0, 600.0)
    sync_all()
    for _ in range(12):
        step = rng.choice(["ahead", "behind", "advance", "sync"])
        if step == "ahead":
            insert(clock["now"] - 200.0, clock["now"])
        elif step == "behind":
            insert(clock["now"] - 3_000.0, clock["now"] - 500.0)
        elif step == "advance":
            clock["now"] += rng.choice([5.0, 60.0, 700.0])
        else:
            sync_all()
    clock["now"] += 3_600.0
    sync_all()
    assert took["driver"] and all(took["driver"])
    assert took["spark"] and not any(took["spark"])
    assert True in took["mixed"] and False in took["mixed"]
    assert any(p.endswith("histogram") for p in appends_never_collide)


def test_driver_reads_hold_one_file_open_at_a_time(tmp_path):
    """The driver pass's read and driver compaction take a table of more
    small files than the process may hold open: each file is open only
    while its footer or its chosen row groups are read.  A child process
    lowers its own soft ``RLIMIT_NOFILE`` below the file count first."""
    import subprocess
    import sys
    import textwrap

    files, limit = 600, 256
    script = textwrap.dedent(
        f"""
        import resource
        from smalltsdb_spark import storage
        from smalltsdb_spark.schemas import INCOMING_SCHEMA

        path = {str(tmp_path / "incoming")!r}
        for i in range({files}):
            storage.append_rows([("a", float(i), 1.0)], path, INCOMING_SCHEMA)
        assert len(storage.live_files(path)) == {files}
        _soft, hard = resource.getrlimit(resource.RLIMIT_NOFILE)
        resource.setrlimit(resource.RLIMIT_NOFILE, ({limit}, hard))
        rows = storage.read_files(
            path, storage.live_files(path), INCOMING_SCHEMA, {files},
            where=lambda lo, hi: lo < {files - 1},
        )
        assert rows.num_rows == {files - 1}, rows.num_rows
        assert storage.compact_partitions(None, path, INCOMING_SCHEMA) == [0]
        (rel,) = storage.live_files(path)
        rows = storage.read_files(path, [rel], INCOMING_SCHEMA, {files})
        assert rows["timestamp"].to_pylist() == [float(i) for i in range({files})]
        print("OK")
        """
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert "OK" in out.stdout


def test_driver_writes_are_zstd_and_spark_reads_them_back(spark, tmp_path):
    """Every file the driver writes — an insert, sync's pass, compaction
    and retention's rewrite of a straddling file — is zstd-compressed in
    every column chunk, and Spark's ``read_table`` reads back its rows."""
    import pyarrow.parquet as pq

    from smalltsdb_spark import storage
    from smalltsdb_spark.intervals import final_end
    from smalltsdb_spark.operators.aggregate import aggregate
    from smalltsdb_spark.schemas import AGG_SCHEMA, INCOMING_SCHEMA

    db = TablesTSDB(spark, str(tmp_path / "db"), periods=_Twins.PERIODS, now=lambda: 4_000.0)
    rows = [(p, float(t), float(t % 7)) for p in ("a", "b") for t in range(5, 3_900, 100)]
    for half in (rows[::2], rows[1::2]):
        db.insert(half)
    db.sync()
    assert db.compact()["incoming"] == [0]
    (straddling,) = storage.live_files(db.incoming_path)
    storage._keep_rows_at_or_above(
        os.path.join(db.incoming_path, straddling), "timestamp", 1_000.0
    )
    kept = sorted(r for r in rows if r[1] >= 1_000.0)

    tables = [db.incoming_path, *(db._period_path(n) for n, _ in _Twins.PERIODS)]
    for table in tables:
        files = storage.live_files(table)
        assert files, table
        for rel in files:
            meta = pq.read_metadata(os.path.join(table, rel))
            codecs = {
                meta.row_group(i).column(c).compression
                for i in range(meta.num_row_groups)
                for c in range(meta.num_columns)
            }
            assert codecs == {"ZSTD"}, (table, rel)
    incoming = storage.read_table(spark, db.incoming_path, INCOMING_SCHEMA)
    assert sorted(map(tuple, incoming.collect())) == kept
    source = spark.createDataFrame(rows, INCOMING_SCHEMA)
    for name, seconds in _Twins.PERIODS:
        got = storage.read_table(spark, db._period_path(name), AGG_SCHEMA)
        fe = final_end(seconds, db.tail, 4_000.0)
        want = aggregate(source.filter(F.col("timestamp") < fe), seconds)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), name
