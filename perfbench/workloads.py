"""The benchmark's workloads, driven through the engine's public API.

Each workload is a function ``(bench) -> None`` that sets up, marks the
start of the timed phase with ``bench.start_timing()``, runs operations
through ``bench.op(...)`` (or measures them itself and hands them to
``bench.record(...)``) until the phase's time is up, ends the phase with
``bench.stop_timing()`` and then checks the outputs with
``bench.check(...)``.  ``bench`` is the harness of ``run.py``.
"""

from __future__ import annotations

import datetime
import json
import os
import socket
import statistics
import threading
import time
import urllib.parse

import numpy as np

from perfbench import gen
from smalltsdb_spark import config
from perfbench.oracle import STATS, Oracle, same_rows, same_series

PERIODS = config.PERIODS
PERIOD_SECONDS = dict(PERIODS)
HOUR = 3600.0
DAY = 86400.0

#: the daemon's flush interval: the ``--interval`` default of
#: ``smalltsdb rundev``, the one-process harness this loop copies
DAEMON_INTERVAL = 1.0

# Rates are sized to the run budget (one sync tick of about 10 s per run),
# not taken from an observed deployment.  For scale: rundev's synthetic
# history is one point every 5 s on one path, 720 per simulated hour.

# ingest_sync: 0.5 datapoints per simulated second over 1000 paths, one
# simulated hour per tick (1800 lines; every tick crosses exactly one hour
# boundary and no day boundary within 20 ticks), one day pre-filled
INGEST_RATE = 0.5
INGEST_STEP = HOUR
INGEST_PREFILL_STEPS = 25
INGEST_CHECK_PATHS = 6

#: the dashboard's read mix, one cycle after each tick: 6 recent-window
#: get_metric (the last hour, tensecond/oneminute, Zipf-hot paths), one
#: /graph of 3 such series, 2 whole-store get_metric (onehour/oneday) and 1
#: list_metrics; 9 of the cycle's 11 get_metric calls (82 %) read a recent
#: window
READ_CYCLE = ["recent", "recent", "graph", "recent", "long", "recent", "list", "recent", "recent", "long"]

# stream: the topology of ``smalltsdb stream`` (1 ingest + 6 rollup
# queries) on its shortest trigger (``--interval`` is whole seconds); one
# spool file of one simulated hour (1800 lines) every STREAM_GAP_S wall
# seconds.  On 4 cores the 7 queries take 5-7 s to read a file and about
# 3 s more for the batches that finalize its buckets; 8 s lets them read
# each file before the next is due.
STREAM_RATE = 0.5
STREAM_STEP = HOUR
STREAM_GAP_S = 8.0
STREAM_TRIGGER = "1 seconds"
#: spool files consumed before the timed phase (cold first micro-batches)
STREAM_WARMUP_FILES = 1
STREAM_CHECK_PATHS = 6


def _dir_stats(root: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``root``."""
    size = files = 0
    for base, _dirs, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return size, files


def _committed_files(table: str) -> list[str]:
    """The parquet files a table's readers see: its manifest's, or for a
    table a streaming file sink owns, its ``_spark_metadata`` log's."""
    from smalltsdb_spark import storage

    manifest = storage.read_manifest(table)
    if manifest is not None:
        return [os.path.join(table, rel) for files in manifest.values() for rel in files]
    log = storage.read_sink_log(table)
    return [os.path.join(table, rel) for rel in sorted(log[0])] if log else []


def _committed_buckets(table: str, paths: list[str]) -> dict[str, dict[float, dict]]:
    """``{path: {bucket: {stat: value}}}`` of ``paths`` in a period table,
    read from its committed files; a bucket stored twice reads as all-None
    stats, which no oracle row equals."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    got: dict[str, dict[float, dict]] = {p: {} for p in paths}
    for f in _committed_files(table):
        t = pq.read_table(f, columns=["path", "timestamp", *STATS])
        for r in t.filter(pc.is_in(t["path"], pa.array(paths))).to_pylist():
            rows = got[r["path"]]
            dup = r["timestamp"] in rows
            rows[r["timestamp"]] = dict.fromkeys(STATS) if dup else {s: r[s] for s in STATS}
    return got


def _check_buckets(bench, root: str, oracle: Oracle, paths: list[str], now: float) -> None:
    """Every bucket of ``paths`` in all 6 period tables against the oracle's
    final buckets at ``now``."""
    for name, seconds in PERIODS:
        got = _committed_buckets(os.path.join(root, name), paths)
        for p in paths:
            bench.check(f"{name} {p}", same_rows(got[p], oracle.final_buckets(p, seconds, now)))


def _storage_gauges(bench, root: str, incoming: str, retained_points: int) -> None:
    """Run-end storage measures: bytes per retained datapoint, parquet
    files, incoming's files, and files no manifest references."""
    from smalltsdb_spark import storage

    size, files = _dir_stats(root)
    _, incoming_files = _dir_stats(incoming)
    retired = 0
    for name, _ in PERIODS:
        table = os.path.join(root, name)
        live = storage.read_manifest(table)
        if live is not None:
            retired += _dir_stats(table)[1] - sum(len(v) for v in live.values())
    bench.named("store_bytes_per_dp", size / max(retained_points, 1), "B")
    bench.layer["storage.files"] = float(files)
    bench.layer["storage.incoming_files"] = float(incoming_files)
    bench.layer["storage.retired_files"] = float(retired)


def _sync_phases(bench, db) -> dict[str, float]:
    """The library's own per-phase sync timings (``db.timer.collected``)."""
    out = {}
    for label, _start, seconds in db.timer.collected:
        parts = label.split(".")
        if parts[-1] != "time" or parts[0] != "sync":
            continue
        if parts[1] in PERIOD_SECONDS and parts[2] == "all":
            out[f"tsdb.sync.{parts[1]}.s"] = seconds
        elif parts[1] in PERIOD_SECONDS and parts[2] == "upsert_query":
            out[f"tsdb.sync.{parts[1]}.upsert_s"] = seconds
        elif parts[1] == "delete_incoming_query":
            out["tsdb.sync.retention_s"] = seconds
    return out


def _trace_engine(bench, db) -> None:
    """Spans around the engine's layer boundaries below the top-level call."""
    from smalltsdb_spark import storage, tsdb

    tr = bench.tracer
    tr.wrap(tsdb, "aggregate", "operators.aggregate")
    for fn in ("read_table", "append", "overwrite_partitions", "drop_partitions_below", "write_manifest"):
        tr.wrap(storage, fn, f"storage.{fn}")


class Reads:
    """The dashboard's closed-loop reads over one store: ``get_metric``,
    ``list_metrics`` and ``/graph`` (Flask test client, JSON), one at a
    time, each answer kept for the output check."""

    def __init__(self, bench, db, traffic: gen.Traffic, store_start: float):
        from smalltsdb_spark.app import create_app

        self.bench, self.db, self.traffic, self.store_start = bench, db, traffic, store_start
        self.client = create_app(db).test_client()
        self.get_metric = db.get_metric  # the unwrapped method: a top-level call
        self.rng = np.random.default_rng([traffic.seed, 4])
        self.done: list[tuple[dict, object, float]] = []

    def make(self, kind: str, now: float) -> dict:
        rng, traffic = self.rng, self.traffic

        def recent_window():
            hi = float(np.floor(now - 60.0 - rng.uniform(0, 1800)))
            return (hi - HOUR, hi)

        read = {"kind": kind, "now": now}
        if kind == "recent":
            read |= {
                "path": traffic.sample_paths(rng, 1)[0],
                "period": ["tensecond", "oneminute"][rng.integers(2)],
                "stat": STATS[rng.integers(len(STATS))],
                "interval": recent_window(),
            }
        elif kind == "long":
            read |= {
                "path": traffic.sample_paths(rng, 1)[0],
                "period": ["onehour", "oneday"][rng.integers(2)],
                "stat": STATS[rng.integers(len(STATS))],
                "interval": (self.store_start, now),
            }
        elif kind == "graph":
            lo, hi = recent_window()
            series = [
                (p, ["tensecond", "oneminute"][rng.integers(2)], STATS[rng.integers(len(STATS))])
                for p in traffic.sample_paths(rng, 3)
            ]
            query = {"start": int(lo), "end": int(hi)}
            for i, (p, per, st) in enumerate(series):
                query |= {f"metrics.{i}.name": p, f"metrics.{i}.period": per, f"metrics.{i}.stat": st}
            read |= {"series": series, "interval": (lo, hi), "query": query}
        return read

    def run(self, read: dict):
        tr, spark = self.bench.tracer, self.bench.spark
        kind = read["kind"]
        if kind in ("recent", "long"):
            args = (read["path"], read["period"], read["stat"], read["interval"])
            return tr.call("tsdb.get_metric", self.get_metric, *args, spark=spark)
        if kind == "list":
            return tr.call("tsdb.list_metrics", self.db.list_metrics, spark=spark)
        resp = tr.call("app.graph", self.client.get, "/graph", query_string=read["query"], spark=spark)
        if resp.status_code != 200:
            raise RuntimeError(f"/graph answered {resp.status_code}")
        return resp.get_json()

    def warm_up(self, now: float) -> None:
        """One read of each kind, untimed."""
        for kind in dict.fromkeys(READ_CYCLE):
            self.run(self.make(kind, now))

    def cycle(self, now: float) -> None:
        """One timed cycle of the mix, one operation per read."""
        for kind in READ_CYCLE:
            read = self.make(kind, now)
            with self.bench.op(kind, True) as op:
                answer = self.run(read)
            if not op.failed:
                read["op"] = op.id
                self.done.append((read, answer, op.seconds))

    def report(self) -> None:
        bench, tr = self.bench, self.bench.tracer
        by_kind: dict[str, list[float]] = {}
        for read, _answer, secs in self.done:
            by_kind.setdefault(read["kind"], []).append(secs * 1000.0)
        bench.named_summary("get_metric_p50_ms", by_kind.get("recent", []) + by_kind.get("long", []), "ms")
        bench.named_summary("list_metrics_p50_ms", by_kind.get("list", []), "ms")
        bench.named_summary("graph_p50_ms", by_kind.get("graph", []), "ms")
        graphs = [r["op"] for r, _a, _s in self.done if r["kind"] == "graph"]
        if tr.enabled and graphs:
            over, calls = [], []
            for op_id in graphs:
                (g,) = tr.by_name("app.graph", {op_id})
                kids = tr.by_name("tsdb.get_metric", {op_id})
                calls.append(len(kids))
                over.append((g["end"] - g["start"]) - sum(s["end"] - s["start"] for s in kids))
            bench.layer["app.graph.get_metric_calls"] = statistics.median(calls)
            bench.layer["app.graph.overhead_s"] = statistics.median(over)

    def check(self, oracle: Oracle) -> None:
        """Every timed answer against the oracle at the read's clock."""
        for read, answer, _secs in self.done:
            kind, now = read["kind"], read["now"]
            if kind in ("recent", "long"):
                seconds = PERIOD_SECONDS[read["period"]]
                want = oracle.get_metric(read["path"], seconds, read["stat"], read["interval"], now)
                self.bench.check(f"get_metric {read}", same_series(answer, want))
            elif kind == "list":
                self.bench.check("list_metrics", answer == oracle.list_metrics(list(PERIOD_SECONDS.values()), now))
            else:
                ok = len(answer["series"]) == len(read["series"])
                for got, (p, per, st) in zip(answer["series"], read["series"]):
                    want = oracle.get_metric(p, PERIOD_SECONDS[per], st, read["interval"], now) or [(0.0, 0.0)]
                    ok = ok and same_series(list(zip(got["timestamps"], got["values"])), want)
                self.bench.check(f"graph {read['query']}", ok)


# ---------------------------------------------------------------------------
# ingest_sync
# ---------------------------------------------------------------------------


def ingest_sync(bench) -> None:
    """Closed loop, one sender and one reader, the ``smalltsdb rundev`` loop
    (daemon, web app and sync in one process): each round is a tick, which
    sends one simulated hour of Graphite lines over one TCP connection to a
    ``Daemon`` whose sink is ``TSDB.insert``, advances the injected clock,
    calls ``sync()`` and then ``sync()`` again with nothing new, and then
    one cycle of the dashboard's reads of the synced store."""
    from smalltsdb_spark import TSDB
    from smalltsdb_spark.sources.daemon import Daemon

    spark, tr = bench.spark, bench.tracer
    traffic = gen.Traffic(bench.seed, INGEST_RATE)
    t0 = gen.EPOCH_BASE + 1800.0
    timeline = gen.Timeline(traffic, start=t0, step=INGEST_STEP)
    clock = {"now": t0}
    db = TSDB(spark, os.path.join(bench.work, "db"), now=lambda: clock["now"])

    flushes: list[tuple[float, float, int]] = []
    sunk = {"n": 0}
    cond = threading.Condition()

    def sink(batch):
        start = time.perf_counter()
        tr.call("tsdb.insert", db.insert, batch, spark=spark)
        end = time.perf_counter()
        with cond:
            flushes.append((start, end, len(batch)))
            sunk["n"] += len(batch)
            cond.notify_all()

    def send(idx, ts, val) -> dict:
        """The points over one TCP connection; returns once the daemon's
        sink has taken all of them."""
        payload = gen.wire_lines(traffic.paths, idx, ts, val)
        with cond:
            want = sunk["n"] + len(idx)
            n_flushes = len(flushes)
        t_send = time.perf_counter()
        with socket.create_connection(daemon.address) as s:
            s.sendall(payload)
            s.shutdown(socket.SHUT_WR)
        send_s = time.perf_counter() - t_send
        with cond:
            if not cond.wait_for(lambda: sunk["n"] >= want, timeout=60):
                raise RuntimeError("daemon did not flush the points")
            mine = flushes[n_flushes:]
        return {
            "points": len(idx),
            "send_s": send_s,
            "ingest_s": mine[-1][1] - t_send,
            "queue_wait_s": mine[0][0] - (t_send + send_s),
            "flush_s": sum(e - s for s, e, _ in mine),
            "flushes": len(mine),
        }

    daemon = Daemon(sink, ("127.0.0.1", 0), interval=DAEMON_INTERVAL)
    daemon.start()
    try:
        # pre-fill one simulated day (plus the hour incoming retention drops
        # at the first sync) through the daemon, then sync: retention is in
        # steady state from the first tick, and the daemon, insert and sync
        # paths have all run once
        parts = [timeline.delivery(k) for k in range(1 - INGEST_PREFILL_STEPS, 1)]
        bench.phase("pre-fill insert")
        send(*(np.concatenate(c) for c in zip(*parts)))
        bench.phase("pre-fill sync")
        db.sync()
        bench.phase("warm-up reads")
        reads = Reads(bench, db, traffic, store_start=timeline.bounds(1 - INGEST_PREFILL_STEPS)[0])
        reads.warm_up(clock["now"])
        ticks: list[dict] = []

        def tick(k: int) -> dict | None:
            with bench.op("tick", True) as op:
                rec = send(*timeline.delivery(k))
                clock["now"] = timeline.bounds(k)[1]
                t = time.perf_counter()
                tr.call("tsdb.sync", db.sync, spark=spark)
                rec["sync_s"] = time.perf_counter() - t
                rec.update(_sync_phases(bench, db))
                t = time.perf_counter()
                tr.call("tsdb.idle_sync", db.sync, spark=spark)
                rec["idle_sync_s"] = time.perf_counter() - t
            return None if op.failed else rec

        if bench.tracer.enabled:
            _trace_engine(bench, db)
            tr.wrap(db, "get_metric", "tsdb.get_metric")  # /graph's calls
        bench.start_timing()
        k, round_s = 1, 0.0
        while bench.more(round_s):
            t = time.perf_counter()
            rec = tick(k)
            if rec is None:
                break  # the store's state is unknown after a failed tick
            ticks.append(rec)
            bench.points_ingested += rec["points"]
            reads.cycle(clock["now"])
            round_s = time.perf_counter() - t
            k += 1
        bench.stop_timing()
    finally:
        daemon.stop()
        bench.tracer.unwrap()

    # -- end-to-end figures of this workload ---------------------------------
    bench.named_summary("ingest_dps", [r["points"] / r["ingest_s"] for r in ticks], "dp/s")
    bench.named_summary("sync_p50_s", [r["sync_s"] for r in ticks], "s")
    bench.named_summary("idle_sync_p50_s", [r["idle_sync_s"] for r in ticks], "s")
    reads.report()

    # -- per-layer -------------------------------------------------------------
    if bench.tracer.enabled and ticks:
        med = statistics.median
        bench.layer.update(
            {
                "sources.daemon.send_s": med(r["send_s"] for r in ticks),
                "sources.daemon.queue_wait_s": med(r["queue_wait_s"] for r in ticks),
                "sources.daemon.flush_s": med(r["flush_s"] for r in ticks),
                "sources.daemon.flushes": med(r["flushes"] for r in ticks),
                "sources.daemon.dps_per_flush": med(r["points"] / r["flushes"] for r in ticks),
            }
        )
        for key in [k for k in ticks[0] if k.startswith("tsdb.sync.")]:
            bench.layer[key] = med(r.get(key, 0.0) for r in ticks)

    # -- output check ------------------------------------------------------------
    now = clock["now"]
    oracle = Oracle(traffic.paths, *timeline.delivered())
    rng = np.random.default_rng([traffic.seed, 3])
    _check_buckets(bench, db.path, oracle, traffic.check_paths(rng, INGEST_CHECK_PATHS), now)
    reads.check(oracle)
    cutoff = now - 60.0 - DAY
    _storage_gauges(bench, db.path, db.incoming_path, int((timeline.delivered()[1] >= cutoff).sum()))


# ---------------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------------

#: per-layer measures read from each micro-batch's ``durationMs``
PROGRESS_DURATIONS = {
    "batch_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
    "latest_offset_s": "latestOffset",
    "query_planning_s": "queryPlanning",
}


def _batch_interval(progress) -> tuple[float, float]:
    """Wall-clock ``(start, end)`` of a micro-batch, epoch seconds."""
    start = datetime.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    t = start.replace(tzinfo=datetime.timezone.utc).timestamp()
    return t, t + progress["durationMs"]["triggerExecution"] / 1000.0


def _file_batches(checkpoint: str) -> dict[str, int]:
    """Spool file name → id of the query's micro-batch that read it.

    Read from the query's checkpoint: the file source's log
    (``sources/0/<n>[.compact]``: a ``v1`` line, then one JSON entry per
    file) numbers files by the source's own batches, and the query's
    offset log (``offsets/<batch>``: a ``v1`` line, the batch metadata,
    then the source's ``{"logOffset": n}``) says up to which source batch
    each micro-batch read."""

    def entries(directory):
        for name in os.listdir(directory):
            if not name.startswith("."):
                with open(os.path.join(directory, name)) as f:
                    yield name, f.read().splitlines()

    source = {}
    for _name, lines in entries(os.path.join(checkpoint, "sources", "0")):
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                source[os.path.basename(urllib.parse.unquote(e["path"]))] = e["batchId"]
    read_up_to = sorted(
        (json.loads(lines[2])["logOffset"], int(name))
        for name, lines in entries(os.path.join(checkpoint, "offsets"))
    )
    out = {}
    for name, n in source.items():
        # the first micro-batch whose offset covers source batch n
        out[name] = min(batch for offset, batch in read_up_to if offset >= n)
    return out


def stream(bench) -> None:
    """Open loop: a generator writes ``SpoolSink`` files on a fixed
    schedule, whatever the engine's speed, and the 7 streaming queries of
    ``smalltsdb stream`` (1 ingest, 6 rollups) consume them on a 1 s
    processing-time trigger.  An operation is one spool file; its time is
    the lag from the file's due time to the end of the last of the 7
    queries' micro-batches that read it."""
    from smalltsdb_spark.sources.daemon import SpoolSink
    from smalltsdb_spark.streaming import read_spool_stream, start_ingest, start_rollup

    spark = bench.spark
    traffic = gen.Traffic(bench.seed, STREAM_RATE)
    # one simulated hour before a day boundary: the first timed file moves
    # the watermark past it, so every period has final buckets to check
    timeline = gen.Timeline(traffic, start=gen.EPOCH_BASE - HOUR, step=STREAM_STEP)
    spool = os.path.join(bench.work, "spool")
    root = os.path.join(bench.work, "db")
    checkpoints = os.path.join(bench.work, "checkpoints")
    sink = SpoolSink(spool)
    files: dict[str, dict] = {}

    def deliver(k: int, due: float) -> str:
        idx, ts, val = timeline.delivery(k)
        before = set(os.listdir(spool))
        sink([(str(traffic.paths[i]), float(t), float(v)) for i, t, v in zip(idx, ts, val)])
        (name,) = set(os.listdir(spool)) - before
        files[name] = {"due": due, "written": time.time()}
        return name

    bench.phase("warm-up files")
    for k in range(1, STREAM_WARMUP_FILES + 1):
        deliver(k, time.time())
    queries = {
        "ingest": start_ingest(
            read_spool_stream(spark, spool),
            os.path.join(root, "incoming"),
            os.path.join(checkpoints, "ingest"),
            interval=STREAM_TRIGGER,
        )
    }
    try:
        for name, seconds in PERIODS:
            queries[name] = start_rollup(
                read_spool_stream(spark, spool),
                os.path.join(root, name),
                os.path.join(checkpoints, name),
                seconds,
                interval=STREAM_TRIGGER,
            )
        bench.phase("warm-up batches")
        for q in queries.values():
            q.processAllAvailable()
        bench.job_groups = [str(q.runId) for q in queries.values()]
        bench.start_timing()
        t_start = time.time()
        deadline = t_start + bench.seconds
        timed: list[str] = []
        k = STREAM_WARMUP_FILES + 1
        while (due := t_start + len(timed) * STREAM_GAP_S) < deadline:
            time.sleep(max(0.0, due - time.time()))
            timed.append(deliver(k, due))
            k += 1
        time.sleep(max(0.0, deadline - time.time()))
        bench.phase("drain")
        for q in queries.values():
            q.processAllAvailable()
        bench.stop_timing()
        progress = {n: list(q.recentProgress) for n, q in queries.items()}
    finally:
        for q in queries.values():
            q.stop()
    read_by = {n: _file_batches(os.path.join(checkpoints, n)) for n in queries}
    ends = {n: {p["batchId"]: _batch_interval(p)[1] for p in ps} for n, ps in progress.items()}

    def consumed_at(name: str) -> float:
        """When the last of the queries finished the batch that read ``name``."""
        return max(ends[n].get(read_by[n].get(name), float("inf")) for n in queries)

    def backlog(t: float) -> int:
        """Files written by ``t`` and not yet read by all the queries."""
        return sum(f["written"] <= t < consumed_at(name) for name, f in files.items())

    lags = []
    for name in timed:
        lag = consumed_at(name) - files[name]["due"]
        bench.record("file", lag, failed=lag == float("inf"))
        if lag != float("inf"):
            lags.append(lag)
    timed_batches = {n: [p for p in ps if _batch_interval(p)[0] >= t_start] for n, ps in progress.items()}
    # jobs per micro-batch; an ingest batch that read nothing runs no job
    bench.job_ops = sum(len(ps) for ps in timed_batches.values()) - sum(
        p["numInputRows"] == 0 for p in timed_batches["ingest"]
    )

    # -- end-to-end figures of this workload ---------------------------------
    bench.named_summary("stream_lag_p50_s", lags, "s")
    # backlog when the first and when the last timed file is due: above 0
    # at the end, the files come faster than the queries read them
    end_backlog = float(backlog(files[timed[-1]]["due"]))
    bench.named("backlog_start_files", float(backlog(t_start)), "files")
    bench.named("backlog_end_files", end_backlog, "files")
    bench.named("micro_batches", float(bench.job_ops), "count")

    # -- per-layer -------------------------------------------------------------
    for layer, names in (("ingest", ["ingest"]), ("rollup", [n for n, _ in PERIODS])):
        ps = [timed_batches[n] for n in names]
        for measure, field in PROGRESS_DURATIONS.items():
            bench.layer[f"streaming.{layer}.{measure}"] = sum(
                statistics.median([p["durationMs"].get(field, 0) / 1000.0 for p in b]) for b in ps if b
            )
        bench.layer[f"streaming.{layer}.batches"] = sum(map(len, ps)) / max(len(timed), 1)
        # rows a micro-batch that read a file took in: 1800 per file read
        rows = [p["numInputRows"] for b in ps for p in b if p["numInputRows"]]
        bench.layer[f"streaming.{layer}.input_rows"] = statistics.median(rows) if rows else 0.0
        if layer == "rollup":
            last = [progress[n][-1]["stateOperators"][0] for n in names if progress[n]]
            bench.layer["streaming.rollup.state_rows"] = float(sum(o["numRowsTotal"] for o in last))
            bench.layer["streaming.rollup.state_bytes"] = float(sum(o["memoryUsedBytes"] for o in last))
    bench.layer["streaming.backlog_files"] = end_backlog
    bench.layer["generator.late_max_s"] = max(files[n]["written"] - files[n]["due"] for n in timed)

    # -- output check ------------------------------------------------------------
    import pyarrow.parquet as pq

    idx, ts, val = timeline.delivered()
    oracle = Oracle(traffic.paths, idx, ts, val)
    rng = np.random.default_rng([traffic.seed, 5])
    # the rollups' watermark: the largest timestamp read, minus the tail
    _check_buckets(bench, root, oracle, traffic.check_paths(rng, STREAM_CHECK_PATHS), float(ts.max()))
    incoming = os.path.join(root, "incoming")
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in _committed_files(incoming))
    bench.check("incoming rows", rows == len(ts))
    _storage_gauges(bench, root, incoming, len(ts))


WORKLOADS = {"ingest_sync": ingest_sync, "stream": stream}

