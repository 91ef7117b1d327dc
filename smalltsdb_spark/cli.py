"""Command-line interface (reference cli.py:35-68): ``daemon`` and ``sync``.

    python -m smalltsdb_spark daemon --db /data/tsdb [--address host:port]
        [--interval 10] [--spool DIR] [--self-metrics]
    python -m smalltsdb_spark sync --db /data/tsdb [--lock-file PATH]
        [--emit-metrics] [--repeat SECONDS]

``sync --lock-file`` takes an OS-level ``flock`` so only one sync runs at
a time (the reference uses an inter-process lock for the same reason —
its SQLite writes would corrupt; ours would waste work and race the
dynamic-partition overwrite).  ``daemon`` runs the socket listener with a
direct-insert sink by default, or a durable spool (--spool) for the
streaming pipeline to pick up.
"""

from __future__ import annotations

import argparse
import contextlib
import fcntl
import signal
import sys
import threading
import time


def _parse_address(text: str) -> tuple[str, int]:
    host, _, port = text.rpartition(":")
    return host or "localhost", int(port)


@contextlib.contextmanager
def exclusive_lock(lock_file: str | None):
    if lock_file is None:
        yield
        return
    with open(lock_file, "a") as f:
        try:
            fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise SystemExit(f"another sync holds {lock_file}; exiting")
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)


def cmd_daemon(args) -> None:
    from smalltsdb_spark.session import get_spark
    from smalltsdb_spark.sources.daemon import Daemon, SpoolSink
    from smalltsdb_spark.tsdb import TSDB

    if args.spool:
        sink = SpoolSink(args.spool)
    else:
        spark = get_spark()
        # write-only handle, like the reference daemon (daemon.py:245)
        sink = TSDB(spark, args.db, with_aggregate=False).insert

    stop = threading.Event()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: stop.set())

    daemon = Daemon(
        sink,
        _parse_address(args.address),
        interval=args.interval,
        self_metric_prefix="smalltsdb.daemon" if args.self_metrics else None,
    )
    with daemon:
        print(f"listening on {daemon.address} (udp+tcp), flushing every {args.interval}s")
        stop.wait()
    print("drained and flushed; bye")


def cmd_sync(args) -> None:
    from smalltsdb_spark.session import get_spark
    from smalltsdb_spark.timer import Timer
    from smalltsdb_spark.tsdb import TSDB

    spark = get_spark()
    # self-metric names carry the reference's dotted prefix (cli.py:59-60)
    db = TSDB(
        spark,
        args.db,
        emit_metrics=args.emit_metrics,
        timer=Timer(prefix="smalltsdb") if args.emit_metrics else None,
        histograms=args.histograms,
    )
    with exclusive_lock(args.lock_file):
        while True:
            started = time.monotonic()
            db.sync()
            if not args.repeat:
                return
            time.sleep(max(0.0, args.repeat - (time.monotonic() - started)))


def cmd_compact(args) -> None:
    """Maintenance pass: coalesce fragmented partitions (see
    TSDB.compact).  Shares the sync lock, which keeps sync and other
    compactions out; an append (the daemon takes no lock) that lands
    meanwhile survives, since compaction takes out only the files it
    read."""
    from smalltsdb_spark.session import get_spark
    from smalltsdb_spark.storage import read_grain
    from smalltsdb_spark.tsdb import TSDB

    spark = get_spark()
    grain = read_grain(args.db)
    db = TSDB(
        spark,
        args.db,
        partition_grain="hour" if grain == 3600 else "day",
    )
    with exclusive_lock(args.lock_file):
        done = db.compact(max_files_per_partition=args.max_files)
    for table, parts in done.items():
        print(f"{table}: compacted {len(parts)} partition(s)")


def cmd_stream(args) -> None:
    """The always-on flavor: daemon spool → streaming ingest → one
    watermark rollup per period (streaming/pipeline.py).  sync() becomes
    unnecessary while this runs — finality is enforced by watermarks."""
    import os

    from smalltsdb_spark.config import PERIODS
    from smalltsdb_spark.session import get_spark
    from smalltsdb_spark.streaming import read_spool_stream, start_ingest, start_rollup

    from smalltsdb_spark.storage import read_grain

    spark = get_spark()
    ckpt = args.checkpoints or os.path.join(args.db, "_checkpoints")
    # honor the store's pinned partition grain: a TSDB handle may have
    # created this store with partition_grain='hour', and a day-grain
    # streaming writer would interleave mismatched pday values
    grain = read_grain(args.db)
    mft = getattr(args, "max_files_per_trigger", None)
    # each rollup runs on its own child session (session.state_session),
    # whose queries spark.streams does not see: wait on the handles, and
    # stop every one of them however the wait ends
    queries = []
    try:
        queries.append(
            start_ingest(
                read_spool_stream(spark, args.spool, max_files_per_trigger=mft),
                os.path.join(args.db, "incoming"),
                os.path.join(ckpt, "ingest"),
                interval=f"{int(args.interval)} seconds",
                grain_seconds=grain,
            )
        )
        for name, seconds in PERIODS:
            queries.append(
                start_rollup(
                    read_spool_stream(spark, args.spool, max_files_per_trigger=mft),
                    os.path.join(args.db, name),
                    os.path.join(ckpt, f"rollup_{name}"),
                    seconds,
                    tail=args.tail,
                    interval=f"{int(args.interval)} seconds",
                    grain_seconds=grain,
                )
            )
        print(f"{len(queries)} streaming queries running; ctrl-c to stop")
        # awaitTermination raises the query's error if it failed
        while not any(q.awaitTermination(0.5) for q in queries):
            pass
    except KeyboardInterrupt:
        pass
    finally:
        for q in queries:
            q.stop()


def cmd_decommission(args) -> None:
    """One-way handover of retired stream-owned tables back to batch
    ownership (storage.decommission_streaming_sink): removes each
    table's ``_spark_metadata`` sink log so the table is read by
    directory listing again and batch maintenance (sync upsert,
    compaction, retention) becomes legal.  ONLY run this after the
    streaming queries are stopped FOREVER — a resumed query would
    re-create a log listing only post-resume files, hiding everything
    older from log-based readers.  Shares the sync lock: the handover
    flips the table's writer protocol and must not race a syncer.
    The sink log is reconciled against the directory first
    (storage.reconcile_sink_log): part files a crashed trigger staged
    but never committed are quarantined / deleted / refused per
    ``--on-orphans`` BEFORE the log comes down, so the handover can
    never surface them as duplicate rows.  Refuse mode is atomic across
    the whole invocation: EVERY table is pre-checked before ANY
    handover happens, so "refuse the whole handover" means exactly
    that — no table is converted when a later one would have refused.
    Pure filesystem — no Spark session is started."""
    import os

    from smalltsdb_spark.storage import (
        STREAM_METADATA_DIR,
        decommission_streaming_sink,
        reconcile_sink_log,
    )

    tables = args.table
    if not tables:
        # autodetect: every immediate subdirectory carrying a sink log
        tables = sorted(
            n
            for n in os.listdir(args.db)
            if os.path.isdir(os.path.join(args.db, n, STREAM_METADATA_DIR))
        )
        if not tables:
            print("no stream-owned tables found")
            return
    allow_damaged = getattr(args, "allow_damaged_log", False)
    with exclusive_lock(args.lock_file):
        if args.on_orphans == "refuse":
            # pre-flight: a refusal anywhere must leave EVERY table
            # untouched, not just the ones after the failing table
            for t in tables:
                reconcile_sink_log(
                    os.path.join(args.db, t), on_orphans="refuse"
                )
        for t in tables:
            path = os.path.join(args.db, t)
            orphans = reconcile_sink_log(
                path,
                on_orphans=args.on_orphans,
                allow_damaged=allow_damaged,
            )
            if orphans:
                verb = "quarantined" if args.on_orphans == "quarantine" else "deleted"
                print(f"{t}: {verb} {len(orphans)} uncommitted file(s)")
            # reconcile=False: the pass above already ran — one log
            # parse + one tree walk per table, not two
            done = decommission_streaming_sink(
                path, on_orphans=args.on_orphans, reconcile=False
            )
            print(f"{t}: {'decommissioned' if done else 'not stream-owned'}")


def cmd_decommission_index(args) -> None:
    """One-way retirement of batch-versioned streaming INDEXES (span
    shingle counts, semantic assigned-vector lists) — the
    manifest-protocol symmetry of ``decommission``:
    manifests.decommission_manifest_index flattens each index's newest
    committed manifest into a plain partitioned directory (live files
    out of their attempt dirs, superseded files and every manifest
    removed) so an ordinary directory read serves the committed state.
    ONLY after the owning stream is stopped FOREVER — a resumed stream
    resolves no manifest and would rebuild from empty.  Shares the sync
    lock.  Pure filesystem — no Spark session is started."""
    import os

    from smalltsdb_spark import manifests

    indexes = args.index
    if not indexes:
        # autodetect: every immediate subdirectory holding a committed
        # versioned manifest
        indexes = sorted(
            n
            for n in os.listdir(args.db)
            if os.path.isdir(os.path.join(args.db, n))
            and manifests.latest_version(os.path.join(args.db, n)) is not None
        )
        if not indexes:
            print("no manifest-managed indexes found")
            return
    with exclusive_lock(args.lock_file):
        for name in indexes:
            final = manifests.decommission_manifest_index(
                os.path.join(args.db, name)
            )
            if final is None:
                print(f"{name}: not manifest-managed")
            else:
                n_files = sum(len(fs) for fs in final.values())
                print(
                    f"{name}: decommissioned "
                    f"({len(final)} partition(s), {n_files} file(s))"
                )


def cmd_rundev(args) -> None:
    """One-process dev harness (reference rundev.py:29-55): socket daemon
    + web app + a synthetic hour of ``local.random.diceroll`` datapoints
    delivered over TCP + a periodic sync loop.  The reference spawns
    flask/daemon/sync as subprocesses and pipes datapoints through ``nc``;
    here everything shares one SparkSession and the datapoints go through
    a real TCP connection to the same wire protocol."""
    import itertools
    import math
    import random
    import socket

    from smalltsdb_spark.session import get_spark
    from smalltsdb_spark.sources.daemon import Daemon
    from smalltsdb_spark.tsdb import TSDB

    spark = get_spark()
    db = TSDB(spark, args.db)
    daemon = Daemon(db.insert, _parse_address(args.address), interval=args.interval)

    with daemon:
        host, port = daemon.address
        print(f"daemon listening on {host}:{port} (udp+tcp)")

        # synthetic history: one diceroll every 5 s over the trailing
        # window, ~10% randomly dropped (reference rundev.py:37-46)
        rng = random.Random(args.seed)
        now = db._now()
        lines = []
        for i in range(args.points):
            if rng.randrange(10) == 0:
                continue
            ts = math.floor(now) - args.points * 5 + i * 5 + rng.random() / 10
            lines.append(f"local.random.diceroll {rng.randint(1, 6)} {ts}\n")
        with socket.create_connection(daemon.address) as s:
            s.sendall("".join(lines).encode())
        # wait until the daemon's async flush lands the datapoints (the
        # insert is a real Spark write — a fixed sleep races it).  Only
        # the incoming table not existing YET is expected here; any other
        # failure (bad db path, corrupt table) must surface immediately,
        # not as confusingly-empty sync output a minute later.
        from pyspark.errors.exceptions.captured import AnalysisException

        deadline = time.monotonic() + 60.0
        while True:
            try:
                if db.incoming().count() >= len(lines):
                    break
            except AnalysisException:
                pass  # first flush hasn't created the table yet
            if time.monotonic() >= deadline:
                print(
                    f"warning: only part of the {len(lines)} seeded datapoints "
                    "landed within 60 s — syncing whatever arrived",
                    file=sys.stderr,
                )
                break
            time.sleep(0.2)

        if not args.no_app:
            from smalltsdb_spark.app import create_app

            app = create_app(db)
            app_host, app_port = _parse_address(args.app_address)
            threading.Thread(
                target=lambda: app.run(
                    host=app_host, port=app_port, use_reloader=False
                ),
                daemon=True,
            ).start()
            # the reference webbrowser.open()s; headless here, so print
            print(
                f"web app: http://{app_host}:{app_port}/"
                f"graph?metric=local.random.diceroll&period=tensecond&stat=avg"
            )

        for i in itertools.count(1):
            db.sync()
            print(f"sync #{i} done")
            if args.iterations and i >= args.iterations:
                return
            time.sleep(args.repeat)


def main(argv=None) -> None:
    parser = argparse.ArgumentParser(prog="smalltsdb_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("daemon", help="Graphite-line ingest daemon (UDP+TCP)")
    p.add_argument("--db", required=True, help="TSDB storage directory")
    p.add_argument("--address", default="localhost:1111")
    p.add_argument("--interval", type=float, default=10.0, help="flush seconds")
    p.add_argument("--spool", help="land wire lines in this spool dir instead of inserting")
    p.add_argument("--self-metrics", action="store_true")
    p.set_defaults(func=cmd_daemon)

    p = sub.add_parser("stream", help="always-on ingest + watermark rollups from a spool dir")
    p.add_argument("--db", required=True)
    p.add_argument("--spool", required=True, help="daemon --spool directory to tail")
    p.add_argument("--interval", type=float, default=10.0, help="trigger seconds")
    p.add_argument("--tail", type=float, default=60.0, help="finality watermark seconds")
    p.add_argument("--checkpoints", help="checkpoint root (default <db>/_checkpoints)")
    p.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="bound each micro-batch to N spool files (backpressure: a "
        "post-outage backlog drains in bounded batches instead of one "
        "giant catch-up batch)",
    )
    p.set_defaults(func=cmd_stream)

    p = sub.add_parser("sync", help="advance finalized aggregates once (or --repeat)")
    p.add_argument("--db", required=True)
    p.add_argument("--lock-file", help="flock here so only one sync runs")
    p.add_argument("--emit-metrics", action="store_true")
    p.add_argument("--repeat", type=float, default=0.0, help="re-sync every N seconds")
    p.add_argument(
        "--histograms",
        action="store_true",
        help="also maintain the persisted fine value-histogram table "
        "(serves get_metric_bounds after incoming retention)",
    )
    p.set_defaults(func=cmd_sync)

    p = sub.add_parser(
        "compact",
        help="coalesce fragmented partitions to one file each (maintenance)",
    )
    p.add_argument("--db", required=True)
    p.add_argument(
        "--lock-file",
        help="flock here so compaction never races a sync or another "
        "compaction (an append that lands meanwhile survives)",
    )
    p.add_argument(
        "--max-files",
        type=int,
        default=1,
        help="only rewrite partitions with more data files than this",
    )
    p.set_defaults(func=cmd_compact)

    p = sub.add_parser(
        "decommission",
        help="convert retired stream-owned tables back to batch "
        "ownership (removes the file-sink log; ONLY after the stream "
        "is stopped forever)",
    )
    p.add_argument("--db", required=True)
    p.add_argument("--lock-file", help="flock here so the handover never races a sync")
    p.add_argument(
        "--on-orphans",
        choices=("quarantine", "delete", "refuse"),
        default="quarantine",
        help="disposal of staged-but-uncommitted part files a crashed "
        "trigger left (the sink log hid them; the handover would "
        "surface them as duplicate rows): quarantine to a dot-dir "
        "(default), delete, or refuse the whole handover",
    )
    p.add_argument(
        "--allow-damaged-log",
        action="store_true",
        help="tolerate torn sink-log lines (crash on a non-atomic "
        "filesystem): unparseable entries are skipped and disposal is "
        "forced recoverable (quarantine mode only)",
    )
    p.add_argument(
        "table",
        nargs="*",
        help="table dirs under the store (default: autodetect every "
        "stream-owned table)",
    )
    p.set_defaults(func=cmd_decommission)

    p = sub.add_parser(
        "decommission-index",
        help="retire batch-versioned streaming indexes (span/semantic) "
        "to plain partitioned directories (ONLY after the stream is "
        "stopped forever)",
    )
    p.add_argument("--db", required=True, help="directory holding the index dirs")
    p.add_argument("--lock-file", help="flock here so the handover never races a writer")
    p.add_argument(
        "index",
        nargs="*",
        help="index dirs under --db (default: autodetect every dir "
        "with a committed versioned manifest)",
    )
    p.set_defaults(func=cmd_decommission_index)

    p = sub.add_parser(
        "rundev",
        help="dev harness: daemon + web app + synthetic datapoints + sync loop",
    )
    p.add_argument("--db", required=True)
    p.add_argument("--address", default="localhost:1111", help="daemon address")
    p.add_argument("--app-address", default="localhost:8000", help="web app address")
    p.add_argument("--interval", type=float, default=1.0, help="daemon flush seconds")
    p.add_argument("--points", type=int, default=3600 // 5, help="datapoints to generate")
    p.add_argument("--seed", type=int, default=None, help="RNG seed (default: entropy)")
    p.add_argument("--repeat", type=float, default=5.0, help="re-sync every N seconds")
    p.add_argument(
        "--iterations", type=int, default=0, help="stop after N syncs (0 = forever)"
    )
    p.add_argument("--no-app", action="store_true", help="skip the web app thread")
    p.set_defaults(func=cmd_rundev)

    args = parser.parse_args(argv)
    args.func(args)


if __name__ == "__main__":  # pragma: no cover
    main(sys.argv[1:])
