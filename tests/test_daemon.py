"""End-to-end daemon golden — the reference's integration test re-run
against this engine (tests/test_smalltsdb.py:36-82): real sockets, real
daemon, then sync() and exact tensecond rows.

Parametrized over UDP/TCP × (direct TSDB sink, spool-file sink), mirroring
the reference's backend × protocol matrix.
"""

import socket
import time

import pytest

from smalltsdb_spark.sources.daemon import Daemon, SpoolSink
from smalltsdb_spark.sources.graphite import parse_lines_df
from smalltsdb_spark.tsdb import TablesTSDB
from tests.test_golden import GOLDEN_A_TENSECOND

# Wire payloads from the reference test (line 57); "path value ts" order.
PAYLOADS = [b"one 1 1", b"one 5 2\ntwo 2 5", b"one 1 12\n"]


def send_udp(addr, payloads):
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        for p in payloads:
            s.sendto(p, addr)


def send_tcp(addr, payloads):
    for p in payloads:
        with socket.create_connection(addr) as s:
            s.sendall(p)


def _wait(predicate, timeout=30.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if predicate():
            return True
        time.sleep(0.05)
    return False


@pytest.mark.parametrize("send", [send_udp, send_tcp], ids=["udp", "tcp"])
def test_daemon_to_tsdb_golden(send, spark, tsdb_dir):
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    received = []
    daemon = Daemon(db.insert, interval=0.2, now=lambda: 100.0)
    with daemon:
        send(daemon.address, PAYLOADS)
        assert _wait(lambda: db.incoming().count() == 4)
    db.sync()
    rows = [
        tuple(r)
        for r in db.period_table("tensecond").orderBy("path", "timestamp").collect()
    ]
    assert rows == pytest.approx(GOLDEN_A_TENSECOND)


@pytest.mark.parametrize("send", [send_udp, send_tcp], ids=["udp", "tcp"])
def test_daemon_to_spool_golden(send, spark, tsdb_dir, tmp_path):
    spool = str(tmp_path / "spool")
    daemon = Daemon(SpoolSink(spool), interval=60.0)  # flush only on stop
    with daemon:
        send(daemon.address, PAYLOADS)
        assert daemon.wait_for_datapoints(4)  # poll, not sleep
    # graceful stop drained + flushed exactly once
    lines = spark.read.text(spool)
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    db.insert(parse_lines_df(lines))
    db.sync()
    rows = [
        tuple(r)
        for r in db.period_table("tensecond").orderBy("path", "timestamp").collect()
    ]
    assert rows == pytest.approx(GOLDEN_A_TENSECOND)


def test_daemon_self_metrics(spark, tsdb_dir):
    """daemon.py:176-186: per-flush insert count of non-self datapoints."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    daemon = Daemon(
        db.insert, interval=60.0, self_metric_prefix="smalltsdb.daemon", now=lambda: 99.0
    )
    with daemon:
        send_udp(daemon.address, [b"one 1 1\ntwo 2 5"])
        assert daemon.wait_for_datapoints(2)  # poll, not sleep
    rows = {
        (r.path, r.timestamp, r.value) for r in db.incoming().collect()
    }
    assert ("smalltsdb.daemon.insert", 99.0, 2.0) in rows
    assert len(rows) == 3


def test_daemon_malformed_datagram_dropped(spark, tsdb_dir):
    """daemon.py:42-46: a parse error drops that whole datagram, others
    are unaffected."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    daemon = Daemon(db.insert, interval=0.2)
    with daemon:
        send_udp(daemon.address, [b"good 1 1\nbad line here too wide", b"ok 3 7"])
        assert _wait(lambda: db.incoming().count() == 1)
    rows = [tuple(r) for r in db.incoming().collect()]
    assert rows == [("ok", 7.0, 3.0)]


def test_daemon_retries_a_port_whose_tcp_side_is_taken(monkeypatch):
    """With port 0, a TCP bind that fails with EADDRINUSE (another socket
    holds the TCP side of the port UDP was given) retries the pair on a
    fresh port and closes the failed pair's UDP server; with an explicit
    port the error is raised, the UDP server closed all the same."""
    import errno

    from smalltsdb_spark.sources import daemon as daemon_mod

    real_bind = daemon_mod._TCPServer.server_bind
    failures = {"left": 1}

    def bind(self):
        if failures["left"]:
            failures["left"] -= 1
            raise OSError(errno.EADDRINUSE, "Address already in use")
        real_bind(self)

    closed = []
    real_close = daemon_mod._UDPServer.server_close

    def close(self):
        closed.append(self.server_address[1])
        real_close(self)

    monkeypatch.setattr(daemon_mod._TCPServer, "server_bind", bind)
    monkeypatch.setattr(daemon_mod._UDPServer, "server_close", close)
    got = []
    daemon = Daemon(got.extend, interval=60.0)
    assert len(closed) == 1 and daemon.address[1] != closed[0]
    with daemon:
        send_udp(daemon.address, [b"one 1 1"])
        send_tcp(daemon.address, [b"two 2 2\n"])
        assert daemon.wait_for_datapoints(2)
    assert sorted(got) == [("one", 1.0, 1.0), ("two", 2.0, 2.0)]

    closed.clear()
    failures["left"] = 1
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        s.bind(("localhost", 0))
        port = s.getsockname()[1]
    with pytest.raises(OSError) as exc:
        Daemon(got.extend, ("localhost", port))
    assert exc.value.errno == errno.EADDRINUSE
    assert closed == [port]


def test_a_failed_flush_leaves_no_file_and_its_retry_stores_each_point_once(
    spark, tsdb_dir, monkeypatch
):
    """An insert writes one file per partition and commits none until all
    are written: a failure while writing the second leaves no visible
    file (and no staging debris), the daemon keeps the batch, and its
    retry stores every point exactly once."""
    import os

    from smalltsdb_spark import storage

    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0, partition_grain="hour")
    batch = [("one", 10.0, 1.0), ("one", 3_700.0, 2.0), ("two", 7_300.0, 3.0)]
    real = storage._write_arrow
    writes = []

    def fail_second(table, dest):
        writes.append(dest)
        if len(writes) == 2:
            raise OSError("No space left on device")
        real(table, dest)

    monkeypatch.setattr(storage, "_write_arrow", fail_second)
    with Daemon(db.insert, interval=60.0) as daemon:
        daemon._pending = list(batch)
        daemon._flush()
        assert daemon._pending == batch  # kept for the next tick
        assert [files for _, _, files in os.walk(db.incoming_path) if files] == []
        assert db.incoming().count() == 0
        monkeypatch.undo()
        daemon._flush()
        assert daemon._pending == []
    assert len(writes) == 2
    assert sorted(map(tuple, db.incoming().collect())) == sorted(batch)
