"""Graphite-line ingest daemon (reference daemon.py:33-216, re-designed).

Semantics kept from the reference:

- UDP datagrams and TCP streams of wire lines, parsed at the socket
  boundary; a parse error drops that datagram/connection's batch
  (daemon.py:39-47);
- micro-batch flush every ``interval`` seconds (default 10, daemon.py:157);
- on flush failure the batch is retained and retried next tick, plus an
  error self-metric (daemon.py:190-198);
- per-flush self-metric ``<prefix>.insert = <count of non-self datapoints>``
  (daemon.py:176-186);
- graceful shutdown drains the queue and performs a final flush
  (daemon.py:204-213, SIGTERM → DONE sentinel).

Redesigned for the Spark architecture:

- the *sink* is pluggable: ``tsdb.insert`` for direct parquet appends, or
  :class:`SpoolSink`, which lands each flush as an atomically-renamed text
  file of wire lines — the durable handoff a Structured Streaming file
  source tails (streaming/pipeline.py).  The reference's in-memory queue
  is acknowledged lossy ("tuples should not grow without limit",
  daemon.py:174); the spool + checkpointed stream upgrade is at-least-once.
- a single writer thread owns batching via queue timeouts (no TIME
  sentinel thread); handlers never block on the sink.
"""

from __future__ import annotations

import errno
import logging
import os
import queue
import socketserver
import threading
import time
import uuid

from smalltsdb_spark.sources.graphite import format_line, parse_line

log = logging.getLogger("smalltsdb_spark.daemon")

_STOP = object()


class SpoolSink:
    """Lands each flush as one ``<epoch>-<uuid>.graphite`` text file,
    written to a temp name and renamed so readers never see partial files
    (the atomicity contract Spark's file streaming source requires)."""

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        os.makedirs(spool_dir, exist_ok=True)

    def __call__(self, datapoints) -> None:
        name = f"{time.time():.6f}-{uuid.uuid4().hex[:8]}.graphite"
        tmp = os.path.join(self.spool_dir, "." + name + ".tmp")
        with open(tmp, "w") as f:
            for path, ts, value in datapoints:
                f.write(format_line(path, ts, value) + "\n")
        os.rename(tmp, os.path.join(self.spool_dir, name))


class _Handler(socketserver.BaseRequestHandler):
    """Shared parse-and-enqueue logic; transport subclasses supply lines."""

    def _lines(self):
        raise NotImplementedError

    def handle(self):
        try:
            batch = [parse_line(l) for l in self._lines() if l.strip()]
        except (ValueError, UnicodeDecodeError) as e:
            log.warning("dropping malformed batch: %s", e)
            return
        if batch:
            self.server.ingest_queue.put(batch)
            on_enqueued = getattr(self.server, "on_enqueued", None)
            if on_enqueued is not None:
                on_enqueued(len(batch))


class _DatagramHandler(_Handler):
    def _lines(self):
        data = self.request[0]
        return data.decode("utf-8").splitlines()


class _StreamHandler(_Handler):
    def _lines(self):
        return (
            raw.decode("utf-8")
            for raw in self.request.makefile("rb").read().splitlines()
        )


class _UDPServer(socketserver.UDPServer):
    allow_reuse_address = True


class _TCPServer(socketserver.TCPServer):
    allow_reuse_address = True


#: UDP+TCP pairs tried on fresh ephemeral ports before a port-0 Daemon
#: gives up: another socket may already hold the TCP side of the number
#: UDP was given
_BIND_ATTEMPTS = 8


class Daemon:
    """Listen for Graphite lines on UDP and TCP, micro-batch into a sink.

    ``sink`` is any callable taking a list of ``(path, ts, value)``
    tuples — e.g. ``tsdb.insert`` or a :class:`SpoolSink`.
    """

    def __init__(
        self,
        sink,
        address: tuple[str, int] = ("localhost", 0),
        *,
        interval: float = 10.0,
        self_metric_prefix: str | None = None,
        now=time.time,
    ):
        self._sink = sink
        self._interval = interval
        self._prefix = self_metric_prefix
        self._now = now
        self._queue: queue.Queue = queue.Queue()
        self._pending: list = []
        self._threads: list[threading.Thread] = []
        self._received = 0
        self._received_cond = threading.Condition()
        self._servers = self._bind(address)
        for srv in self._servers:
            srv.ingest_queue = self._queue
            srv.on_enqueued = self._note_enqueued

    @staticmethod
    def _bind(address: tuple[str, int]) -> list[socketserver.BaseServer]:
        """UDP then TCP on one port number.  With port 0 the TCP side
        reuses the port UDP was allotted, which another TCP socket may
        hold already: the pair is then retried on a fresh ephemeral
        port, up to ``_BIND_ATTEMPTS`` times.  An explicit port raises
        at once.  A failed pair's UDP server is closed either way."""
        host, port = address
        for attempt in range(_BIND_ATTEMPTS):
            udp = _UDPServer(address, _DatagramHandler)
            try:
                tcp = _TCPServer((host, udp.server_address[1]), _StreamHandler)
            except OSError as exc:
                udp.server_close()
                if (
                    port != 0
                    or exc.errno != errno.EADDRINUSE
                    or attempt == _BIND_ATTEMPTS - 1
                ):
                    raise
                continue
            return [udp, tcp]

    @property
    def address(self) -> tuple[str, int]:
        """The bound (host, port) — both transports share it."""
        return self._servers[0].server_address[:2]

    # -- observability -------------------------------------------------------

    def _note_enqueued(self, n: int) -> None:
        with self._received_cond:
            self._received += n
            self._received_cond.notify_all()

    @property
    def datapoints_received(self) -> int:
        """Well-formed datapoints accepted by the transport handlers so
        far (malformed batches are dropped before counting)."""
        with self._received_cond:
            return self._received

    def wait_for_datapoints(self, n: int, timeout: float = 30.0) -> bool:
        """Block until ``n`` datapoints have been enqueued (True) or the
        deadline passes (False).  Senders on loopback need this instead
        of a fixed sleep: handler threads scheduled late on a loaded host
        would otherwise lose the race against ``stop()``'s drain."""
        deadline = time.monotonic() + timeout
        with self._received_cond:
            while self._received < n:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return False
                self._received_cond.wait(remaining)
            return True

    # -- lifecycle -----------------------------------------------------------

    def start(self) -> None:
        for srv in self._servers:
            t = threading.Thread(target=srv.serve_forever, daemon=True)
            t.start()
            self._threads.append(t)
        writer = threading.Thread(target=self._write_loop, daemon=True)
        writer.start()
        self._threads.append(writer)

    def stop(self) -> None:
        """Graceful: stop accepting, drain the queue, final flush."""
        for srv in self._servers:
            srv.shutdown()
            srv.server_close()
        self._queue.put(_STOP)
        for t in self._threads:
            t.join(timeout=30)

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.stop()

    # -- batching ------------------------------------------------------------

    def _write_loop(self) -> None:
        deadline = time.monotonic() + self._interval
        while True:
            timeout = max(0.0, deadline - time.monotonic())
            try:
                item = self._queue.get(timeout=timeout)
            except queue.Empty:
                item = None  # tick
            if item is _STOP:
                self._drain()
                self._flush()
                return
            if item is not None:
                self._pending.extend(item)
                continue
            self._flush()
            deadline = time.monotonic() + self._interval

    def _drain(self) -> None:
        while True:
            try:
                item = self._queue.get_nowait()
            except queue.Empty:
                return
            if item is not _STOP:
                self._pending.extend(item)

    def _flush(self) -> None:
        if not self._pending:
            return
        batch = self._pending
        if self._prefix:
            dot_prefix = self._prefix + "."
            n_outside = sum(1 for t in batch if not t[0].startswith(dot_prefix))
            batch = batch + [(f"{self._prefix}.insert", self._now(), float(n_outside))]
        try:
            self._sink(batch)
        except Exception as e:  # retained for next tick (daemon.py:195-198)
            log.exception("flush failed, retrying next tick: %s", e)
            if self._prefix:
                self._pending.append((f"{self._prefix}.error", self._now(), 1.0))
            return
        self._pending = []
