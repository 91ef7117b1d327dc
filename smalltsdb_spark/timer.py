"""Self-instrumentation timer (reference timer.py:16-121).

Measures named blocks with pluggable clocks and yields ``(name, start_utc,
duration)`` triples shaped exactly like datapoints, so the engine can
ingest its own timings (T6) — ``TablesTSDB.sync(emit_metrics=True)`` does.

Call surface matches the reference:

- ``timer('name')`` — time one block under the current prefix stack;
- ``timer('prefix', 'total')`` — push ``prefix`` for nested blocks and
  time the whole group as ``prefix.total``;
- the outermost block's context value is the shared timings list; inner
  blocks append before outer ones (they finish first).

Block state (the prefix stack and the open timings list) is kept per
thread, so one Timer can be shared by threads whose blocks overlap — a
web app's reads and the sync loop on one TSDB handle: each thread's
blocks nest only with its own.

Clocks are callables returning ``(clock_name, reading)`` pairs; a block's
metric names are ``<prefix...>.<name>.<clock_name>``.  Defaults: wall
time always; user/system CPU and IO counters when psutil importable
(reference timer.py:106-121) — absent in this container, gated by
try-import.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

from smalltsdb_spark.utils import utcnow

try:
    import psutil
except ImportError:  # pragma: no cover - not installed here
    psutil = None

SEPARATOR = "."


def wall_clock():
    return [("time", time.perf_counter())]


def process_clock():  # pragma: no cover - psutil not installed here
    proc = psutil.Process()
    with proc.oneshot():
        cpu = proc.cpu_times()
        readings = [("user", cpu.user), ("system", cpu.system)]
        try:
            io = proc.io_counters()
        except AttributeError:
            return readings
        readings += [
            (name, getattr(io, name))
            for name in ("read_count", "write_count", "read_bytes", "write_bytes")
        ]
    return readings


def default_clocks():
    clocks = [wall_clock]
    if psutil is not None:  # pragma: no cover
        clocks.insert(0, process_clock)
    return clocks


class Timer:
    """Measure nested blocks of code using arbitrary clocks."""

    def __init__(self, clocks=None, prefix: str | None = None):
        self.clocks = list(clocks) if clocks is not None else default_clocks()
        self._prefix = [prefix] if prefix else []
        self._local = threading.local()
        #: the last finished outermost block's timings, from any thread
        #: (the context value is reset on exit; this survives for
        #: after-the-fact collection, e.g. the phases of the last sync)
        self.collected: list[tuple[str, float, float]] = []

    def _state(self):
        """This thread's (prefix stack, open timings or None)."""
        local = self._local
        if not hasattr(local, "stack"):
            local.stack = list(self._prefix)
            local.timings = None
        return local

    @property
    def prefix(self) -> str:
        """The calling thread's current prefix, dot-joined."""
        return SEPARATOR.join(self._state().stack)

    @contextmanager
    def __call__(self, name_or_prefix: str, group_name: str | None = None):
        state = self._state()
        pushed = group_name is not None
        if pushed:
            state.stack.append(name_or_prefix)
        label = SEPARATOR.join(state.stack + [group_name or name_or_prefix])

        outermost = state.timings is None
        if outermost:
            state.timings = []
        timings = state.timings

        start_utc = utcnow()
        begin = {k: v for clock in self.clocks for k, v in clock()}
        try:
            yield timings
        finally:
            for clock in reversed(self.clocks):
                for k, end in clock():
                    timings.append(
                        (f"{label}{SEPARATOR}{k}", start_utc, end - begin[k])
                    )
            if pushed:
                state.stack.pop()
            if outermost:
                self.collected = timings
                state.timings = None
