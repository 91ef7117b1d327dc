"""The TSDB API facade — the engine's public query surface.

Mirrors the reference's three backends (tsdb.py:201-454) with the same
logical model and method signatures, re-expressed over DataFrames:

- ``ViewTSDB``     — aggregates are lazy DataFrames over raw data; every
                     read recomputes (reference temp views, tsdb.py:216-227).
                     Unlike SQLite+Python-UDAF views, Catalyst pushes the
                     path equality filter *below* the aggregation (path is a
                     grouping key), so a one-metric read does not scan every
                     metric's values.
- ``TablesTSDB``   — aggregates materialized as day-partitioned parquet,
                     advanced incrementally by ``sync()`` (tsdb.py:271-420);
                     a read of finalized buckets is served from the
                     table's files on the driver, with no Spark job.
- ``TwoDatabasesTSDB`` — incoming stored under a separate location
                     (tsdb.py:423-454); with snapshot-isolated parquet
                     readers this is pure API parity, not a locking fix.

``sync()`` replaces the reference's per-path Python loop (tsdb.py:371-410)
with one set-based pass for all the periods that have something to
finalize: incoming filtered against every table's per-path high-water
marks (read off the driver-side path catalog, catalog.py), aggregated by
``(period, path, bucket)`` and written once, which each period table
then takes its slice of by a manifest append.  A small delta — every
tick of the rundev loop — is computed on the driver with pyarrow and
numpy, as the reference computes it in its own process; a large one is
one distributed Spark plan (incoming tagged once per period, the marks
carried in the plan as a literal).  Same finality semantics (the
``intervals()`` kernel) either way, instead of ``paths × periods``
serial SQLite queries.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import threading
import time
import uuid
import zlib
from functools import reduce
from operator import itemgetter
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smalltsdb_spark import storage
from smalltsdb_spark.catalog import PathCatalog
from smalltsdb_spark.config import (
    DEFAULT_TAIL,
    PERIODS,
    validate_period,
    validate_stat,
)
from smalltsdb_spark.intervals import final_end
from smalltsdb_spark.operators.aggregate import (
    aggregate,
    aggregate_table,
    histogram_table,
    value_histogram,
)
from smalltsdb_spark.schemas import (
    AGG_SCHEMA,
    HIST_SCHEMA,
    INCOMING_SCHEMA,
    SECONDS_PER_DAY,
)
from smalltsdb_spark.timer import Timer
from smalltsdb_spark.utils import coerce_epoch

Datapoint = tuple[str, float, float]

#: sync's tag column: the index of a due table in one pass
_TABLE = "_table"
#: name prefix of sync's staging directory under the store root
_STAGING = ".sync-staging-"
#: live files a table's open partition may hold before sync compacts it
#: too (one is appended per sync that touches it)
_OPEN_FILES = 8
#: the thread-local properties ``SparkContext.setJobGroup`` sets
_JOB_GROUP = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _check_page(offset: int, limit: int | None) -> None:
    if offset < 0 or (limit is not None and limit < 0):
        raise ValueError(f"offset and limit must be >= 0, got {offset}, {limit}")


def _sorted_rows(
    df: DataFrame, key: str, offset: int = 0, limit: int | None = None
) -> list[tuple]:
    """``df``'s rows ordered by its unique first column ``key``, then
    paged: sorted in Python after one unordered collect.  With ``limit``
    only the first ``offset + limit`` rows by ``key`` are collected (one
    TakeOrderedAndProject job)."""
    _check_page(offset, limit)
    if limit is not None:
        df = df.orderBy(key).limit(offset + limit)
    return sorted(map(tuple, df.collect()), key=itemgetter(0))[offset:]


class BaseTSDB:
    """Shared storage plumbing + read API (reference tsdb.py:69-152)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        periods: list[tuple[str, int]] = PERIODS,
        tail: float = DEFAULT_TAIL,
        with_incoming: bool = True,
        with_aggregate: bool = True,
        incoming_path: str | None = None,
        now: callable = time.time,
        emit_metrics: bool = False,
        timer: Timer | None = None,
        exact_percentiles: bool = True,
        retention: dict[str, float] | None = None,
        partition_grain: str = "day",
        histograms: bool = False,
        hist_bin_width: float = 50.0,
        hist_clamp_bin: int = 19,
        hist_fine_seconds: int = 60,
    ):
        self.spark = spark
        self.path = path
        self.periods = list(periods)
        self.period_seconds = dict(self.periods)
        self.tail = tail
        self.with_incoming = with_incoming
        self.with_aggregate = with_aggregate
        self.incoming_path = incoming_path or os.path.join(path, "incoming")
        self._now = now
        # self-instrumentation (reference tsdb.py:82-85): timings are
        # datapoints; emit_metrics re-ingests them (T6)
        self.emit_metrics = emit_metrics
        self.timer = timer if timer is not None else Timer()
        # exact percentiles are the reference's semantics (IDEAS.md:3-4);
        # False switches to percentile_approx (t-digest-style sketch,
        # bounded memory, mergeable) — the documented 100 TB mode
        self.exact_percentiles = exact_percentiles
        # per-period max age in seconds (the reference's IDEAS.md:6 /
        # tsdb.py:343 TODO, done): older aggregate rows are dropped at
        # sync time, whole day-partitions at a time
        self.retention = dict(retention or {})
        for period in self.retention:
            validate_period(period, self.period_seconds)
        # storage partition grain (r5/r6 verdict item): 'day' (default)
        # or 'hour'.  Hour-grain shrinks the compaction/retention
        # rewrite unit 24× — sync compacts a partition once it closes,
        # an hour after its first append instead of a day — at 24× the
        # partition count; fixed at store
        # creation (mismatched grains would silently mix incompatible
        # pday values, so open validates eagerly and the first write
        # pins a root marker — storage.pin_grain).
        from smalltsdb_spark.schemas import PARTITION_GRAINS

        if partition_grain not in PARTITION_GRAINS:
            raise ValueError(
                f"unknown partition_grain {partition_grain!r}; "
                f"expected one of {sorted(PARTITION_GRAINS)}"
            )
        self.partition_grain = partition_grain
        self.grain_seconds = PARTITION_GRAINS[partition_grain]
        # persisted fine value-histogram table (r11): sync maintains a
        # (path, fine bucket, bin, n) relation at ``hist_fine_seconds``
        # buckets so get_metric_bounds_df serves provable coarse-
        # percentile bounds WITHOUT raw rows — bounds then outlive
        # incoming retention, like every other materialized stat.
        #
        # ``hist_fine_seconds`` (r12, VERDICT r11 item 2) decouples the
        # histogram's bucket width from the store's finest period: at a
        # 1 s finest period the (path, bucket, bin, n) relation is
        # ≈ raw-data-sized (most 1 s buckets hold a handful of points),
        # which defeats the cascade economics at 100 TB; the default
        # 60 s gives 60–3600× compression with identical containment
        # guarantees.  Bounds are served for any period DIVISIBLE by it
        # (the reaggregate divisibility discipline — a straddling fine
        # bucket would merge into the wrong coarse bucket); other
        # periods raise the same ValueError.
        #
        # Geometry (bin width, clamp bin, fine seconds) is fixed at
        # store creation — a mixed-geometry histogram merges garbage —
        # pinned on disk at the first histogram write and validated on
        # every later open/sync (the pin_grain discipline).  Enable
        # ``histograms=True`` when the store is CREATED: enabling it
        # later starts the histogram HWM from scratch while incoming
        # retention may already have dropped old raw rows, so
        # historical buckets would be silently absent from bounds
        # reads (sync warns when it detects that state).
        self.histograms = histograms
        self.hist_bin_width = float(hist_bin_width)
        self.hist_clamp_bin = int(hist_clamp_bin)
        self.hist_fine_seconds = int(hist_fine_seconds)
        if self.hist_fine_seconds < 1:
            raise ValueError(
                f"hist_fine_seconds must be a positive integer, got "
                f"{hist_fine_seconds!r}"
            )
        if histograms and "histogram" in self.period_seconds:
            raise ValueError(
                "a period named 'histogram' collides with the persisted "
                "histogram table directory"
            )
        if histograms and not any(
            s % self.hist_fine_seconds == 0 for _, s in self.periods
        ):
            raise ValueError(
                f"hist_fine_seconds={self.hist_fine_seconds} divides none "
                f"of the configured periods {self.periods!r} — the "
                "persisted histogram could serve bounds for no period"
            )
        if histograms:
            # eager geometry-mismatch check on open (read-only when the
            # pin is absent — first histogram write creates it)
            self._pin_hist_geometry(write=False)
        self._grain_lock = threading.Lock()
        self._grain_pinned = False
        self._grain_roots = {self.path}
        if not os.path.normpath(self.incoming_path).startswith(
            os.path.normpath(self.path) + os.sep
        ):
            self._grain_roots.add(self.incoming_path)
        for root in self._grain_roots:
            # eager mismatch check on open (read-only when marker absent)
            marker = os.path.join(root, storage.GRAIN_MARKER)
            if os.path.isfile(marker):
                storage.pin_grain(root, self.grain_seconds)

    def _hist_geometry(self) -> dict:
        return {
            "bin_width": self.hist_bin_width,
            "clamp_bin": self.hist_clamp_bin,
            "fine_seconds": self.hist_fine_seconds,
        }

    def _pin_hist_geometry(self, write: bool = True) -> bool:
        """Pin/verify the persisted histogram's geometry marker
        (storage.pin_histogram_geometry — shared with the streaming
        maintenance path, which pins the same marker before start()).
        A mismatch, or a non-empty table with no marker at all, is a
        hard error at open/write/read time, not a corruption discovered
        in a bounds read.  True when this call wrote the marker."""
        return storage.pin_histogram_geometry(
            os.path.join(self.path, "histogram"),
            self._hist_geometry(),
            write=write,
        )

    def _pin_grain(self) -> None:
        """Write-path hook: pin the grain markers (first write creates
        them; later opens with a different grain then fail eagerly).
        Serialized per handle — an insert (the daemon's flush thread) and
        a sync may both pin first, and pin-once is cheaper than racing
        tmp+rename sequences."""
        with self._grain_lock:
            if self._grain_pinned:
                return
            for root in self._grain_roots:
                storage.pin_grain(root, self.grain_seconds)
            self._grain_pinned = True

    # -- write path ---------------------------------------------------------

    def insert(self, datapoints) -> None:
        """Append datapoints (reference tsdb.py:111-114).

        Accepts an iterable of ``(path, timestamp, value)`` tuples
        (timestamp may be a number or datetime) or a DataFrame with the
        incoming schema.  Tuples — every daemon flush and every
        ``emit_metrics`` re-ingest — are written on the driver with
        pyarrow (:func:`storage.append_rows`: one file per ``pday``,
        committed only once all are written), with no Spark job or py4j
        call, like the reference's one SQLite ``INSERT``; a DataFrame is
        written by a Spark job (:func:`storage.append`).
        """
        if not self.with_incoming:
            raise ValueError("this handle was opened without incoming access")
        if isinstance(datapoints, DataFrame):
            df = datapoints.select(
                F.col("path").cast("string"),
                F.col("timestamp").cast("double"),
                F.col("value").cast("double"),
            )
            self._pin_grain()
            storage.append(df, self.incoming_path, self.grain_seconds)
            return
        rows = [(str(p), coerce_epoch(t), float(v)) for p, t, v in datapoints]
        if rows:
            self._pin_grain()
            storage.append_rows(
                rows, self.incoming_path, INCOMING_SCHEMA, self.grain_seconds
            )

    def incoming(self) -> DataFrame:
        return storage.read_table(self.spark, self.incoming_path, INCOMING_SCHEMA)

    # -- read path ----------------------------------------------------------

    def period_table(self, period: str) -> DataFrame:
        raise NotImplementedError

    def _period_path(self, period: str) -> str:
        return os.path.join(self.path, period)

    def _partial_table(self, period: str) -> DataFrame | None:
        """Open (not-yet-final) buckets of ``period``, or None when the
        period table serves them already (ViewTSDB recomputes every
        bucket on read, so there is nothing to add)."""
        return None

    def get_metric_df(
        self,
        path,
        period,
        stat,
        interval,
        *,
        limit: int | None = None,
        offset: int = 0,
        include_partial: bool = False,
    ) -> DataFrame:
        """One stat of one metric over a closed interval, ordered by time.

        Reference read query (tsdb.py:130-137): inclusive ``between`` on
        both ends — kept for parity (sync planning itself is half-open,
        see intervals.py).  ``limit``/``offset`` add the pagination the
        reference only TODOs ("can exhaust memory, paginate",
        tsdb.py:150) — Catalyst turns sort+limit into
        TakeOrderedAndProject (no full sort materialization).

        ``include_partial=True`` additionally serves the OPEN buckets —
        the windows the finality rule hasn't closed yet, which the
        reference computes on every sync but never exposes to reads
        (reference tsdb.py:372-374): on TablesTSDB they are recomputed
        from incoming past the finality cut (ViewTSDB-parity for open
        windows — same values a ViewTSDB over the same storage returns,
        pinned by tests/test_sync.py); on ViewTSDB it is a no-op (its
        reads already include them).  Materialized rows always win: a
        bucket present in the period table is never shadowed by the
        recompute (left-anti on the bucket key — broadcast-sized, one
        metric's rows)."""
        df = self._metric_rows(
            path, period, stat, interval, include_partial
        ).orderBy("timestamp")
        if offset:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return df

    def _metric_rows(
        self, path, period, stat, interval, include_partial: bool
    ) -> DataFrame:
        """The unordered ``(timestamp, stat)`` rows behind
        :meth:`get_metric_df` and the Spark reads of :meth:`get_metric`
        — one per bucket."""
        validate_period(period, self.period_seconds)
        validate_stat(stat)
        start, end = (coerce_epoch(x) for x in interval)
        base = self._period_slice(period, start, end).filter(
            F.col("path") == path
        )
        df = base.select("timestamp", stat)
        if include_partial:
            extra = self._partial_table(period)
            if extra is not None:
                df = df.unionByName(
                    extra.filter(F.col("path") == path)
                    .filter(F.col("timestamp").between(start, end))
                    .join(base.select("timestamp"), "timestamp", "left_anti")
                    .select("timestamp", stat)
                )
        return df

    def _period_slice(self, period: str, start: float, end: float) -> DataFrame:
        """The period table restricted to ``timestamp ∈ [start, end]``
        (inclusive, the reference's read semantics).  TablesTSDB
        overrides this to ALSO restrict the partition column, so the
        interval prunes whole ``pday=`` directories at the file index —
        a filter on ``timestamp`` alone only reaches parquet row-group
        statistics, never the listing."""
        return self.period_table(period).filter(
            F.col("timestamp").between(start, end)
        )

    def query_timeout(self, timeout: float | None):
        """Bound a query's wall time (reference TODO tsdb.py:349
        ``interrupt()``, done the Spark way): actions inside the block
        run under a dedicated job group; a watchdog calls
        ``cancelJobGroup`` (interrupt-on-cancel, so executor task
        threads are interrupted, not abandoned) when the deadline
        passes, and the failed action is re-raised as ``TimeoutError``.

        Cancellation is cooperative and job-scoped — other queries on
        the same SparkSession are untouched, which is exactly what the
        reference's connection-level ``interrupt()`` could not offer.
        The thread's own job group (id, description, interrupt flag) is
        restored on exit.
        """
        import contextlib
        import threading
        import uuid

        @contextlib.contextmanager
        def guard():
            if timeout is None:
                yield
                return
            sc = self.spark.sparkContext
            group = f"smalltsdb-timeout-{uuid.uuid4().hex}"
            fired = threading.Event()

            def cancel():
                fired.set()
                sc.cancelJobGroup(group)

            saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP}
            sc.setJobGroup(group, f"smalltsdb query (timeout={timeout}s)", True)
            watchdog = threading.Timer(timeout, cancel)
            watchdog.daemon = True
            watchdog.start()
            try:
                yield
            except Exception as exc:
                if fired.is_set():
                    raise TimeoutError(
                        f"query exceeded {timeout}s and was cancelled "
                        f"(job group {group})"
                    ) from exc
                raise
            finally:
                watchdog.cancel()
                for k, v in saved.items():
                    sc.setLocalProperty(k, v)

        return guard()

    def get_metric(
        self,
        path,
        period,
        stat,
        interval,
        *,
        limit: int | None = None,
        offset: int = 0,
        timeout: float | None = None,
        include_partial: bool = False,
        bounds: bool = False,
    ) -> list[tuple]:
        """The rows of :meth:`get_metric_df` (or, with ``bounds=True``,
        of :meth:`get_metric_bounds_df`) as a list of tuples.

        The rows are sorted on the driver, not by Spark: the relation is
        collected unordered and sorted in Python on ``timestamp``, so a
        read is one Spark job instead of a range-partitioned global sort
        (sampling job, shuffle stage, result).  With ``limit`` the
        relation is cut to its first ``offset + limit`` rows by time
        first (one TakeOrderedAndProject job, so the driver never holds
        more than that) and ``offset`` is sliced off here.  The order is
        the one ``get_metric_df`` returns: ``timestamp`` is unique per
        row (period tables hold one row per ``(path, timestamp)``, the
        partial union anti-joins on it, bounds have one row per bucket),
        and Python's float order is Spark's for finite doubles.

        ``bounds=True`` serves the percentile as provable (lo, hi)
        containment bounds from the histogram cascade instead of the
        materialized exact value — rows become (timestamp, lo, hi); see
        :meth:`get_metric_bounds_df`.  The bounds path serves FINAL
        histogram buckets only, so combining it with
        ``include_partial=True`` raises rather than silently dropping
        the open buckets the caller asked for (ADVICE r11).

        ``timeout`` bounds the Spark jobs the call submits
        (:meth:`query_timeout`).  A finalized read on
        :class:`TablesTSDB` (``include_partial=False, bounds=False``)
        submits none: it reads the period table's files on the driver,
        so there is nothing to cancel."""
        if bounds:
            if include_partial:
                raise ValueError(
                    "bounds=True serves final histogram buckets only; "
                    "include_partial=True cannot be honored on the "
                    "bounds path — read the partial buckets without "
                    "bounds, or drop include_partial"
                )
        with self.timer("get_metric"), self.query_timeout(timeout):
            df = (
                self._bounds_rows(path, period, stat, interval)
                if bounds
                else self._metric_rows(
                    path, period, stat, interval, include_partial
                )
            )
            return _sorted_rows(df, "timestamp", offset, limit)

    def get_metric_bounds_df(
        self,
        path,
        period,
        stat,
        interval,
        *,
        fine_seconds: int | None = None,
        bin_width: float | None = None,
        clamp_bin: int | None = None,
        hist: DataFrame | None = None,
    ) -> DataFrame:
        """Provable (lo, hi) containment bounds for one interpolated
        percentile, served from the MERGEABLE histogram cascade instead
        of raw order statistics (VERDICT r10 item 5 — the API face of
        operators/aggregate.histogram_quantile_bounds).

        The rollup cascade (``reaggregate``) deliberately drops
        percentiles — order statistics don't merge — so at 100 TB a
        coarse-period percentile read either re-scans raw data (exact,
        expensive) or reads the fine VALUE HISTOGRAM, whose counts merge
        losslessly, and bounds the percentile to the bin interval
        containing its two interpolation order statistics (exact
        integer/bin-edge arithmetic, no sketch error model;
        ``hi`` is None when the rank lands in the clamp bin — the
        honest unbounded-tail contract).

        Returns ``(timestamp, {stat}_lo, {stat}_hi)`` ordered by time,
        same inclusive-interval semantics as :meth:`get_metric_df`.
        Histogram source, in precedence order:

        1. ``hist`` — an injected ``value_histogram``-schema relation;
        2. the store's PERSISTED histogram table (``histograms=True`` on
           a TablesTSDB — sync maintains it incrementally at
           ``hist_fine_seconds`` buckets under the same finality rule
           as the period tables, so bounds serve FINAL buckets and
           survive incoming retention; geometry comes from the store
           config and only periods divisible by ``hist_fine_seconds``
           can be served — others raise the divisibility ValueError);
        3. built on the fly from ``incoming``, with the path filter and
           a conservative time prefilter pushed to the scan (open
           buckets included; only raw rows still within retention can
           contribute).  This path is not bound to persisted geometry,
           so it histograms at ``hist_fine_seconds`` when that divides
           the queried period and directly at the queried period
           otherwise — fine-grain choice never changes the result
           (counts merge losslessly), only the persisted table's size
           does.

        ``bin_width``/``clamp_bin`` default to the store's configured
        geometry.  Containment of the exact percentile is value-gated
        by the ``tsdb_get_metric_bounds`` driver row and golden-pinned
        in tests/test_api_ops.py."""
        return self._bounds_rows(
            path,
            period,
            stat,
            interval,
            fine_seconds=fine_seconds,
            bin_width=bin_width,
            clamp_bin=clamp_bin,
            hist=hist,
        ).orderBy("timestamp")

    def _bounds_rows(
        self,
        path,
        period,
        stat,
        interval,
        *,
        fine_seconds: int | None = None,
        bin_width: float | None = None,
        clamp_bin: int | None = None,
        hist: DataFrame | None = None,
    ) -> DataFrame:
        """The unordered rows behind :meth:`get_metric_bounds_df` and the
        bounds reads — one per bucket."""
        from smalltsdb_spark.operators.aggregate import (
            histogram_quantile_bounds,
            value_histogram,
        )

        seconds = validate_period(period, self.period_seconds)
        validate_stat(stat)
        if not stat.startswith("p"):
            raise ValueError(
                f"bounds are defined for interpolated percentiles, not "
                f"{stat!r} — n/min/max/avg/sum merge EXACTLY through the "
                "cascade (reaggregate); read them from the period table"
            )
        q = int(stat[1:]) / 100.0
        bin_width = self.hist_bin_width if bin_width is None else bin_width
        clamp_bin = self.hist_clamp_bin if clamp_bin is None else clamp_bin
        start, end = (coerce_epoch(x) for x in interval)
        if hist is None:
            hist = self._histogram_table()
            if hist is not None and fine_seconds is None:
                fine_seconds = self.hist_fine_seconds
        if hist is None:
            if fine_seconds is None:
                # on-the-fly build: mirror the persisted geometry when
                # it divides the queried period, else histogram at the
                # period itself (always legal; identical values)
                fine_seconds = (
                    self.hist_fine_seconds
                    if seconds % self.hist_fine_seconds == 0
                    else seconds
                )
            hist = value_histogram(
                self.incoming()
                .filter(F.col("path") == path)
                # conservative raw prefilter (scan-prunable); the exact
                # inclusive interval applies on the coarse bucket below
                .filter(
                    F.col("timestamp").between(start - seconds, end + seconds)
                ),
                fine_seconds,
                bin_width=bin_width,
                clamp_bin=clamp_bin,
            )
        else:
            hist = hist.filter(F.col("path") == path).filter(
                # conservative fine-bucket prefilter; refined within
                # files by row-group stats
                F.col("timestamp").between(start - seconds, end + seconds)
            )
            if storage.PARTITION_COLUMN in hist.columns:
                # the persisted table carries its partition column
                # (TablesTSDB._histogram_table): the same prefilter on
                # pday actually prunes whole directories at the file
                # index — a timestamp (data-column) filter never can
                import math

                grain = self.grain_seconds
                hist = hist.filter(
                    F.col(storage.PARTITION_COLUMN).between(
                        math.floor((start - seconds) / grain),
                        math.floor((end + seconds) / grain),
                    )
                ).drop(storage.PARTITION_COLUMN)
        bounds = histogram_quantile_bounds(
            hist,
            seconds,
            quantiles=[q],
            bin_width=bin_width,
            clamp_bin=clamp_bin,
            fine_seconds=fine_seconds,
        )
        return bounds.filter(F.col("timestamp").between(start, end)).select(
            "timestamp", f"{stat}_lo", f"{stat}_hi"
        )

    def get_metric_bounds(
        self, path, period, stat, interval, *, timeout: float | None = None, **kw
    ) -> list[tuple[float, float, float | None]]:
        """The rows of :meth:`get_metric_bounds_df`, sorted on the driver
        (see :meth:`get_metric`)."""
        with self.timer("get_metric_bounds"), self.query_timeout(timeout):
            df = self._bounds_rows(path, period, stat, interval, **kw)
            return _sorted_rows(df, "timestamp")

    def _histogram_table(self) -> DataFrame | None:
        """The store's persisted fine histogram relation, or None when
        the backend doesn't maintain one (TablesTSDB overrides)."""
        return None

    def list_metrics_df(self) -> DataFrame:
        """Distinct paths across all period tables (reference tsdb.py:142-152).

        SQL ``UNION`` has set semantics; Spark ``union`` is UNION ALL, so an
        explicit ``.distinct()`` closes the gap (SURVEY.md §2.6 E2).
        """
        dfs = [self.period_table(name).select("path") for name, _ in self.periods]
        return reduce(DataFrame.union, dfs).distinct()

    def list_metrics(self, *, limit: int | None = None, offset: int = 0) -> list[str]:
        """The paths of :meth:`list_metrics_df` in ``path`` order, sorted
        on the driver like :meth:`get_metric`'s rows (``distinct`` makes
        the key unique).  Python orders ``str`` by code point, and so
        does Spark's default ``UTF8_BINARY`` collation, because UTF-8
        byte order is code-point order."""
        with self.timer("list_metrics"):
            rows = _sorted_rows(self.list_metrics_df(), "path", offset, limit)
            return [path for (path,) in rows]

    def sync(self) -> None:
        raise NotImplementedError

    def close(self) -> None:
        """Lifecycle parity (reference tsdb.py:96-104); the SparkSession is
        shared and not owned by the handle, so nothing to release."""

    def compact(self, max_files_per_partition: int = 1) -> dict[str, list[int]]:
        """Coalesce fragmented partitions back to one file each.

        Every ``insert``, daemon flush, and streaming micro-batch APPENDS
        one file per touched partition (storage.append), so write-heavy
        stores accumulate small files without bound — the reference's
        SQLite B-tree absorbs this in-place (its pages self-compact);
        parquet needs an explicit maintenance pass.  Returns
        ``{table_name: [compacted partition values]}``.

        Row multiset is preserved exactly (pinned by
        tests/test_sync.test_compact_preserves_rows and the
        ``tsdb_compact_roundtrip`` driver row).  Run it where sync runs —
        under the writer lock (cli.exclusive_lock), which keeps sync and
        other compactions out.  An ``insert`` that lands meanwhile
        survives: compaction takes out only the files it read
        (:func:`storage.compact_partitions`), and a concurrent reader sees
        some of a partition's old files or its new one, never both.
        """
        return {
            "incoming": storage.compact_partitions(
                self.spark,
                self.incoming_path,
                INCOMING_SCHEMA,
                self.grain_seconds,
                max_files_per_partition,
            )
        }


class ViewTSDB(BaseTSDB):
    """Aggregates recomputed from raw data on every read (tsdb.py:201-231)."""

    def period_table(self, period: str) -> DataFrame:
        seconds = validate_period(period, self.period_seconds)
        return aggregate(self.incoming(), seconds, exact=self.exact_percentiles)

    def sync(self) -> None:
        """No-op (reference tsdb.py:230-231)."""


class _Synced(NamedTuple):
    """What a successful :meth:`TablesTSDB.sync` proved, for the next one."""

    covered: frozenset  # incoming file stats its periods were computed over
    tables: dict  # table -> (finality key, table state)
    cutoff: float  # incoming retention cutoff


class TablesTSDB(BaseTSDB):
    """Materialized aggregates advanced incrementally (tsdb.py:271-420)."""

    _synced: _Synced | None = None

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._catalog = PathCatalog()

    def _hwms(self, name: str) -> dict[str, float]:
        """``{path: last bucket}`` of table ``name``, from the catalog."""
        return self._catalog.hwms(self._period_path(name))

    def list_metrics(self, *, limit: int | None = None, offset: int = 0) -> list[str]:
        """The sorted union of the period tables' path catalogs
        (catalog.py): no Spark job, and the same paths, order and paging
        as :meth:`BaseTSDB.list_metrics` over :meth:`list_metrics_df`
        (the DataFrame form stays for the query surface)."""
        _check_page(offset, limit)
        with self.timer("list_metrics"):
            paths = set()
            for name, _seconds in self.periods:
                paths.update(self._hwms(name))
            paths = sorted(paths)[offset:]
            return paths if limit is None else paths[:limit]

    def period_table(self, period: str) -> DataFrame:
        validate_period(period, self.period_seconds)
        return storage.read_table(self.spark, self._period_path(period), AGG_SCHEMA)

    def _period_slice(self, period: str, start: float, end: float) -> DataFrame:
        """Interval read with PARTITION pruning: ``timestamp ∈ [start,
        end]`` implies ``pday ∈ [floor(start/grain), floor(end/grain)]``
        (pday is written as exactly that floor), so the range filter on
        the partition column skips whole directories at the file index
        before the timestamp filter refines within files."""
        import math

        validate_period(period, self.period_seconds)
        grain = self.grain_seconds
        return (
            storage.read_table(
                self.spark,
                self._period_path(period),
                AGG_SCHEMA,
                with_partition_col=True,
            )
            .filter(
                F.col(storage.PARTITION_COLUMN).between(
                    math.floor(start / grain), math.floor(end / grain)
                )
            )
            .drop(storage.PARTITION_COLUMN)
            .filter(F.col("timestamp").between(start, end))
        )

    def get_metric(
        self,
        path,
        period,
        stat,
        interval,
        *,
        limit: int | None = None,
        offset: int = 0,
        timeout: float | None = None,
        include_partial: bool = False,
        bounds: bool = False,
    ) -> list[tuple]:
        """:meth:`BaseTSDB.get_metric`; a finalized read (no partial
        buckets, no bounds — every read the dashboard makes) is served on
        the driver with no DataFrame, py4j call or Spark job, like the
        reference's one SQLite range scan (reference tsdb.py:130-137).
        It resolves the period table's live files once
        (:func:`storage.live_files`, the set :meth:`period_table`
        scans) and reads ``timestamp`` and ``stat`` of ``path`` in the
        interval from the files of its ``pday`` range
        (:func:`storage.read_series`), keeping at most ``offset +
        limit`` rows by time when ``limit`` is given — the bound the
        Spark form's TakeOrderedAndProject gives.  A file that a commit
        retired and removed after the resolution makes it resolve again,
        as :meth:`PathCatalog.hwms` does; a live file that is gone
        raises ``FileNotFoundError``, as a scan would.  The rows are
        :meth:`get_metric_df`'s, which the tests compare against."""
        if include_partial or bounds:
            return super().get_metric(
                path,
                period,
                stat,
                interval,
                limit=limit,
                offset=offset,
                timeout=timeout,
                include_partial=include_partial,
                bounds=bounds,
            )
        validate_period(period, self.period_seconds)
        validate_stat(stat)
        _check_page(offset, limit)
        start, end = (coerce_epoch(x) for x in interval)
        table = self._period_path(period)
        with self.timer("get_metric"):
            seen = None
            while True:
                files = storage.live_files(table)
                try:
                    rows = storage.read_series(
                        table,
                        files,
                        AGG_SCHEMA,
                        path,
                        stat,
                        start,
                        end,
                        self.grain_seconds,
                        keep=None if limit is None else offset + limit,
                    )
                    return rows[offset:]
                except FileNotFoundError:
                    if files == seen:
                        raise
                    seen = files

    def _histogram_table(self) -> DataFrame | None:
        """The persisted fine histogram (histograms=True): maintained by
        sync at the finest period under the same finality rule as the
        period tables, so bounds reads serve FINAL buckets and survive
        incoming retention.  Re-verifies the geometry pin at READ time
        (not just open): a stream may have started maintaining the table
        after this handle opened over an empty directory, and a
        non-empty table with a missing/mismatched pin must refuse to
        serve bounds rather than silently mis-bin them."""
        if not self.histograms:
            return None
        self._pin_hist_geometry(write=False)
        # pday rides along so the bounds read's time prefilter can prune
        # whole partitions at the file index (get_metric_bounds_df drops
        # it after filtering)
        return storage.read_table(
            self.spark,
            os.path.join(self.path, "histogram"),
            HIST_SCHEMA,
            with_partition_col=True,
        )

    def _partial_table(self, period: str) -> DataFrame:
        """The open buckets (bucket start ≥ the finality cut at read
        time), recomputed from incoming on demand — the batch twin of the
        streaming partials table (streaming/pipeline.start_rollup_
        partials), and exactly what the reference computes per sync but
        never stores (reference tsdb.py:372-374).  Cost: one aggregation
        of the incoming tail; the path filter pushes below the
        aggregation (path is a grouping key), so a one-metric read scans
        one metric's raw rows.

        The finality cut prunes the RAW scan too: ``fe`` is bucket-
        aligned (intervals.final_end), so ``bucket ≥ fe ⟺ timestamp ≥
        fe`` exactly — the pre-aggregation filter reaches the parquet
        scan as a pushed predicate and its partition-column twin skips
        every wholly-final ``pday=`` directory at the file index, where
        the old post-aggregation filter scanned ALL of incoming to
        compute buckets it then threw away."""
        import math

        seconds = validate_period(period, self.period_seconds)
        fe = float(final_end(seconds, self.tail, self._now()))
        tail_rows = (
            storage.read_table(
                self.spark,
                self.incoming_path,
                INCOMING_SCHEMA,
                with_partition_col=True,
            )
            .filter(
                F.col(storage.PARTITION_COLUMN)
                >= math.floor(fe / self.grain_seconds)
            )
            .drop(storage.PARTITION_COLUMN)
            .filter(F.col("timestamp") >= F.lit(fe))
        )
        return aggregate(
            tail_rows, seconds, exact=self.exact_percentiles
        ).filter(F.col("timestamp") >= F.lit(fe))

    # -- incremental sync ---------------------------------------------------

    def _eligible_rows(self, incoming: DataFrame, due: list[tuple]) -> DataFrame:
        """Rows in each due table's final interval, per path half-open
        ``[last_final + period, final_end)``.  ``due`` lists one
        ``(period seconds, final_end, {path: last_final})`` per table; an
        ``inline`` of literal tags copies each row once per table (a
        generator, not a join), table ``i``'s copy carrying ``_table = i``
        and ``_seconds``.  Set-based replacement of the reference's
        per-path loop (tsdb.py:371-410): the high-water marks ride in the
        plan as one literal hash table — bucket ``crc32(path) mod n``
        holds ``{path: [last_final per due table]}`` — so the plan scans
        incoming and nothing else, and a row finds its marks in O(1).
        (Spark searches a map literal linearly: one ``{"i:path": mark}``
        map made a 1,000-path, six-table pass ~5× slower than a
        broadcast join of the marks.)
        ``coalesce(last_final + s, 0)`` encodes ``last_final=None ⇒
        -period`` (intervals.py)."""
        ts = F.col("timestamp")
        tags = F.array(
            *[
                F.struct(
                    F.lit(i).alias(_TABLE),
                    F.lit(seconds).alias("_seconds"),
                    F.lit(fe).alias("_fe"),
                )
                for i, (seconds, fe, _hwms) in enumerate(due)
            ]
        )
        paths = set().union(*(hwms for _s, _fe, hwms in due))
        marks = F.lit(None).cast("array<double>")
        if paths:
            n = len(paths)
            buckets = [{} for _ in range(n)]
            for path in paths:
                buckets[zlib.crc32(path.encode()) % n][path] = [
                    hwms.get(path) for _s, _fe, hwms in due
                ]
            table = F.from_json(
                F.lit(json.dumps(buckets)), "array<map<string,array<double>>>"
            )
            bucket = F.pmod(F.crc32(F.col("path").cast("binary")), F.lit(n)) + 1
            marks = F.element_at(
                F.element_at(table, bucket.cast("int")), F.col("path")
            )
        rows = (
            incoming.filter(ts < F.lit(max(fe for _s, fe, _hwms in due)))
            .select("path", "timestamp", "value", marks.alias("_marks"), F.inline(tags))
            .filter(ts < F.col("_fe"))
        )
        last_final = F.element_at(F.col("_marks"), F.col(_TABLE) + 1)
        low = F.coalesce(last_final + F.col("_seconds"), F.lit(0.0))
        return rows.filter(ts >= low).drop("_fe", "_marks")

    def _eligible(
        self,
        incoming: DataFrame,
        seconds: int,
        now: float,
        hwms: dict[str, float],
    ) -> DataFrame:
        """:meth:`_eligible_rows` of one table, untagged, whose marks are
        ``hwms``."""
        fe = float(final_end(seconds, self.tail, now))
        return self._eligible_rows(incoming, [(seconds, fe, hwms)]).drop(
            _TABLE, "_seconds"
        )

    def _sync_on_driver(self, due: dict, staging: str) -> bool:
        """The driver twin of sync's Spark pass: ``due`` maps each due
        table to ``(period seconds, final_end, {path: last_final})``, and
        each table's new rows are written under ``staging`` as the Spark
        pass writes them (``_table=i`` for the ``i``-th period, then
        ``histogram``).  Incoming's live files are read with pyarrow, only
        the row groups whose footer ``timestamp`` range starts below the
        largest ``final_end``; each table keeps :meth:`_eligible_rows`'
        rows (per path, ``[last_final + period, final_end)``, with
        ``last_final=None ⇒ 0``) and computes them with
        :func:`aggregate_table` or :func:`histogram_table`.  Returns False,
        having written nothing, when those row groups hold more than
        ``storage._DRIVER_ROWS`` rows, a read column holds a null, or
        percentiles are approximate: the Spark pass runs instead."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        if not self.exact_percentiles:
            return False
        top = max(fe for _s, fe, _hwms in due.values())
        rows = storage.read_files(
            self.incoming_path,
            storage.live_files(self.incoming_path),
            INCOMING_SCHEMA,
            storage._DRIVER_ROWS,
            where=lambda lo, hi: lo is None or lo < top,
        )
        if rows is None or any(c.null_count for c in rows.columns):
            return False
        # encoded once: the aggregation groups on the same indices
        encoded = pc.dictionary_encode(rows["path"]).combine_chunks()
        rows = rows.set_column(rows.schema.get_field_index("path"), "path", encoded)
        paths = encoded.dictionary.to_pylist()
        index = encoded.indices.to_numpy()
        ts = rows["timestamp"].to_numpy()
        for i, (name, (seconds, fe, hwms)) in enumerate(due.items()):
            lows = np.array([hwms[p] + seconds if p in hwms else 0.0 for p in paths])
            eligible = (ts < fe) & (ts >= lows[index])
            if not eligible.any():
                continue
            new = rows.filter(pa.array(eligible))
            if name == "histogram":
                table, dest = histogram_table(
                    new, seconds, self.hist_bin_width, self.hist_clamp_bin
                ), "histogram"
            else:
                table, dest = aggregate_table(new, seconds), f"{_TABLE}={i}"
            storage.write_units(table, os.path.join(staging, dest), self.grain_seconds)
        return True

    def compact(self, max_files_per_partition: int = 1) -> dict[str, list[int]]:
        """Incoming plus every period table.  Sync compacts each period
        table's closed partitions itself; what is left for this pass are
        sync's open partitions (one file per sync that appended to them,
        up to ``_OPEN_FILES``) and the period tables of append-mode
        STREAMING rollups (streaming/pipeline.start_rollup) sharing the
        store."""
        out = super().compact(max_files_per_partition)
        for name, _seconds in self.periods:
            out[name] = storage.compact_partitions(
                self.spark,
                self._period_path(name),
                AGG_SCHEMA,
                self.grain_seconds,
                max_files_per_partition,
            )
        if self.histograms:
            out["histogram"] = storage.compact_partitions(
                self.spark,
                os.path.join(self.path, "histogram"),
                HIST_SCHEMA,
                self.grain_seconds,
                max_files_per_partition,
            )
        return out

    def sync(self, timeout: float | None = None) -> None:
        """Advance finalized aggregates for every period, then apply
        retention to incoming (reference tsdb.py:305-420).

        **One pass, appended.**  The due tables' new buckets are computed
        in one pass over incoming and written into a hidden staging
        directory under the store root; each table's per-path high-water
        marks come from the driver-side path catalog (catalog.py, one
        pyarrow read per live file not seen before, the files this
        handle's previous sync wrote included).  The pass runs on the
        driver (:meth:`_sync_on_driver`: pyarrow and numpy, one sorted
        file per table and ``pday``, no Spark job) whenever the row
        groups of incoming that can hold an eligible row number at most
        ``storage._DRIVER_ROWS`` rows by their footers; past that, and
        with ``exact_percentiles=False``, it is one Spark plan
        (:meth:`_eligible_rows` with the marks as a literal, one
        aggregation by ``(table, path, bucket)``, one write).  Both give
        the same rows.  Each table takes its slice by a manifest append
        (:func:`storage.install_staged`), and one with no new rows
        commits nothing.  Appending is exact: a path's new rows start at
        ``last_final + period``, above every key the table holds for it
        (the reference's ``insert or replace`` never replaces either).  A
        table that took rows then compacts its closed partitions (ending
        at or before its ``final_end``); the open one is appended to and
        compacted only once it holds more than ``_OPEN_FILES`` files, so a
        frequent sync cadence cannot fragment it without bound.  The
        persisted histogram (``histograms=True``, buckets
        ``hist_fine_seconds`` wide) takes its rows from the same driver
        pass, or from its own ``value_histogram`` plan after the Spark
        pass, under the same rule and append; its retention follows the
        finest period's.  The compactions run on the driver too while
        their files are small (:func:`storage.compact_partitions`).

        ``timeout`` bounds the whole sync via :meth:`query_timeout`
        (reference TODO tsdb.py:349); the driver pass checks it before
        the first commit and raises ``TimeoutError`` having committed
        nothing.  Each table commits atomically, so
        a sync that fails or times out leaves every table on a whole
        snapshot and skips retention (raw data is never deleted under a
        failed aggregate); the next sync, under the writer lock
        (``cli.exclusive_lock``), removes its debris and resumes from the
        committed high-water marks.

        **Idle periods are skipped on the driver.**  Each successful sync
        leaves a record on the handle (in memory only — a fresh handle's
        first sync is always a full one): the stat snapshot of incoming
        its periods were computed over (plus the files its own retention
        replaced), each table's finality key and state, and the
        retention cutoff.  The next sync skips a period (or the
        histogram) iff

        1. its ``final_end`` — and the partition its own retention drop
           cuts at, when it has one — is unchanged;
        2. every file now under incoming is in the recorded snapshot
           (removals cannot make rows eligible);
        3. the table's state (:func:`storage.table_state`: the manifest
           document, else a stat listing) is the one the period computed
           its high-water marks against or published, recorded before
           its own retention drop — a drop can lower a high-water mark,
           so the next sync re-runs that period.

        A full run of such a period would compute an eligible set that is
        already committed and commit nothing, so the store ends
        byte-identical either way.  Retention is skipped iff condition 2
        holds and the cutoff is unchanged.  Incoming is read only when
        some table runs.  A sync that raises records nothing.

        Every phase is timed; with ``emit_metrics=True`` the timings are
        re-ingested as ordinary datapoints (T6, reference tsdb.py:310-337)
        under ``[<prefix>.]sync.<table>.<phase>.<clock>`` names —
        ``<table>.all`` times a table's install, compaction and
        retention, ``<table>.upsert_query`` its manifest commit (the
        reference's label).  The re-ingested file is new to incoming, so
        the following sync runs.
        """
        deadline = None if timeout is None else time.monotonic() + timeout
        now = self._now()
        cutoff = now - self.tail - max(s for _, s in self.periods)
        # taken before self.incoming() lists the files its relation reads
        seen = storage.file_stats(self.incoming_path)
        last = self._synced
        quiet = last is not None and seen <= last.covered
        fine_name, _ = min(self.periods, key=lambda p: p[1])
        tables = list(self.periods)
        if self.histograms:
            tables.append(("histogram", self.hist_fine_seconds))

        def retained(name: str) -> str:
            """The period whose retention ``name`` follows."""
            return fine_name if name == "histogram" else name

        keys = {
            name: self._finality_key(seconds, retained(name), now)
            for name, seconds in tables
        }
        # (finality key, table state) of every table that runs, with the
        # state its high-water marks are computed against — read before
        # any relation lists the table's files
        ran = {
            name: (keys[name], storage.table_state(self._period_path(name)))
            for name, _seconds in tables
        }
        if quiet:
            ran = {n: r for n, r in ran.items() if last.tables.get(n) != r}
        periods = [(n, s) for n, s in self.periods if n in ran]
        grain = self.grain_seconds
        for name in os.listdir(self.path) if os.path.isdir(self.path) else []:
            if name.startswith(_STAGING):  # a failed sync's debris
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        staging = os.path.join(self.path, f"{_STAGING}{uuid.uuid4().hex[:8]}")

        def commit(name: str, staged: str, schema) -> None:
            """Append ``name``'s staged slice, compact its closed
            partitions (and an overfull open one), record its state, then
            apply its retention."""
            path = self._period_path(name)
            prefix = f"{storage.PARTITION_COLUMN}="
            appended = os.path.isdir(staged) and any(
                n.startswith(prefix) for n in os.listdir(staged)
            )
            with self.timer("upsert_query"):
                if appended:
                    storage.install_staged(path, staged)
            if appended:
                fe = keys[name][0]
                storage.compact_partitions(
                    self.spark,
                    path,
                    schema,
                    grain,
                    units=lambda u, n: (u + 1) * grain <= fe or n > _OPEN_FILES,
                )
                ran[name] = (keys[name], storage.table_state(path))
            if retained(name) in self.retention:
                storage.drop_partitions_below(
                    path, now - self.retention[retained(name)], grain
                )

        with self.timer("sync", "all") as timings, self.query_timeout(timeout):
            if ran:
                self._pin_grain()
            due = {n: (s, keys[n][0], self._hwms(n)) for n, s in periods}
            if "histogram" in ran:
                due["histogram"] = (
                    self.hist_fine_seconds,
                    keys["histogram"][0],
                    self._histogram_source(fine_name),
                )
            driver = bool(due) and self._sync_on_driver(due, staging)
            if driver and deadline is not None and time.monotonic() > deadline:
                raise TimeoutError(
                    f"sync exceeded {timeout}s before its first commit"
                )
            if due and not driver:
                incoming = self.incoming()
            if periods and not driver:
                new_rows = aggregate(
                    self._eligible_rows(incoming, [due[n] for n, _s in periods]),
                    F.col("_seconds"),
                    exact=self.exact_percentiles,
                    keys=(_TABLE,),
                )
                storage.write_partitioned(new_rows, staging, grain, keys=(_TABLE,))
            for i, (name, _seconds) in enumerate(periods):
                with self.timer(name, "all"):
                    staged = os.path.join(staging, f"{_TABLE}={i}")
                    commit(name, staged, AGG_SCHEMA)
            if "histogram" in ran:
                with self.timer("histogram", "all"):
                    staged = os.path.join(staging, "histogram")
                    if not driver:
                        fine, _fe, hwms = due["histogram"]
                        new_rows = value_histogram(
                            self._eligible(incoming, fine, now, hwms=hwms),
                            fine,
                            bin_width=self.hist_bin_width,
                            clamp_bin=self.hist_clamp_bin,
                        )
                        storage.write_partitioned(new_rows, staged, grain)
                    commit("histogram", staged, HIST_SCHEMA)
            with self.timer("delete_incoming_query"):
                installed = (
                    frozenset()
                    if quiet and last.cutoff == cutoff
                    else self._retention(cutoff, seen)
                )
            self._synced = _Synced(
                covered=seen | installed,
                tables={**(last.tables if last else {}), **ran},
                cutoff=cutoff,
            )
        shutil.rmtree(staging, ignore_errors=True)
        if self.emit_metrics:
            self.insert(timings)

    def _histogram_source(self, fine_name: str) -> dict[str, float]:
        """The persisted fine histogram's high-water marks, after pinning
        its geometry.  Called before the pass commits, so the finest
        table's catalog below predates this sync."""
        import warnings

        if self._pin_hist_geometry() and self._hwms(fine_name):
            # the first pin of the histogram geometry on a store whose
            # finest table already holds buckets: histograms were
            # enabled late, so the histogram HWM starts from scratch,
            # but incoming retention may already have dropped the raw
            # rows behind old buckets — those buckets will be silently
            # ABSENT from bounds reads (ADVICE r11: rows missing, not
            # wrong).  Later syncs stay quiet, whether or not a
            # histogram bucket is final yet.
            warnings.warn(
                "histogram table is empty but period tables "
                "have history: buckets whose raw rows predate "
                "retained incoming will be missing from bounds "
                "reads — enable histograms=True at store "
                "creation to avoid the gap",
                stacklevel=3,
            )
        return self._hwms("histogram")

    def _finality_key(self, seconds: int, retention_period: str, now: float):
        """What a table's sync depends on from the clock: its finality
        cut and, when ``retention_period`` has a retention, the partition
        its drop cuts at (:func:`storage.drop_partitions_below`)."""
        drop_unit = (
            int((now - self.retention[retention_period]) // self.grain_seconds)
            if retention_period in self.retention
            else None
        )
        return float(final_end(seconds, self.tail, now)), drop_unit

    def _retention(self, cutoff: float, seen: frozenset) -> frozenset:
        """``delete from incoming where timestamp < cutoff`` with
        ``cutoff = now - tail - max_period`` (tsdb.py:412-420):
        whole-partition drops below the cutoff's partition (day or hour
        grain), then the boundary partition file by file on the driver
        (:func:`storage.delete_rows_below`: from each file's footer
        ``timestamp`` min/max, or its ``timestamp`` column when the file
        has no statistics).  A file wholly below the cutoff is removed,
        one wholly at or above it is untouched, and one that straddles it
        is replaced under its own name by its rows at or above the
        cutoff.  No Spark job, and a file that an ``insert`` lands in the
        boundary partition meanwhile is kept whole.

        Returns the :func:`storage.file_stats` records of the replaced
        files whose originals are in ``seen`` (so their rows were covered
        by this sync's periods), for sync's record of what it has
        covered.  A file outside ``seen`` — an append that landed after
        sync's snapshot — stays outside the record, so the next sync runs.

        Hybrid-flow note (streaming ingest + batch sync): while incoming
        is tracked by the ingest stream's file-sink log, retention stays
        legal as long as it has nothing to delete (the storage layer
        raises only on an ACTUAL mutation behind the log).  Once data
        ages past the cutoff the delete raises with the
        decommission_streaming_sink recipe — plain parquet has no
        log-aware delete; a table format's row-level delete is the
        at-scale answer."""
        grain = self.grain_seconds
        storage.drop_partitions_below(self.incoming_path, cutoff, grain)
        replaced = storage.delete_rows_below(
            self.incoming_path, "timestamp", cutoff, int(cutoff // grain)
        )
        return frozenset(after for before, after in replaced if before in seen)


class TwoDatabasesTSDB(TablesTSDB):
    """Incoming under a separate location (reference tsdb.py:423-454).

    The reference needs this for SQLite table-level-locking isolation
    between the writer daemon and readers (tsdb.py:273-275); parquet
    readers are snapshot-isolated so this is API parity only.
    """

    def __init__(self, spark, path, *, incoming_path=None, **kwargs):
        incoming_path = incoming_path or path.rstrip("/") + ".incoming"
        super().__init__(spark, path, incoming_path=incoming_path, **kwargs)


#: Default backend, as in the reference (tsdb.py:457).
TSDB = TablesTSDB
