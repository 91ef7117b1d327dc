"""The always-on flavor of the engine: ingest + rollup as streaming queries.

The reference is a lambda architecture in miniature (SURVEY.md §2.8): a
daemon appends raw datapoints, and a periodic ``sync()`` batch advances
finalized per-period aggregates behind a 60-second finality tail.  In
Structured Streaming both halves become standing queries and the finality
bookkeeping disappears into the engine:

- **ingest** (reference daemon.py:149-216): tail the daemon's spool
  directory (sources/daemon.SpoolSink) with a file source, parse wire
  lines JVM-side, append to the incoming parquet table on a 10 s trigger
  (the daemon's flush cadence, daemon.py:157).  Checkpointing upgrades the
  reference's acknowledged-lossy in-memory queue to at-least-once.

- **rollup** (reference sync(), tsdb.py:305-420): windowed aggregation
  with ``withWatermark(ts, tail)`` in *append* mode.  Append emission ==
  the reference's finality rule: a bucket is written exactly once, when
  the watermark (max event time − tail) passes its end — the same
  ``intervals()`` arithmetic, enforced by the state store instead of a
  high-water-mark table.  Late rows inside the tail merge into their
  open bucket; rows later than the tail are dropped, exactly the
  reference's semantics (T4, tsdb.py:263-268).  The *partial* interval the
  reference computes but never materializes (tsdb.py:372-374) is exposed
  for free by running the same aggregation in *update* mode.

Scale notes (100 TB/day): the per-period rollups are independent queries
sharing one source — each shuffles once on (path, window); state size is
bounded by (active paths × open windows); exact percentile state buffers
each open group's values, which is the correctness mode — pass
``exact=False`` for the t-digest sketch when per-bucket cardinality is
unbounded.  Path-skew (hot metrics) is handled by AQE skew-join settings
for the batch flavor; for streaming, pre-salt paths at the daemon if one
metric dominates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from smalltsdb_spark import storage
from smalltsdb_spark.config import DEFAULT_TAIL, QUANTILES
from smalltsdb_spark.schemas import AGG_SCHEMA, PARTITION_COLUMN, SECONDS_PER_DAY
from smalltsdb_spark.session import state_session
from smalltsdb_spark.sources.graphite import parse_lines_df

#: minimum age (mtime) before the per-trigger partials upsert physically
#: reclaims a manifest-retired file — the in-flight-reader grace window
#: for the high-frequency commit path.  The upsert runs EVERY trigger
#: (default 10 s), so an ungated GC would delete a replaced file one
#: trigger after retirement — far short of the one-sync-cycle grace the
#: batch path gives in-flight readers (ADVICE r8).  The gate keeps
#: retired files ≥5 min; debris is bounded (≈ grace/interval
#: generations of the touched partitions' files).
STREAM_GC_MIN_AGE = 300.0


def read_spool_stream(
    spark: SparkSession,
    spool_dir: str,
    use_datasource: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming incoming relation from a daemon spool directory.

    Default path is the JVM file source + codegen parser (fastest); pass
    ``use_datasource=True`` for the pure-Python ``graphite`` DataSource
    (sources/datasource.py) — same rows, useful where the spool naming
    contract (offset = filename order) matters more than throughput.

    ``max_files_per_trigger`` bounds each micro-batch to that many spool
    files (the file source's backpressure knob): after a daemon outage
    the backlog drains in bounded batches instead of one giant catch-up
    batch whose shuffle/state blows past executor memory — the
    difference between a self-healing and a self-OOMing pipeline at
    production rates.  None (default) = Spark's unbounded default.
    """
    if use_datasource:
        from smalltsdb_spark.sources.datasource import GraphiteDataSource

        spark.dataSource.register(GraphiteDataSource)
        return spark.readStream.format("graphite").load(spool_dir)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    lines = reader.text(spool_dir + "/*.graphite")
    return parse_lines_df(lines)


def _start(
    stream: DataFrame,
    checkpoint: str,
    interval: str | None,
    available_now: bool,
    *,
    stateful: bool,
    path: str | None = None,
    grain_seconds: int = SECONDS_PER_DAY,
    upsert: Callable[[DataFrame, int], None] | None = None,
) -> StreamingQuery:
    """Start ``stream`` under ``checkpoint``: appended to the parquet
    table at ``path``, partitioned by ``pday`` like the batch writer
    (storage.append), or, given ``upsert``, handed each micro-batch in
    update mode.  ``available_now`` drains what is there and stops;
    otherwise a trigger fires every ``interval`` (None: back to back).

    A ``stateful`` stream's plan is re-bound onto
    :func:`session.state_session` of its own session, so its state and
    each micro-batch's sink write have the state width; a restarted
    checkpoint keeps the width frozen in its offset log."""
    if stateful:
        session = state_session(stream.sparkSession)
        if session is not stream.sparkSession:
            stream = DataFrame(
                session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                    session._jsparkSession, stream._jdf.queryExecution().logical()
                ),
                session,
            )
    if upsert is None:
        writer = (
            stream.withColumn(
                PARTITION_COLUMN,
                F.floor(F.col("timestamp") / F.lit(grain_seconds)).cast("long"),
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .option("path", path)
            .partitionBy(PARTITION_COLUMN)
        )
    else:
        writer = (
            stream.writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", checkpoint)
        )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif interval:
        writer = writer.trigger(processingTime=interval)
    return writer.start()


def start_ingest(
    incoming_stream: DataFrame,
    incoming_path: str,
    checkpoint: str,
    *,
    interval: str | None = "10 seconds",
    available_now: bool = False,
    grain_seconds: int = SECONDS_PER_DAY,
) -> StreamingQuery:
    """Append the parsed stream to the incoming parquet table,
    partitioned like the batch writer (storage.append; pass the store's
    ``grain_seconds`` when it was created with partition_grain='hour').

    The file sink OWNS the table from first write on: it tracks
    committed files in a ``_spark_metadata`` log and readers list files
    through it, so batch mutators (insert/upsert/retention/compact) are
    refused by the storage layer while the log exists
    (storage._assert_mutable); a retired stream's table is converted
    back with ``storage.decommission_streaming_sink``."""
    return _start(incoming_stream, checkpoint, interval, available_now,
                  stateful=False, path=incoming_path,
                  grain_seconds=grain_seconds)


def streaming_aggregate(
    incoming: DataFrame,
    seconds: int,
    tail: float = DEFAULT_TAIL,
    exact: bool = True,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """The engine's one aggregation (operators/aggregate.py) in streaming
    form: tumbling ``window()`` on event time with a ``tail``-second
    watermark.  Output schema == AGG_SCHEMA, bucket labeled by window
    start as a double epoch, so streaming and batch results are
    row-compatible (tested against the batch goldens).
    """
    if exact:
        pcts = F.percentile("value", F.array(*[F.lit(q) for q in QUANTILES]))
    else:
        pcts = F.percentile_approx(
            "value", F.array(*[F.lit(q) for q in QUANTILES]), F.lit(approx_accuracy)
        )
    return (
        incoming.withColumn("_ts", F.timestamp_seconds(F.col("timestamp")))
        .withWatermark("_ts", f"{int(tail)} seconds")
        .groupBy("path", F.window("_ts", f"{seconds} seconds").alias("_w"))
        .agg(
            F.count("value").cast("double").alias("n"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.avg("value").alias("avg"),
            F.sum("value").alias("sum"),
            pcts.alias("_pcts"),
        )
        .select(
            "path",
            F.unix_timestamp("_w.start").cast("double").alias("timestamp"),
            "n",
            "min",
            "max",
            "avg",
            "sum",
            F.col("_pcts")[0].cast("double").alias("p50"),
            F.col("_pcts")[1].cast("double").alias("p90"),
            F.col("_pcts")[2].cast("double").alias("p99"),
        )
    )


def start_rollup_partials(
    incoming_stream: DataFrame,
    partial_path: str,
    checkpoint: str,
    seconds: int,
    *,
    tail: float = DEFAULT_TAIL,
    interval: str | None = "10 seconds",
    available_now: bool = False,
    exact: bool = True,
    grain_seconds: int = SECONDS_PER_DAY,
) -> StreamingQuery:
    """The PARTIAL-interval rollup (T2's capability upgrade, SURVEY §2.8):
    the same aggregation as :func:`start_rollup` in **update** mode, so
    every trigger emits the CURRENT value of each changed bucket —
    including buckets the finality rule hasn't closed yet.  The reference
    computes this partial interval on every sync but never materializes
    it (reference tsdb.py:372-374); here it is a real table a dashboard
    can read for the freshest half-built bucket.

    Sink shape: update mode cannot use the append-only file sink, so each
    micro-batch upserts (replace-by-key, :func:`storage.upsert`) into a
    manifest-committed parquet table via foreachBatch — a replayed
    micro-batch (checkpoint recovery) re-writes identical values instead
    of duplicating rows, which turns foreachBatch's at-least-once into
    exactly-once table contents.  Readers get whole-table snapshot
    isolation per query, and the table CONVERGES to the append-mode
    (final) table as the watermark passes each bucket: late rows beyond
    the tail are dropped by the same watermark, so a bucket's last
    update IS its final value.  State size is the same (active paths ×
    open windows) as the append rollup; the extra cost is one bounded
    upsert write per trigger (changed buckets only), not a table
    rewrite."""
    agg = streaming_aggregate(incoming_stream, seconds, tail=tail, exact=exact)
    return _start(
        agg, checkpoint, interval, available_now, stateful=True,
        upsert=lambda batch, _id: storage.upsert(
            batch, partial_path, AGG_SCHEMA, grain_seconds,
            gc_min_age=STREAM_GC_MIN_AGE,
        ),
    )


def streaming_value_histogram(
    incoming: DataFrame,
    fine_seconds: int = 60,
    tail: float = DEFAULT_TAIL,
    bin_width: float = 50.0,
    clamp_bin: int = 19,
) -> DataFrame:
    """operators/aggregate.value_histogram in streaming form: tumbling
    ``fine_seconds`` windows on event time with a ``tail``-second
    watermark, one count per (path, window, value bin).  Output schema
    == HIST_SCHEMA (path, timestamp double, bin long, n long), bucket
    labeled by window start — row-compatible with the batch-synced
    persisted histogram, so the SAME bounds read
    (``tsdb.get_metric_bounds_df``) serves either maintenance path.

    In append mode each (path, window, bin) group emits EXACTLY ONCE
    when the watermark passes the window end — the finality rule — so
    closed buckets carry complete counts; rows later than the tail are
    dropped, same as the period rollups.  State is bounded by
    (active paths × open windows × ≤ clamp_bin+1 bins) counters — a
    constant factor over the period rollup's state, with none of the
    exact-percentile value buffering."""
    bin_ = F.least(
        F.floor(F.col("value") / F.lit(float(bin_width))), F.lit(int(clamp_bin))
    ).cast("long")
    return (
        incoming.withColumn("_ts", F.timestamp_seconds(F.col("timestamp")))
        .withWatermark("_ts", f"{int(tail)} seconds")
        .groupBy(
            "path",
            F.window("_ts", f"{int(fine_seconds)} seconds").alias("_w"),
            bin_.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "path",
            F.unix_timestamp("_w.start").cast("double").alias("timestamp"),
            "bin",
            "n",
        )
    )


def start_histogram_rollup(
    incoming_stream: DataFrame,
    hist_path: str,
    checkpoint: str,
    fine_seconds: int = 60,
    *,
    tail: float = DEFAULT_TAIL,
    interval: str | None = "10 seconds",
    available_now: bool = False,
    bin_width: float = 50.0,
    clamp_bin: int = 19,
    grain_seconds: int = SECONDS_PER_DAY,
) -> StreamingQuery:
    """Always-on maintenance of the persisted fine histogram (VERDICT
    r11 item 3): the streaming twin of ``TablesTSDB.sync``'s
    ``run_hist``, so ``get_metric(..., bounds=True)`` works in
    streaming-only deployments without falling back to raw-incoming
    scans — the exact cost the histogram cascade exists to avoid.

    Point ``hist_path`` at the store's ``<path>/histogram`` directory
    and match the store's geometry (``hist_fine_seconds``/
    ``hist_bin_width``/``hist_clamp_bin``) — the bounds read resolves
    the same table either way, and the geometry is ENFORCED: this
    function write-or-verifies the table's ``_geometry.json`` pin
    (storage.pin_histogram_geometry, the marker TablesTSDB pins on its
    first batch histogram write) before ``start()``, so a store later
    opened with a different geometry fails eagerly instead of serving
    silently mis-binned bounds.  Histogram counts are algebraic and
    append-mode emits each closed (path, window, bin) exactly once, so
    the parquet file sink IS the LSM append: one O(batch-of-closed-
    buckets) file per touched partition per trigger, never a table
    rewrite, with exactly-once across failures from the sink's own
    ``_spark_metadata`` log (a replayed micro-batch is skipped by the
    log, not re-appended).  Like every stream-owned table, batch
    mutators (sync's upsert, compaction, retention) are refused while
    the log exists — one table, one maintenance flavor
    (storage._assert_mutable); a retired stream's table converts back
    with ``storage.decommission_streaming_sink``."""
    # write-or-verify the geometry pin BEFORE the query starts: the
    # rows this stream appends are meaningless without it, and a
    # mismatched pin (another maintainer used a different geometry)
    # must fail here, not mis-bin bounds later
    storage.pin_histogram_geometry(
        hist_path,
        {
            "bin_width": float(bin_width),
            "clamp_bin": int(clamp_bin),
            "fine_seconds": int(fine_seconds),
        },
    )
    hist = streaming_value_histogram(
        incoming_stream,
        fine_seconds,
        tail=tail,
        bin_width=bin_width,
        clamp_bin=clamp_bin,
    )
    return _start(hist, checkpoint, interval, available_now, stateful=True,
                  path=hist_path, grain_seconds=grain_seconds)


def start_rollup(
    incoming_stream: DataFrame,
    period_path: str,
    checkpoint: str,
    seconds: int,
    *,
    tail: float = DEFAULT_TAIL,
    interval: str | None = "10 seconds",
    available_now: bool = False,
    exact: bool = True,
    grain_seconds: int = SECONDS_PER_DAY,
) -> StreamingQuery:
    """One period's always-on rollup: finalized buckets append to the
    period's parquet table exactly once (watermark finality == the
    reference's ``intervals()`` rule).  Run one per configured period —
    they are independent queries and scale independently.  Pass the
    store's ``grain_seconds`` when it uses partition_grain='hour'."""
    agg = streaming_aggregate(incoming_stream, seconds, tail=tail, exact=exact)
    return _start(agg, checkpoint, interval, available_now, stateful=True,
                  path=period_path, grain_seconds=grain_seconds)
