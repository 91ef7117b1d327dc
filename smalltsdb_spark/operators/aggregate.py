"""The one aggregation at the heart of the engine.

The reference runs a single aggregation query shape everywhere (view body
tsdb.py:183-198, incremental sync tsdb.py:388-410):

.. code-block:: sql

    select path, cast(timestamp as integer)/{s}*{s} as agg_ts,
           count(value), min(value), max(value), avg(value), sum(value),
           quantile(value,.5), quantile(value,.9), quantile(value,.99)
    from incoming group by path, agg_ts

Spark-first re-expression:

- the time bucket is ``floor(ts / s) * s`` computed JVM-side (whole-stage
  codegen; identical to SQLite's truncating division for ts >= 0 — the only
  range the reference supports, see intervals.py docstring);
- count/min/max/avg/sum are built-in hash aggregates with map-side partial
  aggregation (the physical plan Catalyst picks is partial HashAggregate →
  shuffle on (path, bucket) → final HashAggregate);
- the three percentiles use Spark's built-in exact ``percentile``: over
  the group's values sorted ascending (NaN last) ``v``, with ``pos = (n −
  1)·q``, ``lo = floor(pos)`` and ``hi = ceil(pos)``, it returns
  ``v[lo]`` when ``lo = hi`` or ``v[lo] = v[hi]``, else ``(hi − pos)·v[lo]
  + (pos − lo)·v[hi]``.  That is the linear interpolation of the
  reference's UDAF (``numpy.percentile``, tsdb.py:16-50), pinned by the
  golden test p90({1,5}) = 4.6, but not bit-for-bit: numpy evaluates the
  interpolation in another order, and on random groups with ties about
  one value in ten differs in the last bits.  The formula is pinned by
  ``test_golden.test_spark_percentile_is_the_driver_formula``.
  All three quantiles are computed in ONE pass via the array form, fixing
  the reference's own known inefficiency of re-accumulating and re-sorting
  the group once per stat (tsdb.py:32-34).
- :func:`aggregate_table` and :func:`histogram_table` are the driver
  twins of :func:`aggregate` and :func:`value_histogram`: the same rows,
  computed with numpy and pyarrow on rows already on the driver (sync's
  small deltas, ``TablesTSDB.sync``).

Scale note (100 TB): exact percentile buffers each group's values; that is
the *correctness mode* (and the reference's semantics, IDEAS.md:3-4 —
"correct percentiles, not downsampled").  For hot paths with billions of
points per bucket, pass ``exact=False`` to switch to ``percentile_approx``
(t-digest-style sketch, bounded memory, mergeable map-side) with a
documented accuracy parameter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from smalltsdb_spark.config import QUANTILES


def bucket(ts: Column | str, seconds: int | Column) -> Column:
    """Tumbling-window bucket start as a DoubleType epoch (floor semantics).
    ``seconds`` is a literal period or an integer column holding each
    row's period.

    Reference: ``cast(timestamp as integer) / {s} * {s}`` (tsdb.py:187).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    s = seconds if isinstance(seconds, Column) else F.lit(seconds)
    return (F.floor(c / s) * s).cast("double")


def aggregate_salted(
    incoming: DataFrame, seconds: int, salt_buckets: int = 32
) -> DataFrame:
    """Skew-proof two-phase aggregation of the five algebraic stats.

    ``groupBy(path, bucket)`` sends every row of a hot metric's bucket to
    one reducer; map-side partial aggregation already absorbs most of
    that, but a single (path, bucket) group whose *partials* are huge
    (e.g. one metric = 50% of the stream) still bottlenecks its reducer.
    Salting splits each group into ``salt_buckets`` sub-groups (phase 1),
    then merges the tiny per-salt partials (phase 2) — two shuffles, both
    skew-free, results identical to :func:`aggregate`'s algebraic columns
    (n/min/max/avg/sum are algebraic: they merge losslessly).

    Exact percentiles are deliberately NOT offered salted: they are
    holistic (all raw values of a group must meet), which is precisely
    what salting cannot provide.  Under real skew the supported answer is
    ``aggregate(..., exact=False)`` — percentile_approx sketches merge
    map-side, so no reducer ever sees a group's raw values.
    """
    salt = F.pmod(F.xxhash64("timestamp", "value"), F.lit(salt_buckets))
    partial = (
        incoming.groupBy(
            "path",
            bucket("timestamp", seconds).alias("timestamp"),
            salt.alias("_salt"),
        )
        .agg(
            F.count("value").alias("_n"),
            F.min("value").alias("_min"),
            F.max("value").alias("_max"),
            F.sum("value").alias("_sum"),
        )
    )
    return (
        partial.groupBy("path", "timestamp")
        .agg(
            F.sum("_n").cast("double").alias("n"),
            F.min("_min").alias("min"),
            F.max("_max").alias("max"),
            (F.sum("_sum") / F.sum("_n")).alias("avg"),
            F.sum("_sum").alias("sum"),
        )
    )


def rate(
    agg: DataFrame,
    stat: str = "sum",
    partition_col: str = "path",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Per-path delta and rate of change between consecutive buckets.

    The analytic-window family the reference lacks (SURVEY.md §2.5 —
    "likely needed for planned extensions (e.g. rate/delta of counters)"):
    ``delta = stat - lag(stat)`` and ``rate = delta / (ts - lag(ts))`` over
    ``PARTITION BY path ORDER BY timestamp``.  First bucket per path gets
    nulls (no predecessor), matching SQL LAG semantics.

    Scale: one shuffle on ``path`` + per-partition sort; lag(1) streams —
    no buffering beyond a row.  Dividing by the observed timestamp gap
    (not the nominal period) keeps rates honest across missing buckets.
    """
    w = Window.partitionBy(partition_col).orderBy(ts_col)
    prev_v = F.lag(stat).over(w)
    prev_t = F.lag(ts_col).over(w)
    return agg.select(
        partition_col,
        ts_col,
        F.col(stat),
        (F.col(stat) - prev_v).alias("delta"),
        ((F.col(stat) - prev_v) / (F.col(ts_col) - prev_t)).alias("rate"),
    )


def counter_rate(
    agg: DataFrame,
    stat: str = "max",
    partition_col: str = "path",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Reset-aware counter rate (the Prometheus ``rate()`` semantic for
    monotone counters that restart at 0 on process restart).

    A plain delta goes hugely negative at a reset and poisons every
    downstream sum; the counter convention instead treats a drop as a
    restart and counts the increase from zero:
    ``increase = stat - lag(stat) if stat >= lag(stat) else stat``.
    ``resets`` flags the restart buckets so dashboards can annotate
    them.  First bucket per path gets nulls (no predecessor), matching
    :func:`rate`; the rate divides by the OBSERVED timestamp gap, so
    missing buckets don't inflate it.

    Same scale shape as :func:`rate`: one shuffle on ``path``, lag(1)
    streams.  The division is raw IEEE (identical integers divide
    bit-identically across engines); the oracle mirrors the CASE."""
    w = Window.partitionBy(partition_col).orderBy(ts_col)
    prev_v = F.lag(stat).over(w)
    prev_t = F.lag(ts_col).over(w)
    increase = (
        F.when(prev_v.isNull(), F.lit(None).cast("double"))
        .when(F.col(stat) >= prev_v, F.col(stat) - prev_v)
        .otherwise(F.col(stat))
    )
    return agg.select(
        partition_col,
        ts_col,
        F.col(stat),
        increase.alias("increase"),
        (F.col(stat) < prev_v).alias("reset"),
        (increase / (F.col(ts_col) - prev_t)).alias("rate"),
    )


def aggregate(
    incoming: DataFrame,
    seconds: int | Column,
    exact: bool = True,
    approx_accuracy: int = 10000,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """All 8 stats per (path, bucket) — the reference's one aggregation.

    Input must have columns (path, timestamp, value); output has the fixed
    10-column aggregate schema (schemas.AGG_SCHEMA), ``n`` cast to double
    for parity with the reference's REAL count (tsdb.py:171).

    ``keys`` are extra grouping columns, output first: with a period tag
    among them and ``seconds`` the tagged row's period column (see
    :func:`bucket`), one aggregation computes several periods' buckets
    (``TablesTSDB.sync``).
    """
    if exact:
        pcts = F.percentile("value", F.array(*[F.lit(q) for q in QUANTILES]))
    else:
        pcts = F.percentile_approx(
            "value", F.array(*[F.lit(q) for q in QUANTILES]), F.lit(approx_accuracy)
        )
    return (
        incoming.groupBy(
            *keys, "path", bucket("timestamp", seconds).alias("timestamp")
        )
        .agg(
            F.count("value").cast("double").alias("n"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.avg("value").alias("avg"),
            F.sum("value").alias("sum"),
            pcts.alias("_pcts"),
        )
        .select(
            *keys,
            "path",
            "timestamp",
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


def value_histogram(
    incoming: DataFrame,
    seconds: int,
    bin_width: float = 50.0,
    clamp_bin: int = 19,
) -> DataFrame:
    """Per-bucket fixed-width value histogram — the MERGEABLE quantile
    carrier (counts re-aggregate losslessly, unlike order statistics).
    Returns (path, timestamp, bin, n) with ``bin = least(floor(value /
    bin_width), clamp_bin)``; one map-side-combined groupBy, same single
    shuffle as the core aggregation with ~clamp_bin× the key
    cardinality.  Same binning as the ``tsdb_histogram`` driver row."""
    b = (F.floor(F.col("timestamp") / F.lit(seconds)) * F.lit(seconds)).cast(
        "double"
    )
    bin_ = F.least(
        F.floor(F.col("value") / F.lit(bin_width)), F.lit(clamp_bin)
    ).cast("long")
    return incoming.groupBy(
        "path", b.alias("timestamp"), bin_.alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))


def _sorted_groups(rows, seconds: int, keys=(), within=None):
    """``rows`` (an arrow table of ``path``, ``timestamp`` and ``value``;
    ``path`` may already be dictionary-encoded) grouped by ``(path,
    bucket, *keys)``: returns ``(paths, cols, order, starts)`` — the
    dictionary of paths, the numpy columns ``(index, bucket, *keys)``
    (``index`` into ``paths``) sorted by themselves and then by
    ``within``, the permutation of ``rows`` that sorts them, and the
    index of each group's first row.  Groups come out in dictionary
    order, not path order; the writer sorts (``storage.write_units``)."""
    import numpy as np
    import pyarrow.compute as pc

    encoded = pc.dictionary_encode(rows["path"]).combine_chunks()
    index = encoded.indices.to_numpy()
    bucket = np.floor(rows["timestamp"].to_numpy() / seconds) * seconds
    sort = [index, bucket, *keys, *([] if within is None else [within])]
    order = np.lexsort(sort[::-1])
    cols = [c[order] for c in (index, bucket, *keys)]
    changed = np.zeros(len(order), bool)
    changed[:1] = True
    for c in cols:
        changed[1:] |= c[1:] != c[:-1]
    return encoded.dictionary, cols, order, np.flatnonzero(changed)


def spark_percentile(values, starts, counts, q: float):
    """Spark's exact ``percentile`` at ``q`` of each group of the sorted
    ``values`` (ascending within a group, NaN last) that starts at
    ``starts`` and holds ``counts`` rows — the formula of the module
    docstring, evaluated in Spark's order of operations, so it returns
    the same doubles."""
    import numpy as np

    pos = (counts - 1) * q
    lo, hi = np.floor(pos), np.ceil(pos)
    a = values[starts + lo.astype(np.int64)]
    c = values[starts + hi.astype(np.int64)]
    with np.errstate(invalid="ignore"):
        mixed = (hi - pos) * a + (pos - lo) * c
    return np.where((lo == hi) | (a == c), a, mixed)


def aggregate_table(rows, seconds: int):
    """:func:`aggregate` of the arrow table ``rows`` on the driver: one
    row per ``(path, bucket)`` in the fixed aggregate schema, equal to
    Spark's rows.  ``min``/``max`` and
    the percentiles come from the group's values sorted with NaN last
    (Spark's ordering of doubles) and :func:`spark_percentile`; ``sum``
    is added in value order rather than Spark's row order, so it and
    ``avg = sum / n`` can differ from Spark's in the last bits.  ``rows``
    holds no null (the caller checks)."""
    import numpy as np
    import pyarrow as pa

    from smalltsdb_spark.schemas import AGG_COLUMNS

    values = rows["value"].to_numpy()
    paths, (index, bucket), order, starts = _sorted_groups(
        rows, seconds, within=values
    )
    values = values[order]
    counts = np.diff(np.append(starts, len(values)))
    with np.errstate(invalid="ignore"):  # ∞ − ∞ is NaN, as in Spark
        sums = np.add.reduceat(values, starts) if len(starts) else values[:0]
    cols = {
        "path": paths.take(index[starts]),
        "timestamp": bucket[starts],
        "n": counts.astype(np.float64),
        "min": values[starts],
        "max": values[starts + counts - 1],
        "avg": sums / counts,
        "sum": sums,
    }
    for stat, q in zip(("p50", "p90", "p99"), QUANTILES):
        cols[stat] = spark_percentile(values, starts, counts, q)
    return pa.table({name: cols[name] for name in AGG_COLUMNS})


def _spark_long(x):
    """Java's ``(long)`` cast of the doubles ``x``: NaN is 0, and values
    past the range (±∞ included) saturate."""
    import numpy as np

    big = 2.0**63
    out = np.where(np.isnan(x) | (np.abs(x) >= big), 0.0, x).astype(np.int64)
    out[x <= -big] = np.iinfo(np.int64).min
    out[x >= big] = np.iinfo(np.int64).max
    return out


def histogram_table(rows, seconds: int, bin_width: float = 50.0, clamp_bin: int = 19):
    """:func:`value_histogram` of the arrow table ``rows`` on the driver:
    one ``(path, timestamp, bin, n)`` row per group, with Spark's
    ``least(floor(value / bin_width), clamp_bin)`` as a long (NaN in bin
    0, −∞ in the least long)."""
    import numpy as np
    import pyarrow as pa

    bins = _spark_long(
        np.minimum(np.floor(rows["value"].to_numpy() / bin_width), clamp_bin)
    )
    paths, (index, bucket, bins), _order, starts = _sorted_groups(
        rows, seconds, keys=(bins,)
    )
    return pa.table(
        {
            "path": paths.take(index[starts]),
            "timestamp": bucket[starts],
            "bin": bins[starts],
            "n": np.diff(np.append(starts, len(bins))),
        }
    )


def histogram_quantile_bounds(
    hist: DataFrame,
    seconds: int,
    quantiles: list[float] = QUANTILES,
    bin_width: float = 50.0,
    clamp_bin: int = 19,
    fine_seconds: int | None = None,
) -> DataFrame:
    """The cascade's quantile companion (VERDICT r9 item 5): coarsen a
    :func:`value_histogram` relation to ``seconds`` buckets by summing
    counts (algebraic, exact — the same merge as :func:`reaggregate`),
    then bound each interpolated percentile from the merged histogram
    with a PROVABLE containment contract:

    the exact interpolated q-quantile of n values is ``x_lo + frac ·
    (x_hi − x_lo)`` where x_lo / x_hi are the order statistics at
    1-based ranks ``floor(q·(n−1))+1`` / ``ceil(q·(n−1))+1``; the
    rank-r value lies in the FIRST bin whose cumulative count reaches r,
    so the quantile lies in ``[lo_edge(bin(rank_lo)),
    hi_edge(bin(rank_hi))]`` — integer/bin-edge arithmetic only, no
    sketch error model.  The interval width is the error bound: one
    ``bin_width`` when both ranks land in one bin, wider across bins,
    UNBOUNDED (hi = NULL) when rank_hi lands in the clamp bin — the
    honest tail contract of a clamped histogram.

    Returns (path, timestamp, n, p{Q}_lo, p{Q}_hi …).  Cost: one
    map-side-combined merge groupBy, one (path, bucket)-partitioned
    window cumsum over ≤ clamp_bin+1 rows per group, one final groupBy —
    input is the HISTOGRAM relation (fine_buckets × bins rows), never
    raw data; the cascade's compression factor carries over.

    PRECONDITION (ADVICE r10, same contract as :func:`reaggregate`):
    ``seconds`` must be a MULTIPLE of the fine histogram's bucket width
    — a fine bucket straddling a coarse boundary would merge wholly
    into its floor bucket, silently producing plausible but wrong
    counts.  Pass ``fine_seconds`` where the fine grain is known (the
    cascade driver row does) and the divisibility is asserted; without
    it the caller owns the invariant.
    """
    if fine_seconds is not None and seconds % fine_seconds != 0:
        raise ValueError(
            f"coarse period {seconds}s is not a multiple of the fine "
            f"histogram bucket width {fine_seconds}s — a straddling fine "
            "bucket would merge into the wrong coarse bucket"
        )
    b = (F.floor(F.col("timestamp") / F.lit(seconds)) * F.lit(seconds)).cast(
        "double"
    )
    merged = hist.groupBy("path", b.alias("timestamp"), "bin").agg(
        F.sum("n").alias("n")
    )
    w = Window.partitionBy("path", "timestamp").orderBy("bin")
    wall = Window.partitionBy("path", "timestamp")
    rows = merged.select(
        "path",
        "timestamp",
        "bin",
        F.sum("n").over(w).alias("_cum"),
        F.sum("n").over(wall).alias("_total"),
    )
    aggs = [F.max("_total").cast("long").alias("n")]
    out_cols = ["path", "timestamp", "n"]
    for q in quantiles:
        pos = F.lit(q) * (F.col("_total") - F.lit(1))
        name = f"p{int(q * 100)}"
        for part, rank in (
            ("lo", F.floor(pos) + F.lit(1)),
            ("hi", F.ceil(pos) + F.lit(1)),
        ):
            aggs.append(
                F.min(
                    F.when(F.col("_cum") >= rank, F.col("bin"))
                ).alias(f"_{name}_{part}_bin")
            )
    bounded = rows.groupBy("path", "timestamp").agg(*aggs)
    sel = [F.col(c) for c in out_cols]
    for q in quantiles:
        name = f"p{int(q * 100)}"
        lo_bin, hi_bin = F.col(f"_{name}_lo_bin"), F.col(f"_{name}_hi_bin")
        sel.append((lo_bin * F.lit(bin_width)).alias(f"{name}_lo"))
        sel.append(
            F.when(
                hi_bin >= F.lit(clamp_bin), F.lit(None).cast("double")
            )
            .otherwise((hi_bin + F.lit(1)) * F.lit(bin_width))
            .alias(f"{name}_hi")
        )
    return bounded.select(*sel)


def reaggregate(
    agg: DataFrame, seconds: int, fine_seconds: int | None = None
) -> DataFrame:
    """Coarsen an already-aggregated AGG_SCHEMA relation to ``seconds``
    buckets WITHOUT re-reading raw data — the rollup-cascade maintenance
    path: n/min/max/sum are mergeable (algebraic), avg re-derives as
    total sum / total n, so all five are EXACT.  The interpolated
    percentiles are NOT mergeable — their exactness is precisely why the
    reference (and ``sync``) scans raw once per period — so the result
    carries only the mergeable five; pair with the mergeable histogram
    (``tsdb_histogram``) or ``percentile_approx`` sketches when coarse
    quantiles are needed cascade-style.

    PRECONDITION (ADVICE r9): ``seconds`` must be a MULTIPLE of the
    input's bucket width — a fine bucket straddling a coarse boundary
    would be wholly assigned to its floor bucket, silently producing
    wrong (but plausible) merges.  Pass ``fine_seconds`` where the fine
    period is known (the tsdb cascade path does) and the divisibility is
    asserted; without it the caller owns the invariant.  All reference
    periods (10 s/1 m/5 m/1 h/1 d) divide each other in order, so every
    cascade between them is legal.

    100 TB shape: deriving a day table from tensecond buckets reads
    ~8.6k rows per path-day instead of the raw corpus — input shrinks by
    the finer period's compression factor; one map-side-combined shuffle
    on (path, bucket).  Returns (path, timestamp, n, min, max, avg, sum).
    """
    if fine_seconds is not None and seconds % fine_seconds != 0:
        raise ValueError(
            f"coarse period {seconds}s is not a multiple of the fine "
            f"bucket width {fine_seconds}s — a straddling fine bucket "
            "would merge into the wrong coarse bucket"
        )
    b = (F.floor(F.col("timestamp") / F.lit(seconds)) * F.lit(seconds)).cast(
        "double"
    )
    return (
        agg.groupBy("path", b.alias("timestamp"))
        .agg(
            F.sum("n").alias("n"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sum("sum").alias("sum"),
        )
        .select(
            "path",
            "timestamp",
            "n",
            "min",
            "max",
            (F.col("sum") / F.col("n")).alias("avg"),
            "sum",
        )
    )
