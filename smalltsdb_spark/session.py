"""SparkSession factory with the engine's recommended configuration, and
the one scope library code uses to borrow the block manager.

:func:`get_spark` is the only function that sets a caller's conf.  Library
code runs on a caller's session and hands it back unchanged: a relation
it caches for its own passes is released by :func:`persisted`, and a
stateful stream runs on :func:`state_session`, a child session with the
state width :data:`STATE_PARTITIONS`.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


#: shuffle width of every stateful stream the engine starts, so the
#: number of state-store partitions each micro-batch commits and of files
#: a file sink writes per touched ``pday``.  It follows the state, not
#: the cores: a ``stream`` rollup holds ~200 state rows, and at 4
#: partitions each micro-batch committed 4 state versions and wrote up
#: to 4 small files per ``pday`` (174 B per stored point against 108 at
#: 1; SCALE.md "State partitions").  The count is frozen into a
#: checkpoint's offset log at first start, so a restarted checkpoint
#: keeps the width it was created with.  A deployment whose state has
#: millions of keys raises this one constant.
STATE_PARTITIONS = 1


def _default_driver_mem() -> str:
    """Half of physical RAM, clamped to [2g, 64g]; 4g if undetectable."""
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return "4g"
    gb = total >> 30
    return f"{max(2, min(gb // 2, 64))}g"


def get_spark(
    app_name: str = "smalltsdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    Defaults target the local[N] test harness; on a real cluster the same
    settings apply except master/memory come from the submitter.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local-mode JVM heap: Spark's default is 1g regardless of machine
        # size — found the hard way when a 10M-row exact-percentile
        # aggregation OOMed on a 128 GiB box.  Size to half of physical
        # RAM (capped); on a real cluster the submitter's --driver-memory/
        # --executor-memory govern instead (this conf is ignored for an
        # already-running JVM and irrelevant to executors there).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # JIT code cache: the JVM default (240m) fills up after a few dozen
        # distinct whole-stage-codegen queries in one session, after which
        # HotSpot disables compilation and previously sub-second plans run
        # interpreted 10x slower.  512m carried ~60 queries (round 3);
        # ~100 queries per session need 1g.  The cache is reserved virtual
        # address space, not committed RAM — oversizing is free.
        #
        # Code-cache FLUSHING is OFF (r9, flipped from r3's
        # +UseCodeCacheFlushing) on the CAPACITY evidence alone: the
        # study's CodeHeap telemetry shows a full 130-query session
        # peaks around ~100 MB of the 1 GiB reserve, so flushing cold
        # methods can never be needed here and can only force
        # recompiles; the compilation-shutoff risk the flag guarded
        # against cannot occur until the reserve fills (~10x today's
        # peak).  The A/B sessions were INCONCLUSIVE on wall time — the
        # best-ever floors (6.2-6.4 s) AND a storm session both occurred
        # with flushing off, and the per-entry compile_ms deltas spike
        # in every storm REGARDLESS of the flag (compiler threads starve
        # with everything else when the host's effective CPU collapses,
        # so compile_ms is a symptom there, not a cause) — see
        # SYNC_STUDY.jsonl 2026-08-15 sessions and the README protocol
        # note.
        .config(
            "spark.driver.extraJavaOptions",
            # SPARK_GRAFT_EXTRA_JAVA_OPTIONS appends experiment flags
            # (the r9 JIT-churn study A/Bs code-cache/compiler settings
            # through it without code edits; scripts/sync_spread_study.py
            # records the active flags in every JSONL line)
            (
                "-XX:ReservedCodeCacheSize=1g -XX:-UseCodeCacheFlushing "
                + os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTIONS", "")
            ).strip(),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r15 (guide §2.2 — partitions track DATA): let AQE coalesce the
        # shuffle that tops a .cache()/.persist() build, so a cached
        # relation's partition count comes from its MEASURED bytes
        # instead of freezing spark.sql.shuffle.partitions (= cores
        # locally) into the cache.  Every multi-scanned cached relation
        # here (classifier features/training cache, streaming handler
        # deltas/assignments) was paying one near-empty task per core
        # per downstream stage at bench scale; on a cluster the same
        # caches coalesce to advisory-sized partitions.  Output values
        # are partitioning-independent across this engine (the
        # determinism contract), so only task counts change.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy (guide §3.1/§9): let the planner pick a
        # shuffled-hash join over sort-merge when its size conditions
        # are met (no sort of either side — the banded dedup families'
        # self-joins are the main beneficiaries), and let AQE rewrite a
        # planned sort-merge to shuffled-hash at runtime when every
        # post-shuffle partition is under the threshold.  Both knobs are
        # size-GATED (static stats / measured partition bytes), so at
        # 100 TB an oversized build side keeps the sort-merge plan —
        # results are identical either way, only the operator changes.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "128m",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # read a TIMESTAMP(NANOS) parquet column (an older generator
        # vintage of the events fixture) as nanosecond longs instead of
        # refusing it (queries.read_events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # MERGE-equivalent upsert path: overwrite only the partitions
        # present in the written DataFrame (see tsdb.TablesTSDB.sync).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def state_session(spark: SparkSession) -> SparkSession:
    """The session a stateful stream of ``spark`` runs on: ``spark``
    itself when its shuffle width is already :data:`STATE_PARTITIONS`,
    else a child (``newSession``: same SparkContext, cache and builder
    conf; its own SQL conf, temp views and ``streams``) with that width,
    so the caller's conf is never written."""
    width = str(STATE_PARTITIONS)
    if spark.conf.get("spark.sql.shuffle.partitions") == width:
        return spark
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", width)
    return child


@contextmanager
def persisted(*dfs: DataFrame) -> Iterator[DataFrame | tuple[DataFrame, ...]]:
    """Persist ``dfs`` for the ``with`` block and unpersist them on exit,
    error or not, so a relation cached for the block's own passes never
    outlives it.  Yields the one DataFrame, or the tuple of them.

    They persist in argument order: a later relation built on an earlier
    one then caches a plan that reads the earlier cache.  A relation whose
    plan the session already caches is left to whoever cached it, neither
    persisted nor released here.  A cache that a returned plan must read
    cannot use this scope."""
    owned = []
    try:
        for df in dfs:
            if df.storageLevel == StorageLevel.NONE:
                owned.append(df.persist())
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        for df in owned:
            df.unpersist()
