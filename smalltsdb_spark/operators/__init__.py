from pyspark.sql import DataFrame

from smalltsdb_spark.operators.aggregate import aggregate, bucket

__all__ = ["aggregate", "bucket", "spread"]

#: bytes of (compressed, scanned) input per spread partition when the
#: input is SMALL and its size is known.  Sizes partitions to DATA, not
#: cores (guide §2.2): 128 KiB of compressed text/vectors is roughly
#: 0.2-1 core-second of the tokenize/explode/GEMM work spread exists to
#: parallelize, so partitions stay fat enough to amortize task launch
#: while tiny relations stop fanning every downstream map stage out to
#: one near-empty task per core (measured: the streaming handler rows'
#: per-trigger jobs were dominated by 32-task map stages over kB-sized
#: batches; at the other end the 0.6 MB sf0.1 documents corpus keeps
#: ~5 partitions — its tokenize-heavy jobs stay parallel and flat on
#: wall).  The 100 TB case never reaches this code path (the big-input
#: fast path below proves enough scan partitions and passes through).
SPREAD_TARGET_BYTES = 128 << 10


def spread(df: DataFrame) -> DataFrame:
    """Ensure per-row-expensive work downstream (tokenize/explode/GEMM)
    has cluster-wide parallelism.

    Small fixture tables arrive as ONE parquet file → one partition → any
    amount of per-row work runs on one core (measured: the sf0.1 bigram
    explode is 2.8 s single-partition vs 0.5 s spread).  Repartition only
    when the input has fewer partitions than the cluster — a corpus that
    is already well-partitioned (the 100 TB case) passes through untouched,
    so this never adds a shuffle at scale; when it does fire it shuffles
    only the input rows to unlock N× the downstream work.
    """
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    # fast path: a big-enough input PROVES >= parallelism scan partitions
    # without the DataFrame->RDD plan conversion that getNumPartitions()
    # costs on every operator call.  The proof must be byte-based, not
    # file-count-based: Spark bin-packs small files into FilePartitions
    # (maxPartitionBytes / openCostInBytes), so 64 tiny files on 32 cores
    # can scan as a handful of partitions — file count proves nothing.
    # One FilePartition holds at most maxPartitionBytes, so
    # totalBytes >= parallelism * maxPartitionBytes guarantees enough
    # partitions however the bytes are distributed across files; the
    # 100 TB corpus never leaves this branch.  (Estimated plan size is
    # driver-local: the FileIndex's cached file listing, no job.)
    conf = spark._jsparkSession.sessionState().conf()
    max_partition_bytes = int(conf.filesMaxPartitionBytes())
    plan_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    # UNKNOWN stats must not fast-path: leaves without file statistics
    # (LogicalRDD from localCheckpoint/createDataFrame) report
    # sizeInBytes = spark.sql.defaultSizeInBytes (Long.MaxValue by
    # default), and any plan containing such a leaf reports at least
    # that — exactly the single-partition checkpointed inputs spread
    # exists to fix.  Only a big-enough estimate BELOW that sentinel
    # proves real scanned bytes.
    default_size = int(conf.defaultSizeInBytes())
    if default_size > plan_bytes >= parallelism * max_partition_bytes:
        return df
    # KNOWN-small input: size the fan-out by the data, not the core
    # count — ceil(bytes / SPREAD_TARGET_BYTES), capped at parallelism
    # (r15, guide §2.2).  Unknown-size inputs (stats at the sentinel)
    # keep the full-parallelism fan-out: they are usually checkpointed
    # mid-pipeline relations whose real size the stats cannot see.
    if plan_bytes < default_size:
        want = max(1, min(parallelism, -(-plan_bytes // SPREAD_TARGET_BYTES)))
    else:
        want = parallelism
    # pay the RDD conversion to read the actual partition count (also
    # covers plans whose bottom is a shuffle, where partitions =
    # spark.sql.shuffle.partitions, not a file scan)
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)
