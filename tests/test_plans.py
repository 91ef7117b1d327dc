"""Plan-shape regression tests — the 100 TB properties (SURVEY.md §4).

Correctness tests pin values; these pin the *physical plans*: filter
pushdown to the parquet scan, column pruning, broadcast of small join
sides, map-side partial aggregation, and bounded shuffle counts.  A
regression here is invisible at sf0.001 and fatal at 100 TB.
"""

import os
import re

import pytest

from pyspark.sql import functions as F

from smalltsdb_spark.operators.aggregate import aggregate
from smalltsdb_spark.plans import (
    broadcast_hint_count,
    broadcast_join_count,
    exchange_count,
    physical_plan,
    pushed_filters,
    scan_columns,
)
from smalltsdb_spark import queries_ext  # noqa: F401  (registers extensions)
from smalltsdb_spark import queries_rel  # noqa: F401  (registers rel/window wave)
from smalltsdb_spark.plans.inspect import plan_nodes
from smalltsdb_spark.queries import QUERIES, events_as_incoming
from smalltsdb_spark.tsdb import TablesTSDB
from tests.test_golden import GOLDEN_A_INPUT

SF_DIR = "/root/testdata/sf0.001"


def test_read_path_pushes_filters_to_scan(spark, tsdb_dir):
    """get_metric on a materialized table = the reference's index range
    scan: both predicates must reach the parquet reader."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    db.insert(GOLDEN_A_INPUT)
    db.sync()
    df = db.get_metric_df("one", "tensecond", "p90", (0, 50))
    filters = " ".join(pushed_filters(df))
    assert "EqualTo(path,one)" in filters
    assert "GreaterThanOrEqual(timestamp,0" in filters
    assert "LessThanOrEqual(timestamp,50" in filters


def test_read_path_prunes_columns(spark, tsdb_dir):
    """2-column projection must not scan the 10-column aggregate row."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    db.insert(GOLDEN_A_INPUT)
    db.sync()
    df = db.get_metric_df("one", "tensecond", "p90", (0, 50))
    for cols in scan_columns(df):
        assert cols <= {"path", "timestamp", "p90"}, cols


def test_bounds_read_prunes_the_persisted_histogram(spark, tsdb_dir):
    """get_metric_bounds_df over a histograms=True store: the path
    equality and the conservative time prefilter must reach the
    persisted histogram's parquet scan (partition pruning + row-group
    skipping at scale), and the scan reads only the 4 histogram
    columns — never raw incoming."""
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 1e9, histograms=True)
    db.insert(GOLDEN_A_INPUT)
    db.sync()
    df = db.get_metric_bounds_df("one", "onehour", "p90", (0, 7200))
    filters = " ".join(pushed_filters(df))
    assert "EqualTo(path,one)" in filters
    assert "GreaterThanOrEqual(timestamp," in filters
    assert "LessThanOrEqual(timestamp," in filters
    for cols in scan_columns(df):
        assert cols <= {"path", "timestamp", "bin", "n"}, cols


def test_view_mode_pushes_grouping_key_filter_below_agg(spark, tsdb_dir):
    """ViewTSDB: the path filter must push through the aggregation to the
    scan (path is a grouping key) — the optimization SQLite + a Python
    UDAF could not do (SURVEY.md §3.1)."""
    from smalltsdb_spark.tsdb import ViewTSDB

    db = ViewTSDB(spark, tsdb_dir)
    db.insert(GOLDEN_A_INPUT)
    df = db.get_metric_df("one", "tensecond", "p90", (0, 50))
    assert any("EqualTo(path,one)" in f for f in pushed_filters(df))


def test_aggregate_is_partial_then_final(spark):
    """Map-side combine: partial aggregate before the one shuffle, final
    after — and exactly one shuffle for a single group-by."""
    inc = events_as_incoming(spark, SF_DIR)
    df = aggregate(inc, 60)
    plan = physical_plan(df)
    assert exchange_count(df) == 1
    # exact percentile is a typed-imperative aggregate → ObjectHashAggregate
    assert plan.count("ObjectHashAggregate") >= 2
    assert "partial_" in plan  # partial_percentile / partial_count etc.


def test_star_join_broadcasts_dimensions(spark):
    """Revenue-by-nation: customer and nation must broadcast, never
    shuffle the fact table against a dimension."""
    df = QUERIES["rel_revenue_by_nation"](spark, SF_DIR)
    assert broadcast_join_count(df) >= 2
    # lineitem⋈orders shuffle (×2) + agg + final sort are the only
    # acceptable exchanges; dims must not add any
    assert exchange_count(df) <= 5


def test_eligible_rows_scan_only_incoming(spark, tsdb_dir):
    """Incremental sync's eligibility filter (tsdb.py _eligible_rows):
    every due table's per-path high-water marks come from the path
    catalog as a plan literal, so the plan is one file scan (incoming)
    with no join and no exchange."""
    from smalltsdb_spark.intervals import final_end

    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    db.insert(GOLDEN_A_INPUT)
    db.sync()
    db.insert([("one", 70.0, 2.0)])
    due = [
        (s, float(final_end(s, db.tail, 200.0)), db._hwms(n)) for n, s in db.periods
    ]
    assert due[0][2]  # the marks are not all empty
    eligible = db._eligible_rows(db.incoming(), due)
    plan = physical_plan(eligible)
    assert not [n for n in plan_nodes(eligible) if "Join" in n or "Cartesian" in n]
    assert exchange_count(eligible) == 0
    (location,) = re.findall(r"Location: \w+ \[([^\]]*)\]", plan)
    assert location.rstrip("/").endswith(os.path.join(tsdb_dir, "incoming"))
    # the marks' JSON is parsed once, at planning: the optimizer folds
    # from_json of a literal into a map literal, so no row parses it
    optimized = eligible._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized and "keys: [" in optimized


def test_list_metrics_scans_only_path(spark, tsdb_dir):
    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    db.insert(GOLDEN_A_INPUT)
    db.sync()
    for cols in scan_columns(db.list_metrics_df()):
        assert cols <= {"path"}, cols


def test_parse_lines_single_codegen_stage(spark):
    """The wire parser must stay entirely JVM-side (no Python UDF nodes)."""
    from smalltsdb_spark.sources.graphite import parse_lines_df

    lines = spark.createDataFrame([("a 1 2",)], "value string")
    plan = physical_plan(parse_lines_df(lines))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["tsdb_agg_tensecond", "rel_pricing_summary", "dedup_exact"]
)
def test_driver_queries_have_no_python_eval_in_hot_path(spark, name):
    """Core relational queries must not fall back to Python row eval.
    (Pandas-UDF-based extension ops are exempt by design.)"""
    df = QUERIES[name](spark, SF_DIR)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["dedup_jaccard_bigram", "dedup_minhash_lsh", "dedup_simhash_pairs"]
)
def test_dedup_pair_generation_never_broadcasts_the_corpus(spark, name):
    """Candidate generation must be join-free of any relation derived from
    ``documents``: no forced broadcast hints anywhere (per-doc relations
    are corpus-sized — a forced broadcast is an OOM at 100 TB), and no
    statically-planned BroadcastExchange (sizes/signatures ride the
    posting-list structs instead of joining back).  The oversized-bucket
    fallback is hint('merge'), never broadcast."""
    df = QUERIES[name](spark, SF_DIR)
    assert broadcast_hint_count(df) == 0
    assert "BroadcastExchange" not in physical_plan(df)


def test_incremental_minhash_not_hint_forced(spark):
    """Batch-vs-corpus dedup: the corpus band table is corpus-sized, so
    the band-key join must never be hint-forced to broadcast (statically
    electing one at tiny SF is fine — that's Catalyst sizing, which AQE
    re-checks at scale)."""
    df = QUERIES["dedup_minhash_incremental"](spark, SF_DIR)
    assert broadcast_hint_count(df) == 0


def test_cluster_labels_join_not_hint_forced(spark):
    """dedup_cluster_labels: the components relation is a large fraction
    of the corpus on dup-heavy data — the label join must leave the
    strategy to AQE (broadcast only when measured-small), never force it."""
    from smalltsdb_spark.operators.components import dedup_cluster_labels

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (4, 5)], "id_a long, id_b long")
    df = dedup_cluster_labels(docs, "doc_id", pairs)
    assert broadcast_hint_count(df) == 0


def test_curate_pipeline_is_join_free(spark):
    """ext_curate composes quality→dedup→sample as projections + ONE
    content-hash window shuffle (plus the input spread) — no joins.  The
    naive per-operator join composition costs 5 exchanges."""
    from smalltsdb_spark import queries_rel  # noqa: F401

    df = QUERIES["ext_curate"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert exchange_count(df) <= 2


def test_rate_single_shuffle(spark):
    """rate() adds one path shuffle on top of the aggregation's."""
    from smalltsdb_spark.operators.aggregate import rate

    agg = aggregate(events_as_incoming(spark, SF_DIR), 60)
    base = exchange_count(agg)
    assert exchange_count(rate(agg)) == base + 1


def test_bucketed_table_aggregates_without_shuffle(spark, tmp_path):
    """bucketBy(path) pre-shuffles at write time: later per-path
    aggregations must run with ZERO exchanges (the 100 TB repeated-read
    pattern — one write-time shuffle amortized over every later query)."""
    from smalltsdb_spark.storage import write_bucketed_table

    inc = events_as_incoming(spark, SF_DIR)
    write_bucketed_table(inc, "bucketed_inc_t", buckets=4)
    try:
        tbl = spark.table("bucketed_inc_t")
        agg = aggregate(tbl, 60)
        assert exchange_count(agg) == 0, physical_plan(agg)
        # and a path-keyed self-join is exchange-free on both sides
        j = tbl.groupBy("path").count().join(
            tbl.select("path").distinct(), "path"
        )
        assert exchange_count(j) == 0, physical_plan(j)
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_inc_t")


def test_bucketed_two_table_join_without_shuffle(spark):
    """Both sides bucketed by the join key (the TPC-H orders/lineitem
    co-location bench.py times): join + per-key rollup must plan with
    ZERO exchanges — the write-time shuffle is the only one that ever
    happens.  Broadcast disabled: the thing under test is co-location."""
    from smalltsdb_spark.storage import write_bucketed_table

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    write_bucketed_table(li, "bkt_li_t", 4, "l_orderkey")
    write_bucketed_table(od, "bkt_od_t", 4, "o_orderkey")
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        l, o = spark.table("bkt_li_t"), spark.table("bkt_od_t")
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("l_orderkey")
            .agg(F.sum("l_extendedprice").alias("revenue"))
        )
        assert exchange_count(j) == 0, physical_plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        spark.sql("DROP TABLE IF EXISTS bkt_li_t")
        spark.sql("DROP TABLE IF EXISTS bkt_od_t")


def test_spread_repartitions_unknown_stats_input(spark):
    """spread() exists to give single-partition inputs parallelism.
    An RDD-backed (LogicalRDD) input has NO statistics — its
    sizeInBytes is the defaultSizeInBytes sentinel (Long.MaxValue),
    which must be treated as UNKNOWN, not huge: the byte-based fast
    path returning it unrepartitioned would silently serialize all
    downstream per-row work (r3 ADVICE, medium).  Unknown size keeps
    the full-parallelism fan-out."""
    from smalltsdb_spark.operators import spread

    one = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(10)], 1),
        "id long",
    )
    assert one.rdd.getNumPartitions() == 1
    out = spread(one)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_spread_sizes_small_known_input_by_bytes(spark):
    """r15 (guide §2.2): a KNOWN-small input is fanned out by BYTES
    (ceil(bytes / SPREAD_TARGET_BYTES), capped at parallelism), not
    unconditionally to the core count — a kB-sized relation must not
    pay one near-empty task per core in every downstream stage.  A
    localCheckpointed range is ~8 kB with real propagated stats
    (Spark 4 LogicalRDD carries the origin plan's stats), so spread
    must leave its single partition alone."""
    from smalltsdb_spark.operators import spread

    one = spark.range(1000).coalesce(1).localCheckpoint()
    assert one.rdd.getNumPartitions() == 1
    assert spread(one) is one


def test_spread_passes_through_wide_input(spark):
    """An input already at cluster parallelism passes through with no
    repartition (the 100 TB case must not add a shuffle)."""
    from smalltsdb_spark.operators import spread

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(1000, numPartitions=par)
    assert spread(wide) is wide


def test_downsample_single_exchange(spark):
    """tsdb_downsample: the bucket-avg window and the ranking window
    share the (path, bucket) partitioning — Catalyst must plan ONE
    exchange for the raw relation, not one per window."""
    from smalltsdb_spark.queries import QUERIES

    df = QUERIES["tsdb_downsample"](spark, SF_DIR)
    assert exchange_count(df) == 1, physical_plan(df)


def test_interleave_has_no_global_sort(spark):
    """ext_interleave computes the global sequence arithmetically; a
    plan with a single-partition global Sort (the oracle's
    formulation) would serialize the corpus at 100 TB."""
    from smalltsdb_spark.queries import QUERIES

    df = QUERIES["ext_interleave"](spark, SF_DIR)
    plan = physical_plan(df)
    import re

    assert not re.search(r"Exchange SinglePartition", plan), plan
    assert broadcast_join_count(df) >= 1, plan


def test_pq_adc_scoring_reads_no_vector_column(spark):
    """IVF-PQ probe: the scoring join must touch only (id, list, codes)
    — if the embedding column survives into the candidate join, the
    index lost its entire I/O advantage."""
    import numpy as np

    from smalltsdb_spark.operators import similarity

    rng = np.random.RandomState(2)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(32)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    C = similarity.ivf_train(df, "vec_id", "embedding", n_centroids=4, seed=1)
    assigned = similarity.ivf_assign(df, "vec_id", "embedding", C)
    B = similarity.pq_train_residual(df, "vec_id", "embedding", C, m=2, codes=4)
    index = similarity.ivf_pq_encode(assigned, B, C).localCheckpoint()
    got = similarity.ivf_pq_topk(
        index, C, B, df.filter(F.col("vec_id") < 2), "vec_id", "embedding", k=3
    )
    plan = physical_plan(got)
    assert "embedding" not in plan, plan


def test_ivf_pruned_probe_scans_only_probed_partitions(spark, tmp_path):
    """ivf_probe_pruned over a _list-partitioned index must carry the
    probed lists as a PARTITION filter on the scan (PartitionFilters,
    not a post-scan Filter) — the property that makes an IVF probe read
    nprobe-of-n_centroids of the data at 100 TB."""
    import numpy as np

    from smalltsdb_spark.operators import similarity

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(64)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    C = similarity.ivf_train(df, "vec_id", "embedding", n_centroids=8, seed=3)
    index_path = str(tmp_path / "ivf_index")
    similarity.ivf_index_write(
        similarity.ivf_assign(df, "vec_id", "embedding", C), index_path
    )
    got = similarity.ivf_probe_pruned(
        spark, index_path, C, df.filter(F.col("vec_id") < 2),
        "vec_id", "embedding", k=3, nprobe=2, dim=8,
    )
    plan = physical_plan(got)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "_list" in m.group(1), plan
    # and the result matches the unpartitioned probe over the same index
    assigned = similarity.ivf_assign(df, "vec_id", "embedding", C)
    want = similarity.ivf_probe(
        assigned, C, df.filter(F.col("vec_id") < 2),
        "vec_id", "embedding", k=3, nprobe=2, dim=8,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_index_append_mode_accumulates_batches(spark, tmp_path):
    """The documented incremental path: build the index from the corpus,
    append a later batch with mode='append', probe — results must equal
    a probe over the full union (an accidental overwrite would silently
    drop every earlier batch from ANN results)."""
    import numpy as np

    from smalltsdb_spark.operators import similarity

    rng = np.random.RandomState(11)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(64)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    corpus = df.filter(F.col("vec_id") % 4 != 0)
    batch = df.filter(F.col("vec_id") % 4 == 0)
    C = similarity.ivf_train(corpus, "vec_id", "embedding", n_centroids=8, seed=5)
    index_path = str(tmp_path / "ivf_index")
    similarity.ivf_index_write(
        similarity.ivf_assign(corpus, "vec_id", "embedding", C), index_path
    )
    similarity.ivf_index_write(
        similarity.ivf_assign(batch, "vec_id", "embedding", C),
        index_path,
        mode="append",
    )
    got = similarity.ivf_probe_pruned(
        spark, index_path, C, df.filter(F.col("vec_id") < 2),
        "vec_id", "embedding", k=3, nprobe=2, dim=8,
    )
    want = similarity.ivf_probe(
        similarity.ivf_assign(df, "vec_id", "embedding", C),
        C, df.filter(F.col("vec_id") < 2),
        "vec_id", "embedding", k=3, nprobe=2, dim=8,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_histogram_partial_aggregates(spark):
    """tsdb_histogram must map-side combine (partial + final hash
    aggregate around one exchange)."""
    from smalltsdb_spark.queries import QUERIES

    df = QUERIES["tsdb_histogram"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert exchange_count(df) == 1, plan


def test_seasonal_baseline_is_broadcast(spark):
    """tsdb_seasonal joins the rollup back to a paths×24 baseline —
    that side must broadcast, never shuffle the rollup a second time."""
    from smalltsdb_spark.queries import QUERIES

    df = QUERIES["tsdb_seasonal"](spark, SF_DIR)
    assert broadcast_join_count(df) >= 1, physical_plan(df)


def test_pricing_summary_pushes_date_filter_and_partial_aggs(spark):
    """rel_pricing_summary (the Q1 shape): the shipdate predicate must
    reach the parquet scan, and the 8-aggregate groupBy must map-side
    combine (partial+final around one exchange)."""
    from smalltsdb_spark.queries import QUERIES

    df = QUERIES["rel_pricing_summary"](spark, SF_DIR)
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters, filters
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2, plan
    # one hash exchange for the groupBy; the final ORDER BY adds at most
    # one range exchange over the tiny |flag x status| grouped relation
    assert exchange_count(df) <= 2, plan


def test_shipping_priority_broadcasts_segment_customers(spark):
    """rel_shipping_priority (the Q3 shape): the segment-filtered
    customer dim must broadcast — lineitem⋈orders is the only fact-side
    shuffle pair."""
    from smalltsdb_spark.queries import QUERIES

    df = QUERIES["rel_shipping_priority"](spark, SF_DIR)
    assert broadcast_join_count(df) >= 1, physical_plan(df)


def test_small_qty_revenue_broadcasts_dims(spark):
    """rel_small_qty_revenue (the Q17 shape): the brand-pruned part dim
    and the per-part avg relation must both broadcast — lineitem is
    scanned and shuffled at most once, never joined shuffle-to-shuffle
    against a #parts-sized side."""
    from smalltsdb_spark.queries import QUERIES

    df = QUERIES["rel_small_qty_revenue"](spark, SF_DIR)
    assert broadcast_join_count(df) >= 1, physical_plan(df)


def test_priority_returns_semi_join_pushes_filter(spark):
    """rel_priority_returns: the returnflag filter reaches the lineitem
    parquet scan (PushedFilters), and the EXISTS runs as a semi join —
    no distinct/dedup exchange after an inner join."""
    from smalltsdb_spark.queries import QUERIES

    df = QUERIES["rel_priority_returns"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert any("l_returnflag" in f for f in pushed_filters(df)), pushed_filters(df)


def test_bloom_probe_hashes_jvm_side(spark):
    """The Bloom prefilter's only Python operator is the Arrow-batched
    membership test over TWO JVM-computed xxhash64 columns — the scan,
    the hashing, and the post-filter plan stay JVM-side (no
    row-at-a-time BatchEvalPython anywhere)."""
    from smalltsdb_spark.operators.joins import bloom_semi_join

    left = spark.createDataFrame([(i,) for i in range(100)], "k long")
    right = spark.createDataFrame([(i,) for i in range(0, 100, 5)], "k long")
    plan = physical_plan(bloom_semi_join(left, right, "k", expected_items=20))
    assert "BatchEvalPython" not in plan
    # ≤2 Arrow nodes: the probe + Catalyst's constraint-propagated copy
    # on the build side (the formatted plan prints each node twice)
    assert plan.count("ArrowEvalPython") <= 4
    assert "xxhash64" in plan  # hashes computed JVM-side, not in Python


def test_export_shards_single_exchange(spark):
    """The export sink's corpus-sized movement is exactly ONE exchange
    (the hash repartition on shard) — the minimum any deterministic
    resharding needs; JSONL encode adds no shuffle."""
    from smalltsdb_spark.operators.export import SHARD_COLUMN, shard_of

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(50)], "doc_id long, text string"
    )
    staged = df.withColumn(SHARD_COLUMN, shard_of("doc_id", 8)).repartition(
        F.col(SHARD_COLUMN)
    ).sortWithinPartitions("doc_id")
    assert exchange_count(staged) == 1
    assert "BatchEvalPython" not in physical_plan(staged)


def test_text_semdedup_e2e_pair_stage_never_joins_the_corpus(spark):
    """text_semdedup_e2e (raw text → semantic dup pairs, VERDICT r8 item
    3): the pair search must be cluster-pruned — one spread repartition
    plus ONE cluster-keyed exchange into a per-cluster GEMM, with NO
    join anywhere (a candidate join would re-shuffle the 16-dim
    embedding column against a corpus-sized relation); and the embedding
    stage must scan only (doc_id, text) from the documents parquet."""
    from smalltsdb_spark.operators import classifier

    df = QUERIES["text_semdedup_e2e"](spark, SF_DIR)
    plan = physical_plan(df)
    # the ONLY joins anywhere (including inside the cached embed subplan,
    # which the formatted plan inlines) are broadcast joins against
    # feature-sized relations (idf literals, projection matrix) — the
    # corpus itself is never the shuffled side of a join
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the per-cluster GEMM
    # the pair stage is fed by ONE cluster-keyed exchange
    assert "hashpartitioning(_list" in plan

    # the text scan feeding the embedding prunes every other column
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    feats = classifier.featurize(docs, "doc_id", "text", 1 << 15)
    assert scan_columns(feats) == [{"doc_id", "text"}]


@pytest.mark.parametrize(
    "row",
    [
        "dedup_spans_exact",
        "dedup_spans_keep_one",
        "dedup_spans_incremental",
        "dedup_spans_report",
    ],
)
def test_span_dedup_shuffles_hashes_not_text(spark, row):
    """The whole ExactSubstr family: every corpus-sized shuffle must key
    on the 16-byte md5_long hash — the shingle TEXT never shuffles —
    and the whole plan stays JVM-side (no Python eval); the documents
    scan reads only (doc_id, text).  Covers the r10 members too:
    keep-one (the min(struct) election rides the same hash shuffle),
    the incremental index join, and the islands report."""
    df = QUERIES[row](spark, SF_DIR)
    plan = physical_plan(df)
    assert "hashpartitioning(h#" in plan  # count + join-back key on the hash
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan
    # documents scans prune to (doc_id, text); the incremental row
    # additionally scans its persisted (h, c) index — hash rows, no text
    assert all(
        cols <= {"doc_id", "text"} or cols <= {"h", "c"}
        for cols in scan_columns(df)
    )


def test_incremental_span_index_join_broadcasts_increment(spark, tmp_path):
    """ADVICE r10: the persisted (h, c) index must never be the
    sort-merge-shuffled side of the increment join.  The old ``inc LEFT
    OUTER index`` form could only ever broadcast the INDEX (Spark
    broadcasts the right side of a left-outer join), so any index above
    the broadcast threshold — i.e. every real corpus — forced a
    SortMergeJoin.  The inner-join restructure makes the increment
    broadcastABLE; differential pin: with the index made too big to
    broadcast and the increment runtime-small, the executed adaptive
    plan must elect a BroadcastHashJoin (increment build side) and
    contain no SortMergeJoin — the old form fails this.  No hint is
    forced by default: a hint collects the increment's distinct-hash
    relation to the driver (measured 10× slower at sf0.1-increment
    scale, r11); ``broadcast_increment=True`` remains for KNOWN-tiny
    increments and is pinned statically below."""
    import re

    from smalltsdb_spark.operators.dedup import (
        remove_duplicated_spans_incremental,
    )

    index_path = str(tmp_path / "idx")
    spark.range(200_000).select(
        F.col("id").alias("h"), F.lit(5).cast("long").alias("c")
    ).write.parquet(index_path)
    index = spark.read.parquet(index_path)
    batch = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    out = remove_duplicated_spans_incremental(
        batch, index, "doc_id", "text", k=4
    )
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "65536")
        # correctness ride-along: the shared within-batch span
        # ('a b c d' ∪ its extensions) strips from both docs
        got = {r.doc_id: r.text_clean for r in out.collect()}
        executed = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == {1: "e", 2: "f"}
    # the adaptive plan string carries BOTH sections; judge the FINAL
    # one, and judge THE INDEX JOIN specifically — its node text carries
    # the (_ic + _xc) condition.  (A global no-SMJ assertion is flaky:
    # the 64 KB threshold applies to every join in the plan, and an
    # unrelated downstream relation drifting past it keeps its own SMJ.)
    final = executed.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    index_join = [
        line
        for line in final.splitlines()
        if "_xc" in line and "Join" in line
    ]
    assert index_join, final
    assert all("BroadcastHashJoin" in line for line in index_join), index_join
    assert all("SortMergeJoin" not in line for line in index_join), index_join

    # the KNOWN-tiny-increment hint path: statically a BroadcastHashJoin,
    # the index scan's h attribute in no Exchange hashpartitioning at all
    hinted = remove_duplicated_spans_incremental(
        batch, index, "doc_id", "text", k=4, broadcast_increment=True
    )
    plan = physical_plan(hinted)
    assert "BroadcastHashJoin" in plan
    scan = re.search(
        r"Scan parquet[^\n]*\n[^\n]*Output[^\n]*\[h#(\d+)L", plan
    )
    assert scan is not None, plan
    assert f"hashpartitioning(h#{scan.group(1)}L" not in plan


def test_semantic_incremental_plan_shape(spark):
    """dedup_semantic_incremental: the batch and the touched corpus
    clusters meet in ONE cluster-keyed applyInPandas stage; the only
    forced broadcast is the ≤ n_clusters touched-cluster list (a
    partition prune on a materialized index layout), never anything
    corpus-sized; embeddings scans prune to (vec_id, embedding); no
    row-at-a-time Python."""
    df = QUERIES["dedup_semantic_incremental"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan  # the per-cluster GEMM stage
    assert "BatchEvalPython" not in plan
    assert broadcast_hint_count(df) == 1  # the touched-cluster list only
    assert exchange_count(df) <= 5
    assert all(cols <= {"vec_id", "embedding"} for cols in scan_columns(df))


def test_bpe_roundtrip_is_a_shuffle_free_projection_pair(spark):
    """text_bpe_roundtrip: encode (Arrow mapInPandas, ranks broadcast
    via SparkContext, model never in the plan) + decode (JVM
    concat/join) compose into a projection — the only exchange is the
    input spread repartition; the documents scan reads (doc_id, text)
    only."""
    df = QUERIES["text_bpe_roundtrip"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert exchange_count(df) <= 1  # the spread repartition only
    assert all(cols <= {"doc_id", "text"} for cols in scan_columns(df))


def test_curate_lm_gate_plan_shape(spark):
    """ext_curate_lm (VERDICT r10 item 6, the third gate family): the
    LM gate must add only the LM's own count/score exchanges to
    ext_curate's composition — distinct hash-exchange keys are exactly
    {bigram g, unigram w, (doc_id, source) score groupBy, source rank
    window, md5(text) dedup window}; no sort-merge/shuffled join, no
    Python nodes; the only FORCED broadcast is the 1-row vocabulary-size
    relation (corpus-derived relations are left to AQE); every documents
    scan prunes to (doc_id, lang, source, text)."""
    import re

    df = QUERIES["ext_curate_lm"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan
    keys = {
        re.sub(r"#\d+L?", "", m)
        for m in re.findall(r"hashpartitioning\([^)]*\)", plan)
    }
    assert len(keys) == 5, sorted(keys)
    assert broadcast_hint_count(df) == 1  # the 1-row V, nothing corpus-sized
    assert all(
        cols <= {"doc_id", "lang", "source", "text"} for cols in scan_columns(df)
    )


def test_curate_learned_adds_only_the_classifier_exchanges(spark):
    """ext_curate_learned (VERDICT r9 item 7): the learned gate must not
    add corpus exchanges beyond ext_curate's — the returned plan's only
    DISTINCT hash-exchange keys are the dedup window's content-hash key
    plus the two the classifier inherently owns (featurize's (_id,
    feature) groupBy and the margin groupBy(doc)); the keep relation and
    every model-sized relation join BROADCAST (no sort-merge / shuffled
    join anywhere — the corpus is never the shuffled side of a join);
    no Python nodes; documents scans prune to (doc_id, lang, text)."""
    import re

    df = QUERIES["ext_curate_learned"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan
    keys = {
        re.sub(r"#\d+L?", "", m)
        for m in re.findall(r"hashpartitioning\([^)]*\)", plan)
    }
    assert len(keys) == 3, sorted(keys)
    assert all(cols <= {"doc_id", "lang", "text"} for cols in scan_columns(df))


def test_bounds_read_prunes_the_stream_owned_histogram(spark, tmp_path):
    """r12: the bounds read must keep its pushdown/pruning shape when
    the histogram table is STREAM-maintained (start_histogram_rollup) —
    the table is read through the file-sink's _spark_metadata log
    (MetadataLogFileIndex), and a log-based scan that stopped pushing
    the path/time filters or started reading extra columns would
    silently turn the cascade read into a full-table scan in always-on
    deployments."""
    from smalltsdb_spark.schemas import INCOMING_SCHEMA
    from smalltsdb_spark.streaming import start_histogram_rollup
    from smalltsdb_spark.tsdb import TablesTSDB

    store, src, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
    )
    rows = [("one", float(t), float(v)) for t, v in [(0, 10), (30, 60), (70, 120)]]
    spark.createDataFrame(
        rows + [("_clock", 100000.0, 0.0)], INCOMING_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_histogram_rollup(
        spark.readStream.schema(INCOMING_SCHEMA).parquet(src),
        os.path.join(store, "histogram"),
        ckpt,
        60,
        available_now=True,
    )
    q.awaitTermination(120)
    db = TablesTSDB(
        spark,
        store,
        periods=[("oneminute", 60), ("onehour", 3600)],
        now=lambda: 200000.0,
        histograms=True,
    )
    df = db.get_metric_bounds_df("one", "onehour", "p90", (0, 7200))
    filters = " ".join(pushed_filters(df))
    assert "EqualTo(path,one)" in filters
    assert "GreaterThanOrEqual(timestamp," in filters
    assert "LessThanOrEqual(timestamp," in filters
    for cols in scan_columns(df):
        assert cols <= {"path", "timestamp", "bin", "n"}, cols
    # and the read really is log-resolved, not a directory listing
    from smalltsdb_spark import storage

    assert storage.is_streaming_sink(os.path.join(store, "histogram"))


def test_interval_reads_prune_partitions_at_the_file_index(spark, tsdb_dir):
    """r14: the interval read paths must restrict the PARTITION column,
    not just ``timestamp`` — a data-column filter reaches row-group
    statistics but never the file listing, so without the pday twin a
    one-hour read of a year-long table still lists and opens every
    ``pday=`` directory.  Pins get_metric_df (the period-table slice)
    and the include_partial raw recompute (whose finality cut is
    bucket-aligned, making ``timestamp >= fe`` exact on raw rows)."""
    import re

    db = TablesTSDB(spark, tsdb_dir, now=lambda: 100.0)
    db.insert(GOLDEN_A_INPUT)
    db.sync()
    df = db.get_metric_df("one", "tensecond", "p90", (0, 50))
    plan = physical_plan(df)
    parts = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("pday" in p for p in parts), plan

    # the partial recompute prunes the raw incoming scan the same way
    # AND pushes the finality-cut timestamp filter to the scan
    dfp = db.get_metric_df(
        "one", "tensecond", "p90", (0, 50), include_partial=True
    )
    plan_p = physical_plan(dfp)
    parts_p = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan_p)
    assert sum("pday" in p for p in parts_p) >= 2, plan_p
    assert "GreaterThanOrEqual(timestamp," in " ".join(pushed_filters(dfp))
