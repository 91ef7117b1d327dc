"""Streaming semantic dedup — SemDeDup as a continuous ingestion stage.

The semantic family's streaming shape, completing the column every
lexical dedup family already has (streaming spans: span_dedup.py): each
micro-batch of embedded documents is probed against the PERSISTED
corpus index for semantic near-duplicates — "which incoming documents
semantically duplicate each other or anything ingested earlier?" — and
then appended to that index, so the next batch sees this one as corpus.

State discipline = the shared batch-versioned manifest protocol
(smalltsdb_spark.manifests, the span_dedup twin): processing batch
``b`` resolves the newest ``manifest_v{n}.json`` with ``n < b`` (a
replay ignores its own half-committed version), writes its outputs
keyed by batch id (pairs → ``out/batch={b}`` overwrite; index delta →
an attempt-unique ``data_b{b}`` dir so a replay never yanks files from
a stale reader's grace window), and commits ``manifest_v{b}`` —
presence is commit, no driver state, idempotent and restart-safe.

Index shape: the :func:`operators.similarity.ivf_assign` relation
``(neighbor_id, _v, _n)`` PARTITIONED by ``_list`` (the cluster id —
the layout the probe prunes on; the partition value is duplicated into
the files as ``_lst`` so explicit-file-list reads need no partition
inference).  Unlike the span index there is nothing to merge — rows are
immutable vector assignments — so:

- the per-trigger index write is a plain APPEND of the batch's assigned
  rows, one file per TOUCHED cluster partition (O(batch) written, the
  corpus never re-read or re-written outside compaction);
- untouched clusters carry into the new manifest by reference;
- a cluster whose file count crosses ``compact_files`` is folded back
  to one file (size-tiered; deterministic content — the union of
  immutable rows).

Per-trigger probe cost is the incremental SemDeDup contract
(:func:`operators.similarity.semantic_near_dup_pairs_incremental`):
centroids are FROZEN (train once on the seed corpus — retraining
mid-index would shift assignments and split the index's own clusters),
only the batch's touched clusters are read, and each touched cluster
scores one batch×cluster GEMM — increment × cluster occupancy, never
corpus².

Time-ordered semantics (oracle-pinned by the ``stream_semantic_dedup``
driver row): the pairs emitted at batch ``b`` equal the frozen-centroid
SemDeDup pair relation over batches 0..b restricted to pairs touching
batch ``b`` — so the UNION over all batches is exactly the full
frozen-centroid pair relation, each pair emitted exactly once, at the
first batch where both sides exist.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smalltsdb_spark import manifests
from smalltsdb_spark.session import persisted

#: grace window for retired/superseded index files — in-flight readers
#: that resolved the previous manifest must finish their scan (the
#: storage/span_dedup contract)
DEFAULT_GC_GRACE_SECONDS = 300.0

#: size-tiered compaction threshold per cluster partition
DEFAULT_COMPACT_FILES = 4

#: canonical on-file schema of one index row (the partition value is
#: duplicated as _lst; vectors stay float — the fixture's element type —
#: and the scoring kernels promote to float64 in numpy)
_INDEX_FILE_SCHEMA = "neighbor_id long, _v array<float>, _n double, _lst int"


def _read_index_files(
    spark: SparkSession, index_base: str, rel_files: list[str]
) -> DataFrame:
    """Index rows of an explicit file list in ivf_assign's schema
    (no directory/partition inference — manifests are the source of
    truth); empty relation when the list is empty."""
    if not rel_files:
        return spark.createDataFrame(
            [], "neighbor_id long, _v array<float>, _list int, _n double"
        )
    return (
        spark.read.schema(_INDEX_FILE_SCHEMA)
        .parquet(*[os.path.join(index_base, rel) for rel in rel_files])
        .select(
            "neighbor_id", "_v", F.col("_lst").alias("_list"), "_n"
        )
    )


def read_semantic_index(
    spark: SparkSession,
    index_base: str,
    before: int | None = None,
    lists: list[int] | None = None,
) -> DataFrame:
    """The corpus index as of the newest committed version (< ``before``
    when given) in :func:`ivf_assign`'s schema; ``lists`` restricts the
    read to those cluster partitions — the per-trigger path reads only
    the clusters a batch touches."""
    _, files = manifests.resolve_version(index_base, before)
    if lists is None:
        wanted = [f for fs in files.values() for f in fs]
    else:
        wanted = [f for l in lists for f in files.get(l, [])]
    return _read_index_files(spark, index_base, wanted)


def make_semantic_dedup_batch_handler(
    spark: SparkSession,
    index_base: str,
    out_dir: str,
    C: np.ndarray,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    gc_grace_seconds: float = DEFAULT_GC_GRACE_SECONDS,
    compact_files: int = DEFAULT_COMPACT_FILES,
):
    """A foreachBatch callable implementing idempotent streaming
    semantic dedup over a cluster-partitioned, append-only index
    (module docstring).  ``C`` is the frozen centroid codebook
    (:func:`operators.similarity.ivf_train` on the seed corpus).  Pass
    to ``writeStream.foreachBatch``."""
    from smalltsdb_spark.operators.similarity import (
        ivf_assign,
        semantic_near_dup_pairs_incremental,
    )

    def _list_files(data_dir_name: str, lst: int) -> list[str]:
        pdir = os.path.join(index_base, data_dir_name, f"_list={lst}")
        if not os.path.isdir(pdir):
            return []
        return sorted(
            os.path.join(data_dir_name, f"_list={lst}", f)
            for f in os.listdir(pdir)
            if f.endswith(".parquet") and not manifests.is_hidden_name(f)
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        assigned = ivf_assign(batch_df, id_col, vec_col, C)
        with persisted(batch_df, assigned):
            pre_version, pre_files = manifests.resolve_version(
                index_base, before=batch_id
            )
            # index advance FIRST: APPEND the batch's assigned rows as
            # one file per touched cluster partition — O(batch) written;
            # attempt-unique on replay (shared protocol).  Writing the
            # index before the probe lets the touched-cluster set come
            # from the write's own directory listing instead of a
            # distinct().collect() job (r15, guide §2.4 — one job per
            # trigger removed; the write also materializes the persisted
            # assignment the probe reuses).  A crash between this write
            # and the manifest commit leaves an orphan attempt dir
            # exactly as the old order could — unreferenced files stay
            # invisible (manifests are the source of truth).
            data_name = manifests.attempt_unique_dir(
                index_base, f"data_b{batch_id}"
            )
            (
                assigned.select(
                    "neighbor_id",
                    # pin the on-file element type so explicit-schema
                    # reads never face a float/double footer mismatch
                    F.col("_v").cast("array<float>").alias("_v"),
                    "_n",
                    F.col("_list").alias("_lst"),
                    "_list",
                )
                .repartition("_list")
                .write.mode("overwrite")
                .partitionBy("_list")
                .parquet(os.path.join(index_base, data_name))
            )
            data_dir = os.path.join(index_base, data_name)
            touched = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(data_dir)
                if d.startswith("_list=")
            )
            corpus_touched = _read_index_files(
                spark,
                index_base,
                [f for l in touched for f in pre_files.get(l, [])],
            )
            # pairs involving this batch, against corpus ∪ batch — the
            # probe reuses the persisted batch assignment (no second
            # GEMM) and skips its touched-cluster semi-join, a no-op on
            # the already-restricted corpus relation (r15 sharing hooks)
            semantic_near_dup_pairs_incremental(
                batch_df, corpus_touched, C, id_col, vec_col,
                threshold=threshold,
                assigned_new=assigned, corpus_prefiltered=True,
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            )
            new_files = dict(pre_files)
            if touched:
                for l in touched:
                    new_files[l] = (
                        pre_files.get(l, []) + _list_files(data_name, l)
                    )
                # size-tiered compaction: fold any cluster past the file
                # bound back to one file (deterministic — immutable rows)
                to_compact = [
                    l for l in touched if len(new_files[l]) > compact_files
                ]
                if to_compact:
                    comp_name = manifests.attempt_unique_dir(
                        index_base, f"data_b{batch_id}_c"
                    )
                    (
                        _read_index_files(
                            spark,
                            index_base,
                            [f for l in to_compact for f in new_files[l]],
                        )
                        .select(
                            "neighbor_id",
                            "_v",
                            "_n",
                            F.col("_list").alias("_lst"),
                            "_list",
                        )
                        .repartition("_list")
                        .write.mode("overwrite")
                        .partitionBy("_list")
                        .parquet(os.path.join(index_base, comp_name))
                    )
                    for l in to_compact:
                        new_files[l] = _list_files(comp_name, l)
            manifests.write_version(index_base, batch_id, new_files)
            live = {
                f
                for files in (new_files, pre_files)
                for fs in files.values()
                for f in fs
            }
            manifests.gc_superseded_versions(
                index_base, batch_id, pre_version, live, gc_grace_seconds
            )

    return handle
