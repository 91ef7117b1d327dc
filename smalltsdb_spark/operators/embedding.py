"""Text → dense-embedding bridge: hashed TF-IDF + signed random projection.

The similarity family (`operators/similarity.py`) consumes an
``array<float>`` embedding column; real corpora start from TEXT.  The
classical no-model bridge is LSA-style: sparse hashed TF-IDF features
down-projected with a Johnson-Lindenstrauss random matrix — pairwise
angles are approximately preserved (JL lemma), so the ANN / semantic-dedup
/ clustering stack runs on the result without any trained encoder.  This
is also the standard cheap baseline next to learned embeddings in corpus
dedup pipelines.

Pipeline (all DataFrame ops, one corpus shuffle each):

1. hashed features — unigram+bigram → ``md5_long(gram) % n_features``,
   mean-pooled term frequency (shared with ``operators/classifier``);
2. smoothed IDF — ``ln((N+1)/(df+1)) + 1`` from one count per feature
   (the sklearn TfidfTransformer formula), evaluated on the DRIVER in
   CPython (:func:`smoothed_idf`) so no JVM transcendental feeds the
   fixed-point path, and broadcast back as a feature-sized literal
   relation;
3. projection — a DERIVED random matrix ``R[f, j] = ±1/√d`` whose sign
   is ``md5_long(f ⊕ j) mod 2``: reproducible from indices alone, no RNG
   state, no matrix to ship — the (n_features_present × d) slice is
   built as a relation and broadcast (~8 MB at 2^15×16);
4. per-doc sums — ONE groupBy(doc) producing the d-dim dense vector.

**Determinism contract** (same as ``operators/classifier``): TF-IDF
weights quantize to fixed-point (``floor(w·2^24+0.5)``) and every
cross-row sum is a LONG sum of per-row quantized contributions —
order-independent, so embeddings are bit-identical across partitionings,
runs, and engines, and the pure-Python mirror reproduces them exactly
(integer-exact oracle, no float comparison).

Scale shape at 100 TB: the explode/feature relation is the corpus-sized
thing; the projection join is against a broadcast relation and the
output is docs × d — smaller than the input text.  No per-row Python.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smalltsdb_spark.functions import md5_long
from smalltsdb_spark.operators.classifier import FP_SCALE, featurize
from smalltsdb_spark.session import persisted

__all__ = [
    "smoothed_idf",
    "tfidf_features",
    "random_projection_matrix",
    "embed_text",
]


def smoothed_idf(n_docs: int, df_count: int) -> float:
    """``ln((N+1)/(df+1)) + 1`` (sklearn TfidfTransformer) — evaluated in
    CPython ONLY.  JVM ``Math.log`` guarantees just 1-ulp accuracy, so a
    JVM-side log whose result lands within ~1e-9 of a
    ``floor(x·2^24+0.5)`` boundary could flip the fixed-point integer on
    a different JDK and break the exact oracle; the Spark pipeline
    therefore joins these driver-computed values as literals (feature-
    sized relation) instead of computing the log on executors, and the
    pure-Python mirror calls this very function."""
    return math.log((n_docs + 1) / (df_count + 1.0)) + 1.0


def tfidf_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_features: int,
    _tf: DataFrame | None = None,
) -> DataFrame:
    """(id, feature, w) — mean-pooled TF × smoothed IDF, with ``w``
    pre-quantized to 2^-24 so downstream sums are deterministic.
    ``_tf`` lets :func:`embed_text` pass an already-CACHED term-frequency
    relation (the tf plan feeds the doc count, the idf collect, the
    projection-matrix distinct, AND the contribution join — uncached it
    executes once per consumer).

    The idf values are computed on the DRIVER (:func:`smoothed_idf` —
    the transcendental never runs on the JVM) from a feature-sized
    collect: at most ``n_features`` (config-bounded, 32k default ≈ a few
    hundred KB) rows, the same model-sized-collect discipline as the
    classifier gradient; they re-enter the plan as a broadcast literal
    relation.  The remaining executor arithmetic (× + floor ÷) is
    IEEE-exactly-rounded, hence engine-exact."""
    import pandas as pd

    spark = df.sparkSession
    tf = _tf if _tf is not None else featurize(df, id_col, text_col, n_features)
    n_docs = tf.select(id_col).distinct().count()
    # featurize emits one row per (doc, feature), so count(*) is df.
    # Both directions of the feature-sized driver exchange ride Arrow
    # (guide §6): toPandas instead of a row-pickled collect, and a
    # pandas createDataFrame instead of a list-of-tuples one — same
    # values (idf still computed in CPython, the transcendental
    # contract), an order of magnitude less serialization at 32k rows.
    df_pdf = (
        tf.groupBy("feature").agg(F.count(F.lit(1)).alias("_df")).toPandas()
    )
    idf = spark.createDataFrame(
        pd.DataFrame(
            {
                "feature": df_pdf["feature"].astype("int64"),
                "idf": [
                    smoothed_idf(n_docs, int(c)) for c in df_pdf["_df"]
                ],
            }
        ),
        "feature long, idf double",
    )
    return (
        tf.join(F.broadcast(idf), "feature")
        .select(
            id_col,
            "feature",
            (
                F.floor(
                    F.col("x") * F.col("idf") * F.lit(FP_SCALE) + F.lit(0.5)
                )
                / F.lit(FP_SCALE)
            ).alias("w"),
        )
    )


def random_projection_matrix(df_features: DataFrame, d: int) -> DataFrame:
    """(feature, signs: array<double> of ±1/√d) for every feature present
    in ``df_features`` — derived, not sampled: sign = md5(feature:j) mod 2.
    Bounded by distinct features (≤ n_features), broadcastable."""
    scale = 1.0 / math.sqrt(d)
    signs = F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda j: F.when(
            F.pmod(
                md5_long(
                    F.concat(
                        F.col("feature").cast("string"), F.lit(":"), j.cast("string")
                    )
                ),
                F.lit(2),
            )
            == 0,
            F.lit(scale),
        ).otherwise(F.lit(-scale)),
    )
    return (
        df_features.select("feature").distinct().select("feature", signs.alias("signs"))
    )


def embed_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_features: int = 1 << 15,
    d: int = 16,
) -> DataFrame:
    """(id, embedding: array<double>) — the deterministic LSA-style
    embedding.  Element j is ``(Σ_f floor(w_f·sign_fj·2^24+0.5)) / 2^24``
    — a long sum, hence partitioning-independent and engine-exact.

    EAGER: the result is materialized (persisted docs × d relation — the
    smallest relation in the pipeline) before returning, so the hashed
    term-frequency cache it is built from can be released here.  The tf
    relation feeds FOUR consumers (doc count, idf aggregate, projection-
    matrix distinct — a broadcast-side plan — and the contribution
    join); uncached, each consumer re-runs the full tokenize/explode/
    groupBy pass (measured at sf0.1: ~4× the CPU, which the host's
    throughput phases then amplify into minute-long cold runs).  A
    failure releases both caches: ``tf`` always, ``out`` when its
    materialization fails."""
    with persisted(featurize(df, id_col, text_col, n_features)) as tf:
        feats = tfidf_features(df, id_col, text_col, n_features, _tf=tf)
        proj = random_projection_matrix(feats, d)
        contrib = feats.join(F.broadcast(proj), "feature").select(
            id_col,
            F.transform(
                F.col("signs"),
                lambda s: F.floor(
                    F.col("w") * s * F.lit(FP_SCALE) + F.lit(0.5)
                ).cast("long"),
            ).alias("_c"),
        )
        sums = contrib.groupBy(id_col).agg(
            *[
                F.sum(F.element_at(F.col("_c"), j + 1)).alias(f"_e{j}")
                for j in range(d)
            ]
        )
        out = sums.select(
            id_col,
            F.array(
                *[
                    (F.col(f"_e{j}") / F.lit(FP_SCALE)).cast("double")
                    for j in range(d)
                ]
            ).alias("embedding"),
        ).persist()
        try:
            out.count()  # materialize so tf can be released
        except BaseException:
            out.unpersist()
            raise
    return out


# ---------------------------------------------------------------------------
# Pure-Python mirror (oracle generation + differential tests)
# ---------------------------------------------------------------------------


def reference_embed(
    docs: list[tuple], n_features: int, d: int
) -> dict:
    """Independent implementation over ``[(id, text), ...]`` — same
    hashing, same fixed-point arithmetic, so it reproduces
    :func:`embed_text`'s integer sums EXACTLY.  Returns
    {id: [int, ...]} of the PRE-division long sums (integer-exact)."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    feats: dict[int, dict[int, float]] = {}
    for doc_id, text in docs:
        ws = [t for t in text.split(" ") if t]
        grams = ws + [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
        if not grams:
            continue
        counts: dict[int, int] = {}
        for g in grams:
            f = h(g) % n_features
            counts[f] = counts.get(f, 0) + 1
        feats[doc_id] = {f: c / len(grams) for f, c in counts.items()}

    n_docs = len(feats)
    df_count: dict[int, int] = {}
    for fx in feats.values():
        for f in fx:
            df_count[f] = df_count.get(f, 0) + 1

    scale = 1.0 / math.sqrt(d)
    sign_cache: dict[tuple[int, int], float] = {}

    def sign(f: int, j: int) -> float:
        key = (f, j)
        if key not in sign_cache:
            sign_cache[key] = scale if h(f"{f}:{j}") % 2 == 0 else -scale
        return sign_cache[key]

    out: dict[int, list[int]] = {}
    for doc_id, fx in feats.items():
        sums = [0] * d
        for f, x in fx.items():
            w = (
                math.floor(x * smoothed_idf(n_docs, df_count[f]) * FP_SCALE + 0.5)
                / FP_SCALE
            )
            for j in range(d):
                sums[j] += math.floor(w * sign(f, j) * FP_SCALE + 0.5)
        out[doc_id] = sums
    return out
