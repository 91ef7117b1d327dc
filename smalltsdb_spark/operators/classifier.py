"""Model-based quality classification — the learned half of corpus curation.

The heuristic gates (``textstats.gopher_rules``, quality_score) are rule
lists; production corpus pipelines (CCNet, GPT-3's WebText filter, LLaMA's
quality classifier) additionally train a LINEAR text classifier on hashed
n-gram features (the fastText recipe: Joulin et al. 2016, "Bag of Tricks
for Efficient Text Classification") and keep documents the model scores as
reference-like.  This module is that step as a distributed DataFrame
algorithm:

- :func:`featurize` — unigram+bigram → ``md5_long(gram) % dim`` hashed
  features with mean pooling (x_f = count_f / n_grams), one explode +
  one groupBy; the (doc, feature) relation is the only corpus-sized
  thing and it never leaves the cluster.
- :func:`fit` — full-batch logistic-regression gradient descent.  Each
  iteration: broadcast the dim-sized weight relation, join to score
  every document (one shuffle on doc), aggregate the per-feature
  gradient (one shuffle on feature), collect exactly ``dim + 1``
  numbers to the driver (model-sized, the kmeans discipline), update.
- :func:`predict` — one broadcast join + sigmoid per document.

**Determinism contract (the oracle story).**  Float sums in a shuffle
arrive in nondeterministic order, so naive GD diverges bit-wise between
runs and engines.  Every cross-row sum here is therefore FIXED-POINT:
per-row contributions quantize to integers (``round(x * 2^24)`` — ~7
decimal digits) and sum as longs, which is order-independent; the driver
divides back once per iteration.  Margins and gradients are thus
bit-identical across partitionings, runs, AND engines — the pure-Python
oracle reproduces training exactly, so the driver row is value-checked
end-to-end (the generated-constant oracle pattern).  Quantized gradient
aggregation is standard practice in distributed training anyway; 2^-24
per-term error is far below the step sizes involved.

The sigmoid itself is the one transcendental in the loop, and JVM
``Math.exp`` only guarantees 1-ulp accuracy — a 1-ulp divergence from
CPython's libm landing within ~1e-9 of a ``floor(x·2^24+0.5)`` boundary
would flip an integer and break the exact oracle on a different
JDK/platform.  So NO transcendental executes on the JVM side of the
exact path: the margin is quantized to a 2^-12 grid (clipped at ±16,
where sigmoid saturates to 1 − 6e-8) and sigma comes from a
driver-built broadcast LOOKUP TABLE whose values are computed once in
CPython (:func:`sigmoid_of_mq`, shared verbatim with the pure-Python
mirror).  Every op that remains on the executors — ``+ − × ÷ floor``
on doubles and longs — is IEEE-754 exactly-rounded and therefore
bit-identical across engines.  The 2^-12 argument quantization is part
of the defined training algorithm (mirrored exactly), not an
approximation of it.

Scale shape at 100 TB: the (doc, feature) relation is shuffled ONCE
(hash-partitioned by doc at cache time); per iteration the weight
vector rides the plan as ONE constant-folded array literal (dim
doubles — element_at lookup, no broadcast join to build), one
exchange-free pass over the cached relation (margin groupBy and the
doc-keyed gradient join both reuse the cache partitioning), one
broadcast of the constant sigmoid table, and one feature-keyed
exchange of pre-aggregated partials (≤ dim+1 rows per partition).
The same cost class as one TF-IDF pass once, plus iters tiny
model-sized rounds.  No per-row Python anywhere.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smalltsdb_spark.functions import md5_long, tokens, word_ngrams
from smalltsdb_spark.operators import spread
from smalltsdb_spark.session import persisted

#: fixed-point scale for order-independent sums (~7 decimal digits)
FP_SHIFT = 24
FP_SCALE = float(1 << FP_SHIFT)

#: sigmoid lookup grid: margins quantize to 2^-12 (≈2.4e-4 — sigma moves
#: by at most 6.1e-5 per step) and clip at ±16 (sigma(16) = 1 − 1.1e-7);
#: table size = 2·16·4096 + 1 = 131 073 rows ≈ 2 MB broadcast
SIG_SHIFT = 12
SIG_SCALE = float(1 << SIG_SHIFT)
SIG_CLIP = 16 << SIG_SHIFT

#: deterministic doc-sampling denominator (shared with the pure-Python
#: mirror): a doc is in the training sample iff
#: ``md5_long(str(id)) % SAMPLE_DENOM < floor(frac * SAMPLE_DENOM)``
SAMPLE_DENOM = 1_000_000


def sigmoid_of_mq(mq: int) -> float:
    """sigma at grid point ``mq`` — the ONE place the transcendental is
    evaluated, always in CPython, so the broadcast table the executors
    join against and the pure-Python mirror hold bit-identical values."""
    return 1.0 / (1.0 + math.exp(-(mq / SIG_SCALE)))


def quantize_margin(m: float) -> int:
    """The mirror's margin→grid map; the Spark side spells the identical
    exactly-rounded arithmetic in :func:`_scores`."""
    return max(-SIG_CLIP, min(SIG_CLIP, math.floor(m * SIG_SCALE + 0.5)))


def _weights_literal(values: list[float]):
    """The per-iteration weight vector as ONE array<double> literal
    column — ``element_at(w, feature+1)`` replaces the per-iteration
    broadcast hash join on ``feature`` (guide §2.4/§3.1: the join only
    ever projected a constant-per-key value, so it is a lookup, not a
    join).  Built from a single CSV string literal that Catalyst
    CONSTANT-FOLDS once per plan: a py4j array literal costs ~0.2 ms per
    element to construct driver-side (measured: 0.69 s for dim+1=4097),
    while one ~80 KB string crosses py4j in microseconds and the JVM
    parse happens once at optimization time.

    Bit-exactness: ``repr`` emits the shortest round-trip decimal and
    both CPython and the JVM parse decimal strings correctly rounded
    (IEEE-754), so the looked-up doubles are bit-identical to the
    joined ones — verified by the differential tests against the
    pure-Python mirror and the unchanged generated-constant oracles.

    Callers must gate on :data:`WEIGHTS_LITERAL_MAX` and finiteness
    (``fit`` does): above ~16k elements the literal is dragged through
    every optimizer rule per plan (the r14 V3 sigma measurement — a
    ~2.6 MB literal LOSES to a broadcast join), and ``repr(inf/nan)``
    strings cast to NULL on the JVM side where the join path carries
    real ±Inf/NaN.  (Pattern passed as a plain string: the Column form
    requires PySpark >= 4.0 while the package pin is >= 3.5.)"""
    return F.split(
        F.lit(",".join(repr(float(v)) for v in values)), ","
    ).cast("array<double>")


#: above this weight-vector size the constant-folded CSV literal costs
#: more than it saves (optimizer re-traversal per rule per iteration —
#: the r14 V2/V3 data: a 131k-element / ~2.6 MB literal lost ~1.5 s per
#: iteration to the equivalent broadcast join at dim 4096's data shape);
#: fit() falls back to the broadcast-join weight attachment above it.
WEIGHTS_LITERAL_MAX = 16_384


def _with_weight(fx: DataFrame, w_full: list[float], spark) -> DataFrame:
    """Attach the per-feature weight column ``w`` to the training
    relation for one GD iteration: constant-folded array literal +
    ``element_at`` for small finite vectors (guide §2.4 — the join only
    projects a constant per key), broadcast hash join above
    :data:`WEIGHTS_LITERAL_MAX` or when any weight is non-finite (the
    literal path's two documented failure modes).  Both paths attach the
    bit-identical double per feature, so training is invariant to the
    switch (differential-tested)."""
    if len(w_full) <= WEIGHTS_LITERAL_MAX and all(
        math.isfinite(v) for v in w_full
    ):
        return fx.withColumn(
            "w",
            F.element_at(
                _weights_literal(w_full),
                (F.col("feature") + F.lit(1)).cast("int"),
            ),
        )
    wdf = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(w_full)], "feature long, w double"
    )
    return fx.join(F.broadcast(wdf), "feature")


def _sigmoid_table(spark) -> DataFrame:
    """(mq long, sigma double) for every grid point — driver-computed
    (CPython libm), shipped as DATA so no JVM transcendental touches the
    exact path.  Constant-size (131k rows), Arrow-serialized."""
    import pandas as pd

    mq = list(range(-SIG_CLIP, SIG_CLIP + 1))
    pdf = pd.DataFrame(
        {"mq": mq, "sigma": [sigmoid_of_mq(q) for q in mq]}
    )
    return spark.createDataFrame(pdf)


def sample_gate(id_col, sample_frac: float):
    """Deterministic hash gate selecting ~``sample_frac`` of documents —
    the same content-hash discipline as ``operators/export.shard_of``:
    independent of row order, partitioning, and engine (the mirror is
    :func:`reference_in_sample`)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    threshold = int(math.floor(sample_frac * SAMPLE_DENOM))
    return F.pmod(md5_long(c.cast("string")), F.lit(SAMPLE_DENOM)) < F.lit(
        threshold
    )


def reference_in_sample(doc_id, sample_frac: float) -> bool:
    """Pure-Python mirror of :func:`sample_gate`."""
    import hashlib

    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
    return h % SAMPLE_DENOM < int(math.floor(sample_frac * SAMPLE_DENOM))


@dataclass
class LogisticModel:
    weights: list[float]  # len == dim
    bias: float
    dim: int
    losses: list[float]  # training log-loss per iteration (driver-side)


def featurize(
    df: DataFrame, id_col: str, text_col: str, dim: int
) -> DataFrame:
    """(id, feature, x) — hashed unigram+bigram bag with mean pooling.

    ``x = count(gram occurrences hashing to feature) / n_grams(doc)``;
    documents with no grams are dropped (nothing to score).

    Evaluation shape (r15, guide §1.2/§7.2): the token and gram ARRAYS
    are materialized once per row in their own projections before
    anything references them.  The previous single-select form evaluated
    ``grams`` twice per row (``size`` + ``explode``), and every
    evaluation re-ran the interpreted higher-order ``filter`` +
    ``split`` capture ~8x per row inside one giant generated method
    that never JIT-compiled — measured 625 core-s cold / 68-77 core-s
    warm for the sf0.1 corpus vs 81 / 12-20 core-s for this form
    (same 369 242 output rows, verified identical).  Values are
    unchanged — only how often the same expressions execute."""
    toks = F.filter(tokens(text_col), lambda w: F.length(w) > 0)
    base = spread(df).select(F.col(id_col).alias("_id"), toks.alias("_t"))
    grams = F.concat(F.col("_t"), word_ngrams(F.col("_t"), 2))
    ex = base.select("_id", grams.alias("_gs")).select(
        "_id",
        F.size("_gs").alias("_n"),
        F.explode("_gs").alias("_g"),
    )
    return (
        ex.groupBy(
            "_id", F.pmod(md5_long("_g"), F.lit(dim)).cast("long").alias("feature")
        )
        .agg(
            (F.count("*").cast("double") / F.first("_n")).alias("x")
        )
        .select(F.col("_id").alias(id_col), "feature", "x")
    )


def _margins(features: DataFrame, id_col: str, weights_df: DataFrame, bias: float):
    """Per-doc fixed-point margin: Σ_f round(w_f·x_f·2^24) as a long sum
    (order-independent), plus the bias — returned as (id, margin double)."""
    return (
        features.join(F.broadcast(weights_df), "feature")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.floor(
                    F.col("x") * F.col("w") * F.lit(FP_SCALE) + F.lit(0.5)
                ).cast("long")
            ).alias("_m_int")
        )
        .select(
            id_col,
            (F.col("_m_int") / F.lit(FP_SCALE) + F.lit(float(bias))).alias(
                "margin"
            ),
        )
    )


def _scores(
    features: DataFrame,
    id_col: str,
    weights_df: DataFrame,
    bias: float,
    sig_table: DataFrame,
):
    """(id, margin, score): margin quantized onto the 2^-12 grid and
    sigma looked up from the driver-built broadcast table — the
    transcendental-free scoring path (module docstring).  Every executor
    op here (× + floor least/greatest long-cast) is exactly rounded, so
    score is bit-identical to ``sigmoid_of_mq(quantize_margin(margin))``."""
    margins = _margins(features, id_col, weights_df, bias)
    mq = F.greatest(
        F.least(
            F.floor(F.col("margin") * F.lit(SIG_SCALE) + F.lit(0.5)).cast(
                "long"
            ),
            F.lit(SIG_CLIP).cast("long"),
        ),
        F.lit(-SIG_CLIP).cast("long"),
    )
    return (
        margins.withColumn("mq", mq)
        .join(F.broadcast(sig_table), "mq")
        .select(id_col, "margin", F.col("sigma").alias("score"))
    )


def fit(
    features: DataFrame,
    labels: DataFrame,
    id_col: str,
    dim: int,
    *,
    iters: int = 15,
    lr: float = 0.5,
    sample_frac: float | None = None,
) -> LogisticModel:
    """Full-batch logistic GD over the (id, feature, x) relation against
    ``labels`` (id, label ∈ {0,1}).  Driver traffic per iteration is
    exactly ``dim + 2`` numbers (gradient, bias gradient, loss).

    ``sample_frac`` is the 100 TB default: train on a DETERMINISTIC
    hash-gated subset of the documents (:func:`sample_gate` — the
    ``ext_sample_hash`` discipline), so the per-iteration shuffles scale
    with the sample, not the corpus; the full corpus is touched exactly
    once (the gate is a scan filter on the cached training relation).
    Sampling the training set does not change what :func:`predict`
    scores.  The fixed-point/no-JVM-transcendental contract is
    unchanged, so sampled training is still bit-identical to the
    pure-Python mirror on the same sample
    (``reference_fit_predict(..., sample_frac=)``)."""
    spark = features.sparkSession
    if sample_frac is not None:
        if not 0.0 < sample_frac <= 1.0:
            raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
        features = features.filter(sample_gate(id_col, sample_frac))
        labels = labels.filter(sample_gate(id_col, sample_frac))
    # One synthetic BIAS feature row per training doc (feature == dim,
    # x == 1.0): its weight is pinned to 0.0 so the margin sum is
    # untouched (floor(1.0·0.0·2^24 + 0.5) = 0 — bias still adds as a
    # plain float, outside the fixed-point sum), while the per-feature
    # gradient aggregation yields the bias gradient for free at
    # feature == dim — floor(err·1.0·2^24 + 0.5) ≡ floor(err·2^24 + 0.5)
    # bit-exactly (IEEE-754: x·1.0 == x).  This folds what used to be a
    # second per-iteration aggregation job into the gradient pass.
    base = features.join(labels, id_col)
    bias_rows = (
        base.groupBy(id_col)
        .agg(F.first("label").alias("label"))
        .select(
            id_col,
            F.lit(dim).cast("long").alias("feature"),
            F.lit(1.0).alias("x"),
            "label",
        )
    )
    # hash-partition the cached training relation by doc id ONCE: the
    # per-iteration margin groupBy(id) and the gradient join back on id
    # then run exchange-free (one upfront shuffle instead of one per
    # iteration — at corpus scale this removes iters-1 full shuffles of
    # the (doc, feature) relation).
    fx = (
        base.select(id_col, "feature", "x", "label")
        .unionByName(bias_rows)
        .repartition(F.col(id_col))
    )
    # Size the cached relation's partition count by MEASURED bytes, not
    # by core count (partitions track data): the session lets AQE
    # coalesce cached plans (get_spark sets
    # canChangeCachedPlanOutputPartitioning), so the repartition shuffle
    # above is coalesced from the measured post-shuffle bytes (1 MB floor
    # locally, advisory-sized on a cluster), and a tiny training set
    # stops paying `iters × 2 × shuffle.partitions` empty task launches
    # per fit — measured 1.15 → 0.55 s/iteration at sf0.1 (32 partitions
    # → 1), bit-identical model (fixed-point sums are
    # partitioning-independent by the module contract).
    w = [0.0] * dim
    bias = 0.0
    losses: list[float] = []
    # loop-invariant expression trees, built once (each iteration's plan
    # differs only in the weights literal and the bias literal — py4j
    # column construction is driver wall time, ~0.3 s/iteration at dim
    # 4096 when rebuilt in full)
    _margin_sum = F.sum(
        F.floor(F.col("x") * F.col("w") * F.lit(FP_SCALE) + F.lit(0.5)).cast(
            "long"
        )
    ).alias("_m_int")
    _y_first = F.first("label").cast("double").alias("_y")
    mq = F.greatest(
        F.least(
            F.floor(F.col("margin") * F.lit(SIG_SCALE) + F.lit(0.5)).cast(
                "long"
            ),
            F.lit(SIG_CLIP).cast("long"),
        ),
        F.lit(-SIG_CLIP).cast("long"),
    )
    _grad_sum = F.sum(
        F.floor(
            F.col("err") * F.col("x") * F.lit(FP_SCALE) + F.lit(0.5)
        ).cast("long")
    ).alias("g_int")
    _loss_sum = F.sum(
        F.when(
            F.col("feature") == dim,
            F.round(
                F.log1p(F.exp(-F.abs(F.col("margin"))))
                + F.when(
                    ((F.col("margin") >= 0) & (F.col("_y") < 0.5))
                    | ((F.col("margin") < 0) & (F.col("_y") >= 0.5)),
                    F.abs(F.col("margin")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    ).alias("loss_sum")
    # cache the constant sigmoid table too: each iteration broadcasts it,
    # and the broadcast build re-serialized the 131k-row local relation
    # every time — reading it from the block manager instead is worth
    # ~0.1-0.15 s/iteration
    with persisted(fx, _sigmoid_table(spark)) as (fx, sig_table):
        # Every training doc owns exactly one bias row, so this count is
        # the old distinct-id count (and it materializes the cache).
        n_docs = fx.filter(F.col("feature") == dim).count()
        if n_docs == 0:
            raise ValueError("no labeled documents to fit on")
        for _ in range(iters):
            # per-doc margin with the label carried THROUGH the
            # aggregation (F.first over a per-doc-constant column —
            # deterministic), so no per-iteration re-scan/join of the
            # labels lineage; fx is hash-partitioned by id, so this
            # groupBy has no Exchange.  The weight lookup is
            # element_at on a constant-folded array literal (gated —
            # _with_weight falls back to the broadcast join above
            # WEIGHTS_LITERAL_MAX or on non-finite weights); the old
            # unconditional per-iteration broadcast(weights_df) build +
            # hash join is gone on the literal path, and both paths
            # multiply the identical double (guide §2.4).
            margins = (
                _with_weight(fx, w + [0.0], spark)
                .groupBy(id_col)
                .agg(_margin_sum, _y_first)
                .select(
                    id_col,
                    (
                        F.col("_m_int") / F.lit(FP_SCALE) + F.lit(float(bias))
                    ).alias("margin"),
                    "_y",
                )
            )
            # err = sigma(margin) − label, per doc — margin is already
            # deterministic and sigma is a table lookup, so err is too;
            # everything summed below is fixed-point quantized per row
            err = (
                margins.withColumn("mq", mq)
                .join(F.broadcast(sig_table), "mq")
                .select(
                    id_col,
                    (F.col("sigma") - F.col("_y")).alias("err"),
                    "margin",
                    "_y",
                )
            )
            # ONE job per iteration: the doc-keyed join is co-partitioned
            # with the cached fx (no Exchange; the shuffle_hash hint
            # builds the doc-sized err side per partition instead of
            # sorting the corpus side), the feature groupBy partial-
            # aggregates to ≤ dim+1 rows per partition before its tiny
            # exchange, and exactly dim+2 numbers reach the driver.  The
            # log-loss (driver-side DIAGNOSTIC — never feeds the weights,
            # never oracle-compared; the only JVM transcendental, by
            # design) rides the bias rows of the same aggregation.
            stats = (
                fx.join(err.hint("shuffle_hash"), id_col)
                .groupBy("feature")
                .agg(_grad_sum, _loss_sum)
                .collect()
            )
            loss_sum = 0.0
            for row in stats:
                f = int(row.feature)
                if f == dim:
                    bias -= lr * (row.g_int / FP_SCALE) / n_docs
                    loss_sum = float(row.loss_sum)
                else:
                    w[f] -= lr * (row.g_int / FP_SCALE) / n_docs
            losses.append(loss_sum / n_docs)
    return LogisticModel(weights=w, bias=bias, dim=dim, losses=losses)


def predict(
    features: DataFrame, model: LogisticModel, id_col: str
) -> DataFrame:
    """(id, score) — table-looked-up sigma of the deterministic
    fixed-point margin (same transcendental-free path as training)."""
    spark = features.sparkSession
    weights_df = spark.createDataFrame(
        [(i, wi) for i, wi in enumerate(model.weights)], "feature long, w double"
    )
    return _scores(
        features, id_col, weights_df, model.bias, _sigmoid_table(spark)
    ).select(id_col, "score")


# ---------------------------------------------------------------------------
# Pure-Python reference (oracle generation + differential tests)
# ---------------------------------------------------------------------------


def reference_fit_predict(
    docs: list[tuple],
    dim: int,
    label_fn,
    *,
    iters: int = 15,
    lr: float = 0.5,
    sample_frac: float | None = None,
) -> dict:
    """Independent implementation of featurize+fit+predict over
    ``[(id, text), ...]`` — same hashing, same fixed-point sums, same
    grid-quantized table sigmoid (:func:`sigmoid_of_mq` ∘
    :func:`quantize_margin`), so it reproduces the distributed training
    EXACTLY (the determinism contract in the module docstring).
    ``sample_frac`` mirrors :func:`fit`'s hash-gated training subset;
    predictions still cover every document.  Returns
    {id: (label, score)}."""
    import hashlib

    def h(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % dim

    feats: dict[int, dict[int, float]] = {}
    labels: dict[int, int] = {}
    for doc_id, text in docs:
        ws = [t for t in text.split(" ") if t]
        grams = ws + [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
        if not grams:
            continue
        counts: dict[int, int] = {}
        for g in grams:
            counts[h(g)] = counts.get(h(g), 0) + 1
        feats[doc_id] = {f: c / len(grams) for f, c in counts.items()}
        labels[doc_id] = int(label_fn(text))

    if sample_frac is not None:
        train = {
            d: fx
            for d, fx in feats.items()
            if reference_in_sample(d, sample_frac)
        }
    else:
        train = feats
    n = len(train)
    w = [0.0] * dim
    bias = 0.0

    def margin(fx: dict[int, float]) -> float:
        m_int = sum(math.floor(w[f] * x * FP_SCALE + 0.5) for f, x in fx.items())
        return m_int / FP_SCALE + bias

    def sigma(m: float) -> float:
        return sigmoid_of_mq(quantize_margin(m))

    for _ in range(iters):
        g_int = [0] * dim
        gb_int = 0
        for doc_id, fx in train.items():
            e = sigma(margin(fx)) - labels[doc_id]
            for f, x in fx.items():
                g_int[f] += math.floor(e * x * FP_SCALE + 0.5)
            gb_int += math.floor(e * FP_SCALE + 0.5)
        for f in range(dim):
            w[f] -= lr * (g_int[f] / FP_SCALE) / n
        bias -= lr * (gb_int / FP_SCALE) / n

    return {
        doc_id: (labels[doc_id], sigma(margin(fx)))
        for doc_id, fx in feats.items()
    }
