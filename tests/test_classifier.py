"""Hashed-feature logistic quality classifier (operators/classifier, r8).

The determinism contract is the load-bearing claim: distributed training
must reproduce the pure-Python reference EXACTLY (fixed-point sums are
order-independent), and the model must actually learn a separable rule.
"""

import pytest

from smalltsdb_spark.operators import classifier


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def corpus():
    # separable by vocabulary: "good" docs use one word family, "bad"
    # docs another; lengths vary so length is NOT the signal
    good = [f"alpha beta gamma delta {'alpha ' * (i % 5)}".strip() for i in range(30)]
    bad = [f"zork quux blarg {'zork ' * (i % 7)}".strip() for i in range(30)]
    return good + bad


def test_distributed_training_matches_reference_exactly(spark, corpus):
    """Same hashing + fixed-point arithmetic ⇒ bit-identical margins:
    every per-doc decision AND every 6-decimal score must agree with the
    independent pure-Python implementation."""
    dim, iters, lr = 512, 8, 0.5
    label_fn = lambda t: int(t.split(" ")[0] == "alpha")  # noqa: E731

    docs = _docs(spark, corpus)
    from pyspark.sql import functions as F

    labels = docs.select(
        "doc_id",
        (F.split("text", " ")[0] == "alpha").cast("int").alias("label"),
    )
    feats = classifier.featurize(docs, "doc_id", "text", dim)
    model = classifier.fit(feats, labels, "doc_id", dim, iters=iters, lr=lr)
    got = {
        r.doc_id: r.score
        for r in classifier.predict(feats, model, "doc_id").collect()
    }

    want = classifier.reference_fit_predict(
        list(enumerate(corpus)), dim, label_fn, iters=iters, lr=lr
    )
    assert set(got) == set(want)
    for doc_id, (label, ref_score) in want.items():
        # bit-exact: margins are integer-sum deterministic and the
        # sigmoid is a driver-built table lookup (no JVM transcendental),
        # so the double coming back IS the mirror's double
        assert got[doc_id] == ref_score, doc_id


def test_sampled_training_matches_reference_exactly(spark, corpus):
    """fit(sample_frac=) trains on the md5-gated subset and the mirror
    reproduces it bit-exactly; every doc is still scored."""
    dim, iters, lr, frac = 512, 6, 0.5, 0.5
    label_fn = lambda t: int(t.split(" ")[0] == "alpha")  # noqa: E731

    docs = _docs(spark, corpus)
    from pyspark.sql import functions as F

    labels = docs.select(
        "doc_id",
        (F.split("text", " ")[0] == "alpha").cast("int").alias("label"),
    )
    feats = classifier.featurize(docs, "doc_id", "text", dim)
    model = classifier.fit(
        feats, labels, "doc_id", dim, iters=iters, lr=lr, sample_frac=frac
    )
    got = {
        r.doc_id: r.score
        for r in classifier.predict(feats, model, "doc_id").collect()
    }
    want = classifier.reference_fit_predict(
        list(enumerate(corpus)), dim, label_fn, iters=iters, lr=lr,
        sample_frac=frac,
    )
    assert set(got) == set(want)  # every doc scored, sampled or not
    assert got == {d: s for d, (_l, s) in want.items()}
    # the gate actually subsets (statistically certain at frac=0.5, n=60)
    n_in = sum(classifier.reference_in_sample(d, frac) for d in range(len(corpus)))
    assert 0 < n_in < len(corpus)
    # and a different sample trains a different model
    full = classifier.reference_fit_predict(
        list(enumerate(corpus)), dim, label_fn, iters=iters, lr=lr
    )
    assert any(full[d][1] != want[d][1] for d in want)


def test_fit_rejects_bad_sample_frac(spark, corpus):
    docs = _docs(spark, corpus[:2])
    from pyspark.sql import functions as F

    feats = classifier.featurize(docs, "doc_id", "text", 16)
    labels = docs.select("doc_id", F.lit(1).alias("label"))
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="sample_frac"):
            classifier.fit(feats, labels, "doc_id", 16, iters=1, sample_frac=bad)


def test_model_learns_separable_vocabulary(spark, corpus):
    dim = 512
    docs = _docs(spark, corpus)
    from pyspark.sql import functions as F

    labels = docs.select(
        "doc_id",
        (F.split("text", " ")[0] == "alpha").cast("int").alias("label"),
    )
    feats = classifier.featurize(docs, "doc_id", "text", dim)
    model = classifier.fit(feats, labels, "doc_id", dim, iters=12, lr=0.5)
    # loss decreases monotonically on a separable problem
    assert model.losses == sorted(model.losses, reverse=True)
    scored = classifier.predict(feats, model, "doc_id").collect()
    lab = {r.doc_id: r.label for r in labels.collect()}
    correct = sum((r.score >= 0.5) == bool(lab[r.doc_id]) for r in scored)
    assert correct == len(scored)  # fully separable → fully learned
    assert all(0.0 < r.score < 1.0 for r in scored)


def test_featurize_mean_pooling_and_empty_docs(spark):
    docs = _docs(spark, ["a a b", "", "   "])
    feats = classifier.featurize(docs, "doc_id", "text", 64).collect()
    by_doc = {}
    for r in feats:
        by_doc.setdefault(r.doc_id, []).append(r.x)
    # doc 0: grams = [a, a, b, "a a", "a b"] → 5 grams; x sums to 1
    assert abs(sum(by_doc[0]) - 1.0) < 1e-12
    # empty / whitespace-only docs produce no features
    assert set(by_doc) == {0}


def test_fit_refuses_empty_input(spark):
    docs = _docs(spark, [""])
    from pyspark.sql import functions as F

    feats = classifier.featurize(docs, "doc_id", "text", 16)
    labels = docs.select("doc_id", F.lit(1).alias("label"))
    with pytest.raises(ValueError, match="no labeled documents"):
        classifier.fit(feats, labels, "doc_id", 16, iters=1)


def test_fit_failure_leaves_no_cache(spark, monkeypatch):
    """A failure in the count that materializes ``fit``'s training cache
    releases it and the sigmoid table's: no cached relation is left."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    docs = _docs(spark, ["good words here", "more good words"])
    feats = classifier.featurize(docs, "doc_id", "text", 16)
    labels = docs.select("doc_id", F.lit(1).alias("label"))
    frame = type(docs)  # the session's concrete DataFrame class
    real = frame.count

    def failing(self):
        n = real(self)
        if self.columns == ["doc_id", "feature", "x", "label"]:
            raise RuntimeError("injected failure in the fx count")
        return n

    monkeypatch.setattr(frame, "count", failing)
    with pytest.raises(RuntimeError, match="injected"):
        classifier.fit(feats, labels, "doc_id", 16, iters=1)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_with_weight_literal_and_join_paths_identical(spark):
    """The gated weight attachment (r15): both paths must attach the
    bit-identical double per feature, and the gate must route to the
    join above WEIGHTS_LITERAL_MAX or on any non-finite weight (the
    literal's two documented failure modes — optimizer re-traversal of
    a multi-MB literal, and repr(inf/nan) casting to NULL)."""
    from pyspark.sql import functions as F

    fx = spark.createDataFrame(
        [(1, 0, 0.25), (1, 1, 0.5), (2, 2, 1.0)],
        "doc_id long, feature long, x double",
    )
    w = [0.1, -0.30000000000000004, 5e-324]  # shortest-repr edge cases
    lit_rows = {
        (r.feature, r.w)
        for r in classifier._with_weight(fx, w, spark).select("feature", "w").collect()
    }
    big = w + [0.0] * classifier.WEIGHTS_LITERAL_MAX  # force the join path
    join_rows = {
        (r.feature, r.w)
        for r in classifier._with_weight(fx, big, spark).select("feature", "w").collect()
    }
    assert lit_rows == join_rows == {(0, 0.1), (1, -0.30000000000000004), (2, 5e-324)}
    # plan shape: small+finite folds to a literal (no join);
    # oversized or non-finite vectors take the broadcast join
    small_plan = classifier._with_weight(fx, w, spark)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in small_plan
    big_plan = classifier._with_weight(fx, big, spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in big_plan


def test_with_weight_nonfinite_takes_join_and_keeps_inf(spark):
    from pyspark.sql import functions as F

    fx = spark.createDataFrame([(1, 0, 1.0)], "doc_id long, feature long, x double")
    import math

    out = classifier._with_weight(fx, [math.inf], spark).select("w").collect()
    assert out[0].w == math.inf  # the literal path would yield NULL
    plan = classifier._with_weight(fx, [math.inf], spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_fit_beyond_literal_gate_matches_reference(spark):
    """fit() at dim > WEIGHTS_LITERAL_MAX (join fallback path end to
    end) still reproduces the pure-Python mirror bit-exactly."""
    texts = ["alpha beta gamma", "zork quux blarg", "alpha beta", "zork zork"]
    dim, iters, lr = classifier.WEIGHTS_LITERAL_MAX + 7, 2, 0.5
    docs = _docs(spark, texts)
    from pyspark.sql import functions as F

    labels = docs.select(
        "doc_id", (F.split("text", " ")[0] == "alpha").cast("int").alias("label")
    )
    feats = classifier.featurize(docs, "doc_id", "text", dim)
    model = classifier.fit(feats, labels, "doc_id", dim, iters=iters, lr=lr)
    ref = classifier.reference_fit_predict(
        list(enumerate(texts)), dim,
        lambda t: int(t.split(" ")[0] == "alpha"), iters=iters, lr=lr,
    )
    got = {
        r.doc_id: r.score
        for r in classifier.predict(feats, model, "doc_id").collect()
    }
    assert got == {d: s for d, (_l, s) in ref.items()}
