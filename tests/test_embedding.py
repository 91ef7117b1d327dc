"""Text→embedding bridge (operators/embedding.py, r8).

Two load-bearing claims: (1) the distributed pipeline reproduces the
pure-Python mirror EXACTLY (fixed-point determinism), and (2) the
projection approximately preserves angles (the JL property that makes
the output usable by the similarity/dedup stack).
"""

import math

import pytest

from smalltsdb_spark.operators import embedding
from smalltsdb_spark.operators.classifier import FP_SCALE


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "completely different words about spark engines and parquet files",
    "spark engines read parquet files with predicate pushdown",
    "é😀é unicode tokens mixed with ascii",
    "",
]


def test_distributed_embedding_matches_reference_exactly(spark):
    d, nf = 8, 1 << 12
    emb = {
        r.doc_id: r.embedding
        for r in embedding.embed_text(
            _docs(spark, CORPUS), "doc_id", "text", n_features=nf, d=d
        ).collect()
    }
    want = embedding.reference_embed(list(enumerate(CORPUS)), nf, d)
    assert set(emb) == set(want)  # empty doc produces no row in both
    for doc_id, ints in want.items():
        got_ints = [int(v * FP_SCALE) for v in emb[doc_id]]
        assert got_ints == ints, doc_id


def test_embedding_is_partitioning_invariant(spark):
    d, nf = 8, 1 << 12
    docs = _docs(spark, CORPUS)
    one = {
        r.doc_id: r.embedding
        for r in embedding.embed_text(
            docs.coalesce(1), "doc_id", "text", n_features=nf, d=d
        ).collect()
    }
    many = {
        r.doc_id: r.embedding
        for r in embedding.embed_text(
            docs.repartition(7), "doc_id", "text", n_features=nf, d=d
        ).collect()
    }
    assert one == many  # bit-identical, not approximately equal


def test_projection_preserves_angles_approximately(spark):
    """JL sanity: projected cosines track the EXACT sparse TF-IDF
    cosines within random-projection noise (~1/√d), and the relative
    order near > far survives — the property the ANN stack needs."""
    d, nf = 64, 1 << 14
    docs = _docs(spark, CORPUS)
    emb = {
        r.doc_id: r.embedding
        for r in embedding.embed_text(docs, "doc_id", "text", n_features=nf, d=d).collect()
    }
    sparse = {}
    for r in embedding.tfidf_features(docs, "doc_id", "text", nf).collect():
        sparse.setdefault(r.doc_id, {})[r.feature] = r.w

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return num / (na * nb)

    def cos_sparse(a, b):
        num = sum(w * b.get(f, 0.0) for f, w in a.items())
        na = math.sqrt(sum(w * w for w in a.values()))
        nb = math.sqrt(sum(w * w for w in b.values()))
        return num / (na * nb)

    pairs = [(0, 1), (2, 3), (0, 2), (1, 3)]
    tol = 2.5 / math.sqrt(d)  # ~0.31: the JL noise scale at d=64
    for i, j in pairs:
        exact = cos_sparse(sparse[i], sparse[j])
        proj = cos(emb[i], emb[j])
        assert abs(proj - exact) < tol, (i, j, exact, proj)
    near = cos(emb[0], emb[1])  # fox/dog vs fox/cat — one-word diff
    far = cos(emb[0], emb[2])  # disjoint topics
    assert near > 0.6 and far < near


def test_projection_matrix_is_derived_and_unit_scaled(spark):
    feats = embedding.tfidf_features(
        _docs(spark, CORPUS[:2]), "doc_id", "text", 1 << 10
    )
    rows = embedding.random_projection_matrix(feats, 4).collect()
    scale = 1.0 / math.sqrt(4)
    assert rows
    for r in rows:
        assert len(r.signs) == 4
        assert all(abs(abs(s) - scale) < 1e-12 for s in r.signs)
    # derived: the same feature always gets the same signs
    again = {
        r.feature: list(r.signs)
        for r in embedding.random_projection_matrix(feats, 4).collect()
    }
    assert all(list(r.signs) == again[r.feature] for r in rows)


def test_failed_materialization_leaves_no_cache(spark, monkeypatch):
    """A failure while ``embed_text`` materializes its result releases
    both the tf cache and the result's own: no persisted RDD is left."""
    spark.catalog.clearCache()
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    real = frame.count

    def failing(self):
        if self.columns == ["doc_id", "embedding"]:
            raise RuntimeError("injected failure in out.count()")
        return real(self)

    monkeypatch.setattr(frame, "count", failing)
    with pytest.raises(RuntimeError, match="injected"):
        embedding.embed_text(_docs(spark, CORPUS), "doc_id", "text", d=4)
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
