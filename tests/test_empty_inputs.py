"""Empty/degenerate-input behavior of the operator APIs: a 100 TB pipeline
routinely produces empty partitions, empty change batches, and filters that
match nothing -- operators must return empty results, not crash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.operators import dedup as D
from sqldataintegrationfunctiontriggerapp_spark.operators import similarity as S


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    out = D.connected_components(edges)
    assert out.columns == ["doc_id", "component_id"]
    assert out.count() == 0


def test_word_shingles_drops_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d e f")], "doc_id bigint, text string"
    )
    sh = D.word_shingles(docs, n=5)
    assert sh.where(F.col("doc_id") == 1).count() == 0
    assert sh.where(F.col("doc_id") == 2).count() == 2


def test_exact_dedup_empty_input(spark):
    df = spark.createDataFrame([], "doc_id bigint, text string")
    assert D.exact_dedup_groups(df).count() == 0


def test_brute_force_topk_k_exceeds_corpus(spark):
    rows = [(i, [float(i) + 1.0, 1.0]) for i in range(3)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = S.brute_force_topk(e, e.where(F.col("vec_id") == 0), k=10)
    # corpus minus the query itself
    assert out.count() == 2


def test_ivf_topk_single_query_small_corpus(spark):
    rows = [(i, [float(i % 3) + 1.0, float(i % 5) + 1.0]) for i in range(8)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = S.ivf_topk(e, e.where(F.col("vec_id") == 0), k=3, n_lists=4, n_probe=4)
    assert 0 < out.count() <= 3


def test_ivf_topk_empty_corpus(spark):
    e = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    q = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id bigint, embedding array<float>"
    )
    assert S.ivf_topk(e, q, k=3, n_lists=4, n_probe=2).count() == 0


def test_cosine_pairs_bucketed_all_zero_norm(spark):
    rows = [(i, [0.0, 0.0]) for i in range(4)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # zero-norm vectors have undefined cosine; they are filtered, never crash
    out = S.cosine_pairs_above_bucketed(e, threshold=0.5, n_pivots=2)
    assert out.count() == 0


def test_kmeans_empty_corpus(spark):
    e = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = S.kmeans_lloyd(e, k=3, iters=1)
    assert out.columns == ["vec_id", "cluster_id"]
    assert out.count() == 0


def test_simhash_empty_input(spark):
    d = spark.createDataFrame([], "doc_id bigint, text string")
    assert D.simhash(d, bits=16).count() == 0


def test_minhash_signatures_empty_shingles(spark):
    s = spark.createDataFrame([], "doc_id bigint, shingle string")
    assert D.minhash_signatures(s).count() == 0


def test_span_removal_semantics_on_tiny_corpus(spark):
    """crossdoc_span_removal's core rules on a hand-auditable corpus:
    the earlier doc keeps everything; a verbatim later copy is fully
    covered (cleaned_text NULL); a doc sharing no 8-token shingle is
    untouched."""
    from sqldataintegrationfunctiontriggerapp_spark.plans.dedup import (
        crossdoc_span_removal,
    )
    import sqldataintegrationfunctiontriggerapp_spark.plans.dedup as dd
    from sqldataintegrationfunctiontriggerapp_spark.catalog import TABLES
    import tempfile, os

    base = " ".join(f"w{i}" for i in range(12))          # 12 tokens
    other = " ".join(f"x{i}" for i in range(12))
    d = tempfile.mkdtemp(prefix="spanrm_fixture_")
    docs = spark.createDataFrame(
        [(1, base, "en", "a", len(base)),
         (2, base, "en", "a", len(base)),
         (3, other, "en", "a", len(other))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    out = {r.doc_id: r for r in crossdoc_span_removal(spark, d).collect()}
    assert out[1].n_removed == 0 and out[1].cleaned_text == base
    assert out[2].n_removed == 12 and out[2].cleaned_text is None
    assert out[3].n_removed == 0 and out[3].cleaned_text == other


def test_classifier_weight_is_vocabulary_independent(spark):
    """qc_weight_col must map a token to the same weight regardless of
    surrounding rows (pure hashing-trick lookup) and stay inside the
    20-bit fixed-point range."""
    from sqldataintegrationfunctiontriggerapp_spark.plans.cleaning import (
        qc_weight_col, _qc_weights,
    )
    import hashlib

    toks = spark.createDataFrame(
        [("hello",), ("world",), ("hello",)], "token string"
    )
    rows = toks.select("token", qc_weight_col().alias("wt")).collect()
    by_tok = {}
    for r in rows:
        assert -(1 << 19) <= r.wt < (1 << 19)
        by_tok.setdefault(r.token, set()).add(r.wt)
    assert all(len(v) == 1 for v in by_tok.values())
    # spot-check one weight against the Python-side rule
    h = hashlib.md5(b"hello").hexdigest()
    bucket = (int(h[0], 16)) * 16 + int(h[1], 16)
    assert by_tok["hello"] == {_qc_weights()[bucket]}


def _member(c):
    """SemDeDup's pair-stage input: (vec_id, cluster_id, v, n2), zero-norm
    rows excluded."""
    return (
        c.select("vec_id", S._as_double("embedding").alias("v"))
        .withColumn("n2", S.dot(F.col("v"), F.col("v")))
        .withColumn("cluster_id", (F.col("vec_id") % 3).cast("int"))
        .where(F.col("n2") > 0)
    )


# Every public frame-or-model kernel of operators/similarity.py as
# fn(corpus, queries, ref) -> DataFrame | list; `ref` is the non-empty
# corpus, for kernels that take a prebuilt index (pivots, codebooks).
# The flag says whether the kernel takes a query set.
_PIVOTS = 4
_SIMILARITY_KERNELS = {
    "brute_force_topk": (lambda c, q, ref: S.brute_force_topk(c, q, k=3), True),
    "brute_force_topk_blas": (
        lambda c, q, ref: S.brute_force_topk_blas(c, q, k=3), True),
    "ivf_scored": (
        lambda c, q, ref: S.ivf_scored(c, q, n_lists=_PIVOTS, n_probe=2), True),
    "ivf_topk": (
        lambda c, q, ref: S.ivf_topk(c, q, k=3, n_lists=_PIVOTS, n_probe=2),
        True),
    "ivf_topk_blas": (
        lambda c, q, ref: S.ivf_topk_blas(
            c, q, k=3, n_lists=_PIVOTS, n_probe=2), True),
    "ivf_probe_pairs": (
        lambda c, q, ref: S.ivf_probe_pairs(
            S.ivf_assign(c, S.ivf_pivots(ref, _PIVOTS)), q,
            S.ivf_pivots(ref, _PIVOTS), n_probe=2), True),
    "ivf_probe": (
        lambda c, q, ref: S.ivf_probe(
            S.ivf_assign(c, S.ivf_pivots(ref, _PIVOTS)), q,
            S.ivf_pivots(ref, _PIVOTS), n_probe=2), True),
    "ivf_probe_topk_blas": (
        lambda c, q, ref: S.ivf_probe_topk_blas(
            S.ivf_assign(c, S.ivf_pivots(ref, _PIVOTS)), q,
            S.ivf_pivots(ref, _PIVOTS), k=3, n_probe=2), True),
    "lsh_topk": (lambda c, q, ref: S.lsh_topk(c, q, k=3, nbits=2), True),
    "cosine_pairs_above": (lambda c, q, ref: S.cosine_pairs_above(c, 0.4), False),
    "cosine_pairs_above_blas": (
        lambda c, q, ref: S.cosine_pairs_above_blas(c, 0.4), False),
    "cosine_pairs_above_bucketed": (
        lambda c, q, ref: S.cosine_pairs_above_bucketed(c, 0.4, n_pivots=4),
        False),
    "cosine_pairs_above_bucketed_blas": (
        lambda c, q, ref: S.cosine_pairs_above_bucketed_blas(
            c, 0.4, n_pivots=4), False),
    "cosine_pairs_above_auto": (
        lambda c, q, ref: S.cosine_pairs_above_auto(c, 0.4), False),
    "cluster_pairs_above_blas": (
        lambda c, q, ref: S.cluster_pairs_above_blas(_member(c), 0.4), False),
    "semantic_pairs_auto": (
        lambda c, q, ref: S.semantic_pairs_auto(_member(c), 0.4), False),
    "ivf_pivots": (lambda c, q, ref: S.ivf_pivots(c, _PIVOTS), False),
    "ivf_assign": (
        lambda c, q, ref: S.ivf_assign(c, S.ivf_pivots(ref, _PIVOTS)), False),
    "ivf_assign_blas": (
        lambda c, q, ref: S.ivf_assign_blas(c, S.ivf_pivots(ref, _PIVOTS)),
        False),
    "kmeans_fit": (lambda c, q, ref: S.kmeans_fit(c, k=3, iters=1), False),
    "kmeans_lloyd": (lambda c, q, ref: S.kmeans_lloyd(c, k=3, iters=1), False),
    "pq_fit": (
        lambda c, q, ref: S.pq_fit(c, m=4, k=4, iters=1, dim=64), False),
    "pq_fit_multi": (
        lambda c, q, ref: S.pq_fit_multi(
            [c], [S.ivf_pivots(c, 4)], m=4, k=4, iters=1, dim=64)[0], False),
    "pq_codes": (
        lambda c, q, ref: S.pq_codes(
            c, S.pq_fit(ref, m=4, k=4, iters=1, dim=64)), False),
    "pq_codes_blas": (
        lambda c, q, ref: S.pq_codes_blas(
            c, S.pq_fit(ref, m=4, k=4, iters=1, dim=64)), False),
    "pq_codes_auto": (
        lambda c, q, ref: S.pq_codes_auto(
            c, S.pq_fit(ref, m=4, k=4, iters=1, dim=64)), False),
}


def _rows(out) -> int:
    return len(out) if isinstance(out, list) else out.count()


@pytest.mark.parametrize("name", sorted(_SIMILARITY_KERNELS))
def test_similarity_kernel_empty_inputs(spark, sf_dir, name):
    """An empty corpus -- and an empty query set, for kernels that take
    one -- yields zero rows (zero centroids/codebooks for the fits),
    typed exactly like the kernel's result on non-empty input: a
    downstream union, join or window over an empty batch must analyse
    the same way as over a full one."""
    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table

    fn, takes_queries = _SIMILARITY_KERNELS[name]
    corpus = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 64)
    queries = corpus.where(F.col("vec_id") < 4)
    none = spark.createDataFrame([], corpus.schema)
    ref = fn(corpus, queries, corpus)
    cases = [(none, queries)] + ([(corpus, none)] if takes_queries else [])
    for c, q in cases:
        out = fn(c, q, corpus)
        assert _rows(out) == 0
        if isinstance(ref, list):
            assert ref and isinstance(out, list)
        else:
            assert out.schema == ref.schema, (out.schema, ref.schema)
