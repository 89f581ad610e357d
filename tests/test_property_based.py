"""Property-based tests (hypothesis) for the operators whose correctness
arguments are least obvious: randomized inputs catch the edge shapes
hand-written fixtures miss (self-loops, duplicate edges, singleton
clusters, adversarial partitionings).

Two property families:
- ORACLE PARITY: the distributed algorithm equals a trivially-correct
  driver-side implementation on small random inputs (connected components
  vs union-find; exact dedup vs collections.Counter).
- PARTITIONING INVARIANCE: results are identical however the input is
  partitioned -- the property that separates a correct distributed
  operator from one that accidentally depends on row placement (the bug
  class shuffles/AQE reorderings would expose at 100 TB, caught here on
  4 rows instead).

Examples are deliberately small (Spark jobs cost ~0.5s each); the value
is input SHAPE diversity, not volume.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# max_examples is the suite-time dial: 4 random examples + hypothesis's
# shrinking already covers the shape classes (empty, singleton, duplicate,
# adversarial partitioning) at ~90s total; 8 doubled that for no new
# failure classes in practice.
PROP = settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

edges_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=0,
    max_size=12,
)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


@PROP
@given(edges=edges_strategy)
def test_connected_components_equals_union_find(spark, edges):
    from sqldataintegrationfunctiontriggerapp_spark.operators import dedup as D

    # drop self-loops the operator's symmetrized-edge model also ignores,
    # keep duplicates (they must be harmless)
    edges = [e for e in edges if e[0] != e[1]]
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.component_id
        for r in D.connected_components(df).collect()
    }
    want = _union_find_components(edges)
    assert got == want
    # Route equality (OPTIMIZATION r16): the size-gated driver-side
    # union-find (the default at this scale) and the distributed
    # min-label loop (forced via _CC_DRIVER_MAX_EDGES=-1, the 100 TB
    # shape) must agree row for row on arbitrary graphs.
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(D, "_CC_DRIVER_MAX_EDGES", -1)
        loop = {
            r.doc_id: r.component_id
            for r in D.connected_components(df).collect()
        }
    assert loop == want


@PROP
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=8),
        min_size=1,
        max_size=10,
    )
)
def test_exact_dedup_groups_equals_counter(spark, texts):
    from sqldataintegrationfunctiontriggerapp_spark.operators.dedup import (
        exact_dedup_groups,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.text: (r.keeper_id, r.n_copies)
        for r in exact_dedup_groups(df).collect()
    }
    counts = Counter(texts)
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    want = {t: (first[t], n) for t, n in counts.items()}
    assert got == want


@PROP
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1, 1, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=12,
        unique_by=lambda v: tuple(v),
    ),
    n_parts=st.integers(1, 4),
)
def test_kmeans_invariant_under_partitioning(spark, vecs, n_parts):
    # the SAME corpus must cluster identically however it is partitioned:
    # seeding orders by md5(id), assignment is per-row, and mean updates
    # are order-independent decimal sums -- so row placement cannot leak
    # into the result. This is the distributed-correctness property that
    # guards against accidental first()/head()/zipWithIndex dependence.
    from sqldataintegrationfunctiontriggerapp_spark.operators.similarity import (
        kmeans_lloyd,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df1 = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1)
    df2 = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(n_parts)
    a = {r.vec_id: r.cluster_id for r in kmeans_lloyd(df1, k=3, iters=1).collect()}
    b = {r.vec_id: r.cluster_id for r in kmeans_lloyd(df2, k=3, iters=1).collect()}
    assert a == b
    assert set(a) == {i for i, _ in rows}


# right side keeps (key, ts) unique: with two right rows at the SAME
# (key, ts), "the most recent right row" is genuinely ambiguous -- both
# implementations (window last() and merge_asof) then pick an
# arrival-order-dependent winner, which is the documented caller contract
# (dedupe the build side first), not a bug to randomize into.
asof_right_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 9), st.integers(0, 99)),
    min_size=0,
    max_size=10,
    unique_by=lambda r: (r[0], r[1]),
)


@PROP
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 9)),
        min_size=1,
        max_size=10,
    ),
    right=asof_right_strategy,
)
def test_asof_join_variants_equal_pointwise_reference(spark, left, right):
    # ORACLE PARITY for the operator Spark lacks natively: both the
    # union-and-carry window variant and the cogrouped merge_asof variant
    # must equal the definitional per-row scan "latest right row with the
    # same key and right.ts <= left.ts" -- including the tie rule
    # (right.ts == left.ts IS visible) and the no-match null.
    from sqldataintegrationfunctiontriggerapp_spark.operators.asof import (
        asof_join,
        asof_join_cogroup,
    )

    lrows = [(i, k, t) for i, (k, t) in enumerate(left)]
    ldf = spark.createDataFrame(lrows, "lid long, key long, ts long")
    rdf = spark.createDataFrame(
        right or [], "key long, rts long, val long"
    )
    want = {}
    for lid, k, t in lrows:
        prior = [(rt, v) for rk, rt, v in right if rk == k and rt <= t]
        want[lid] = max(prior)[1] if prior else None

    a = {
        r.lid: r.asof_val
        for r in asof_join(ldf, rdf, "key", "ts", "rts", ["val"]).collect()
    }
    b = {
        r.lid: r.asof_val
        for r in asof_join_cogroup(
            ldf, rdf, "key", "ts", "rts", ["val"]
        ).collect()
    }
    assert a == want
    assert b == want


@PROP
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=16),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_jaccard_pairs_equals_brute_force(spark, texts):
    # ORACLE PARITY: the inverted-index self-join (one join + one aggregate,
    # never all-pairs) must equal the definitional all-pairs scan: distinct
    # word-bigram sets per doc, docs with <2 tokens dropped, |A∩B|/|A∪B|
    # per pair. Same integer counts + same double division on both sides,
    # so the floats compare bit-identically. threshold=0 keeps every pair
    # visible (the filter itself is a trivial WHERE); the df cap can't bind
    # at <=8 docs.
    from sqldataintegrationfunctiontriggerapp_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            shingled=word_shingles(df, n=2), threshold=0.0
        ).collect()
    }

    def bigrams(t):
        toks = t.split()
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    sets = {i: bigrams(t) for i, t in rows if len(t.split()) >= 2}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                inter = len(sets[a] & sets[b])
                want[(a, b)] = inter / (len(sets[a]) + len(sets[b]) - inter)
    assert got == want


@PROP
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(0, 5),
            st.text(alphabet="abc", min_size=1, max_size=4),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_minhash_signatures_equal_python_reference(spark, pairs):
    # ORACLE PARITY: the one-wide-aggregate banded signature (the shape
    # whose shuffle carries one row per doc, not n_bands rows per shingle)
    # must equal the definitional per-doc computation: band b's signature
    # is the concatenation of _ROWS_PER_BAND independent minima of
    # md5(salt || '|' || shingle), salt = b*r+i. Spark's md5() and
    # hashlib.md5 both emit lowercase hex, so the strings compare exactly.
    import hashlib

    from sqldataintegrationfunctiontriggerapp_spark.operators.dedup import (
        minhash_signatures,
    )

    pairs = sorted(set(pairs))
    df = spark.createDataFrame(pairs, "doc_id long, shingle string")
    got = {
        (r.doc_id, r.band): r.sig
        for r in minhash_signatures(df, n_bands=4).collect()
    }
    docs = {}
    for d, s in pairs:
        docs.setdefault(d, set()).add(s)
    want = {}
    for d, shingles in docs.items():
        for b in range(4):
            want[(d, b)] = "".join(
                min(
                    hashlib.md5(f"{b * 2 + i}|{s}".encode()).hexdigest()
                    for s in shingles
                )
                for i in (0, 1)
            )
    assert got == want


@PROP
@given(
    ids=st.lists(
        st.integers(0, 10**9), min_size=1, max_size=15, unique=True
    ),
    n_parts=st.integers(1, 4),
)
def test_split_assign_equals_python_md5(spark, ids, n_parts):
    # ORACLE PARITY + trivially implied partitioning invariance for the
    # deterministic train/val/test assignment: split is a pure function of
    # md5(str(doc_id)) against the two hex thresholds, so every engine,
    # every re-run, and every partitioning must land each id identically --
    # the property that makes incremental re-processing safe.
    import hashlib

    from sqldataintegrationfunctiontriggerapp_spark.plans.sampling import (
        _TEST_HI,
        _VAL_HI,
        split_assign,
    )

    df = spark.createDataFrame(
        [(i,) for i in ids], "doc_id long"
    ).repartition(n_parts)
    got = {r.doc_id: r.split for r in split_assign(df).collect()}

    def ref(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        if h < _VAL_HI:
            return "val"
        if h < _TEST_HI:
            return "test"
        return "train"

    assert got == {i: ref(i) for i in ids}


@PROP
@given(
    texts=st.lists(
        st.text(alphabet="xy ", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    n_parts=st.integers(1, 4),
)
def test_simhash_invariant_under_partitioning(spark, texts, n_parts):
    from sqldataintegrationfunctiontriggerapp_spark.operators.dedup import (
        simhash,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df2 = spark.createDataFrame(rows, "doc_id long, text string").repartition(
        n_parts
    )
    a = {r.doc_id: r.simhash for r in simhash(df1, bits=16).collect()}
    b = {r.doc_id: r.simhash for r in simhash(df2, bits=16).collect()}
    assert a == b
    for h in a.values():
        assert 0 <= h < 2 ** 16


vectors_strategy = st.lists(
    st.lists(
        st.floats(
            min_value=-4.0, max_value=4.0,
            allow_nan=False, allow_infinity=False, width=32,
        ),
        min_size=3, max_size=3,
    ),
    min_size=0, max_size=14,
)


@PROP
@given(vecs=vectors_strategy, threshold=st.sampled_from([-0.5, 0.0, 0.4, 0.9, 1.0]))
def test_cosine_pair_kernels_agree_bitwise(spark, vecs, threshold):
    """All four exact pair back ends -- the JVM fold crossJoin, the fold
    bucketed angular join, the broadcast dgemm kernel, and the blocked
    dgemm bucketed join -- must return the identical pair set with
    bit-identical cosines on arbitrary vectors: negatives, zeros
    (zero-norm rows never pair), exact duplicates (cos exactly 1.0), and
    thresholds at the +/-1 boundaries where the margin buffer must not
    admit or drop a pair."""
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    # seed exact duplicates and a zero vector into every non-trivial case
    if len(vecs) >= 2:
        vecs = vecs + [list(vecs[0]), [0.0, 0.0, 0.0]]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).repartition(3)
    ref = {
        (r.id_a, r.id_b): r.cos
        for r in S.cosine_pairs_above(df, threshold).collect()
    }
    for fn in (
        lambda: S.cosine_pairs_above_blas(df, threshold),
        lambda: S.cosine_pairs_above_bucketed(df, threshold, n_pivots=4),
        lambda: S.cosine_pairs_above_bucketed_blas(
            df, threshold, n_pivots=4, block_rows=4
        ),
    ):
        got = {(r.id_a, r.id_b): r.cos for r in fn().collect()}
        assert got == ref


@PROP
@given(
    vecs=vectors_strategy,
    n_parts=st.integers(min_value=1, max_value=5),
)
def test_quantile_refine_invariant_under_partitioning(spark, vecs, n_parts):
    """quantile_refine must be a pure function of the VALUE multiset --
    no spark_partition_id anywhere in the two-pass construction -- so any
    repartitioning yields identical rows (estimates, counts, bound)."""
    from sqldataintegrationfunctiontriggerapp_spark.plans.advanced import (
        quantile_refine,
    )

    values = [float(v[0]) for v in vecs]
    if not values:
        return  # documented non-empty precondition (as the base sketch)
    df = spark.createDataFrame([(v,) for v in values], "x double")
    base = sorted(map(tuple, quantile_refine(df.repartition(1), "x").collect()))
    alt = sorted(map(tuple, quantile_refine(df.repartition(n_parts), "x").collect()))
    assert base == alt


@PROP
@given(vecs=vectors_strategy, k=st.integers(min_value=1, max_value=4))
def test_topk_kernels_agree_bitwise(spark, vecs, k):
    """The two EXACT top-k back ends -- the JVM fold crossJoin window and
    the map-side dgemm kernel -- must return identical (query, rank,
    neighbor, cos) rows on arbitrary vectors: negatives, zero-norm rows
    (excluded on both sides on both back ends), exact duplicates (cos
    exactly 1.0 plus rank ties broken by neighbor_id), and k exceeding
    the corpus."""
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    if len(vecs) >= 2:
        vecs = vecs + [list(vecs[0]), [0.0, 0.0, 0.0]]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).repartition(3)
    jvm = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cos)
        for r in S.brute_force_topk(df, df, k=k).collect()
    )
    blas = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cos)
        for r in S.brute_force_topk_blas(df, df, k=k).collect()
    )
    assert jvm == blas


# --- r11 operators: skyline, triangles, LPA ----------------------------------

points_strategy = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6)),
    min_size=0,
    max_size=12,
)


@PROP
@given(pts=points_strategy)
def test_skyline_matches_brute_force(spark, pts):
    """The sort-scan skyline (per-price min + prefix-min over distinct
    prices) equals the O(n^2) dominance definition on arbitrary points,
    including duplicates (mutually non-dominating) and single-point
    inputs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not pts:
        return
    df = spark.createDataFrame(
        [(i, float(p), s) for i, (p, s) in enumerate(pts)],
        "p_partkey long, price double, size int",
    )
    per_price = df.groupBy("price").agg(F.min("size").alias("min_size_here"))
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    pref = per_price.withColumn(
        "min_size_cheaper", F.min("min_size_here").over(w)
    )
    joined = df.join(pref, "price")
    dominated = (
        F.col("min_size_cheaper").isNotNull()
        & (F.col("min_size_cheaper") <= F.col("size"))
    ) | (F.col("min_size_here") < F.col("size"))
    got = sorted(r["p_partkey"] for r in joined.where(~dominated).collect())

    def dominates(a, b):
        return a[0] <= b[0] and a[1] <= b[1] and a != b

    want = sorted(
        i
        for i, p in enumerate(pts)
        if not any(dominates(q, p) for q in pts)
    )
    assert got == want


@PROP
@given(edges=edges_strategy)
def test_triangle_counts_match_brute_force(spark, edges):
    """Oriented two-join enumeration equals the itertools.combinations
    count on arbitrary edge lists (self-loops and duplicates removed the
    same way the dedup pair stage guarantees upstream)."""
    from itertools import combinations

    from sqldataintegrationfunctiontriggerapp_spark.operators.graph import (
        triangle_counts,
    )

    pairs = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not pairs:
        return
    df = spark.createDataFrame(pairs, "doc_a int, doc_b int")
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    eset = set(pairs)
    nodes = sorted({n for e in pairs for n in e})
    want: dict[int, int] = {}
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (b, c), (a, c)} <= eset:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    assert got == want


@PROP
@given(
    edges=edges_strategy,
    n_parts=st.integers(min_value=1, max_value=5),
)
def test_label_propagation_invariant_under_partitioning(spark, edges, n_parts):
    """LPA's majority vote must be a pure function of the graph: integer
    counts + the total (cnt DESC, label ASC) order leave no room for
    partition placement to flip a label."""
    from sqldataintegrationfunctiontriggerapp_spark.operators.graph import (
        label_propagation,
    )

    und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    nodes = sorted({n for e in und for n in e} | {99})
    both = und + [(b, a) for a, b in und]
    ndf = spark.createDataFrame([(v,) for v in nodes], "node int")
    edf = spark.createDataFrame(both, "src int, dst int")
    base = sorted(
        map(tuple, label_propagation(edf.repartition(1), ndf).collect())
    )
    alt = sorted(
        map(
            tuple,
            label_propagation(edf.repartition(n_parts), ndf).collect(),
        )
    )
    assert base == alt


@PROP
@given(did=st.integers(min_value=0, max_value=10_000_000))
def test_png_pixel_roundtrip_any_doc_id(did):
    """decode(encode(doc_id)) recovers the generator's closed form for
    ARBITRARY ids -- every (width, height) combination 1..16 x 1..12 and
    both corrupt branches, beyond the four ids the unit test pins."""
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        multimodal as MM,
    )

    r = MM._decode_png_pixels_one(MM._png_full_bytes(did))
    w, h = did % 16 + 1, did % 12 + 1
    if did % 97 == 0:
        assert r[0] == "corrupt" and r[1:] == (w, h, 3)
        return
    rw, rh, ch, sums, mn, mx = r
    allv = [(x + 2 * y + 3 * c + did) % 256
            for x in range(w) for y in range(h) for c in range(3)]
    assert (rw, rh, ch) == (w, h, 3)
    assert sums == [
        sum((x + 2 * y + 3 * c + did) % 256
            for x in range(w) for y in range(h))
        for c in range(3)
    ]
    assert (mn, mx) == (min(allv), max(allv))


@PROP
@given(did=st.integers(min_value=0, max_value=10_000_000))
def test_jpeg_pixel_roundtrip_any_doc_id(did):
    """Baseline-JPEG dual of the PNG property: Huffman DC coding, byte
    stuffing, and the IDCT DC path must survive any block-value pattern
    the generator can produce."""
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        multimodal as MM,
    )

    r = MM._decode_jpeg_pixels_one(MM._jpeg_full_bytes(did))
    w, h = 8 * (did % 4 + 1), 8 * (did % 3 + 1)
    if did % 89 == 0:
        assert r[0] == "corrupt" and r[1:] == (w, h, 1)
        return
    vs = [(5 * bx + 7 * by + did) % 256
          for by in range(h // 8) for bx in range(w // 8)]
    assert r == (w, h, 1, [sum(64 * v for v in vs)], min(vs), max(vs))


# --- span removal: distributed interval surgery vs sequential reference ------

def _span_removal_reference(texts, k):
    """Sequential Lee-style coverage reference, independent of the Spark
    pipeline: positional k-shingles, cross-doc matches mark [pb, pb+k-1]
    covered on the LATER doc, kept tokens rebuild the cleaned text."""
    toks = {i: t.split() for i, t in enumerate(texts)}
    shingles = {
        i: {
            (p, " ".join(tk[p:p + k]))
            for p in range(len(tk) - k + 1)
        }
        for i, tk in toks.items() if len(tk) >= k
    }
    covered = {i: set() for i in toks}
    for a in shingles:
        for b in shingles:
            if a >= b:
                continue
            sh_a = {s for _, s in shingles[a]}
            for pb, s in shingles[b]:
                if s in sh_a:
                    covered[b].update(range(pb, pb + k))
    out = {}
    for i, tk in toks.items():
        if not tk:
            continue
        kept = [t for p, t in enumerate(tk) if p not in covered[i]]
        n_rm = len(covered[i])
        out[i] = (
            len(tk),
            n_rm,
            " ".join(kept) if n_rm < len(tk) else None,
        )
    return out


# two-word alphabet + docs up to 24 tokens: with k=8 there are only 256
# possible shingles and ~17 positions per doc, so cross-doc matches (and
# hence overlapping/adjacent covered runs and fully-covered docs) occur
# in most generated corpora rather than almost never
_words = st.sampled_from(["aa", "bb"])
_doc = st.lists(_words, min_size=0, max_size=24).map(" ".join)


@PROP
@given(texts=st.lists(_doc, min_size=1, max_size=5))
def test_span_removal_interval_surgery_matches_reference(spark, texts):
    """The r12 interval-surgery rewrite of _span_removal_plan (merge
    covered intervals at match grain, slice the token array around them)
    against a sequential reference over adversarial tiny corpora -- a
    4-word alphabet with k=3 forces dense shared shingles, overlapping
    and adjacent covered runs, fully-covered docs, and sub-k docs."""
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        dedup as D,
    )
    from sqldataintegrationfunctiontriggerapp_spark.plans.dedup import (
        _RUN_K, _span_removal_plan,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = D.word_shingles_pos(docs, n=_RUN_K)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in _span_removal_plan(docs, sh).collect()
    }
    assert got == _span_removal_reference(texts, _RUN_K)


def test_span_removal_adversarial_corpus_matches_reference(spark):
    """Deterministic companion to the property above: guarantees the
    interesting paths run every time -- overlapping covered runs, ADJACENT
    runs that must merge into one interval, a fully-covered doc (NULL
    cleaned_text), an uncovered doc, and a sub-k doc."""
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        dedup as D,
    )
    from sqldataintegrationfunctiontriggerapp_spark.plans.dedup import (
        _RUN_K, _span_removal_plan,
    )

    run = "x1 x2 x3 x4 x5 x6 x7 x8"            # one exact 8-gram
    texts = [
        f"{run} tail0 tail1",                   # 0: source of the run
        f"head0 {run} mid {run} tail",          # 1: two covered runs with a gap
        run,                                    # 2: fully covered -> NULL
        f"head0 head1 {run} {run}",             # 3: adjacent+overlapping runs merge
        "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9",  # 4: shingled, no matches
        "short doc",                            # 5: below k, no shingles
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in _span_removal_plan(
            docs, D.word_shingles_pos(docs, n=_RUN_K)
        ).collect()
    }
    ref = _span_removal_reference(texts, _RUN_K)
    assert got == ref
    # the shapes this test exists to witness:
    assert got[1][1] >= 16 and got[1][2] is not None   # two covered runs
    assert got[2] == (8, 8, None)                      # fully covered
    assert got[3][1] > 8                               # merged adjacent runs
    assert got[4][1] == 0 and got[5][1] == 0
