"""Similarity search over embedding columns (north-star C4).

Baseline: brute-force cosine top-k -- query set broadcast against the corpus,
cosine computed JVM-side with array expressions (zip_with + a sequential
aggregate fold, which is bit-identical to DuckDB's list_dot_product), top-k
via a per-query window.

Scale path: signed-random-projection LSH -- hyperplanes derived
deterministically from md5 so the operator needs no RNG state; vectors hash
to a bucket id, and search only compares against same-bucket candidates
(optionally multi-probe by flipping low bits). At 100 TB the corpus is
bucketed once (one shuffle, or bucketed table layout on write) and each query
touches O(corpus / 2^nbits) vectors instead of the full scan.

Cosine parity note: cosine = dot / sqrt(dot_aa * dot_bb), computed in double.
DuckDB's builtin list_cosine_similarity does NOT match a sequential fold
bit-for-bit (verified empirically), but list_dot_product does -- oracles must
use the dot-product formula, as these operators do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold of the elementwise product --
    deterministic and identical to DuckDB list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: NULL (not DIVIDE_BY_ZERO under Spark 4's default ANSI
    # mode) when either side is zero-norm. Every caller also excludes
    # zero-norm rows up front, but the filter alone is NOT enough: Catalyst
    # combines it with later predicates (`cos >= t`) into one conjunction
    # and evaluates the division subexpression without short-circuit
    # ordering, so the expression itself must be total (hypothesis-found,
    # r08 -- test_cosine_pair_kernels_agree_bitwise).
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a) * dot(b, b)))


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _normed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    names: tuple[str, str, str] = ("vid", "v", "n2"),
    keep_zero: bool = False,
) -> DataFrame:
    """The (id, vector, squared norm) base every kernel scores from, under
    `names`. Zero-norm rows are excluded unless `keep_zero`: their cosine
    is undefined (NULL on Spark and DuckDB alike, so the oracle's
    comparisons drop them), and under Spark 4's default ANSI mode the
    division would otherwise raise DIVIDE_BY_ZERO (hypothesis-found, r08)."""
    i, v, n2 = names
    out = df.select(
        F.col(id_col).alias(i), _as_double(vec_col).alias(v)
    ).withColumn(n2, dot(F.col(v), F.col(v)))
    return out if keep_zero else out.where(F.col(n2) > 0)


def _cos_n2(a: str, b: str, a_n2: str, b_n2: str) -> Column:
    """`cosine` over precomputed squared norms (N + Q norm folds instead of
    one per pair); bit-identical, the norms are the same folds."""
    return F.try_divide(
        dot(F.col(a), F.col(b)), F.sqrt(F.col(a_n2) * F.col(b_n2))
    )


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    """The k best (query_id, neighbor_id, cos) rows per query, ranked by
    cosine descending with ties to the lower neighbor_id. Every top-k
    kernel, JVM or dgemm, ends in this one window, so their ordering and
    tie semantics are identical by construction."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _empty(df: DataFrame, id_col: str, *cols: str) -> DataFrame:
    """A kernel's typed zero-row result for an empty input, built on `df`'s
    plan (the optimizer folds it to an empty relation, so no job runs).
    Each column takes `df[id_col]`'s type except `cos` (double),
    `probe_rank` and `cluster_id` (int), each as nullable as on the
    kernel's non-empty route. `cols` defaults to the pair stream's
    (id_a, id_b, cos); a top-k result is `_topk_window` over an empty
    (query_id, neighbor_id, cos)."""
    typed = {
        "cos": F.lit(None).cast("double"),
        "probe_rank": F.lit(1).cast("int"),
        "cluster_id": F.lit(None).cast("int"),
    }
    return df.select(*[
        typed.get(c, F.col(id_col)).alias(c)
        for c in cols or ("id_a", "id_b", "cos")
    ]).where(F.lit(False))


# The candidate margin of every dgemm kernel below. dgemm reorders the
# summation (blocking/SIMD), so its cosines differ from the sequential
# fold in the last ulps -- enough to flip a hash-checked value. So dgemm
# only NOMINATES candidates within this margin of the cut (its true error
# for d=64 is ~1e-14, eight orders of magnitude inside it), and every
# candidate is re-scored by `_exact_dots`.
_CANDIDATE_MARGIN = 1e-6


def _exact_dots(np, X, Y):
    """Row-wise dot products of X * Y (broadcasting) by `np.add.accumulate`,
    whose prefix semantics force the same left-to-right double additions
    as the Spark fold `dot` and DuckDB's list_dot_product -- the re-score
    that makes every dgemm kernel bit-identical to its JVM reference."""
    return np.add.accumulate(X * Y, axis=1)[:, -1]


def _pack(np, ids, vecs, n2=None):
    """(ids, M, Mn, n2) for one side of a dgemm score: int64 ids, the row
    matrix, its unit-normalised rows and its exact squared norms (`n2`
    when the JVM fold already computed them, else `_exact_dots`).
    Zero-norm rows normalise to NaN, which no cut ever admits."""
    M = np.array(vecs.tolist(), dtype=np.float64)
    n2 = _exact_dots(np, M, M) if n2 is None else n2.to_numpy(dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        Mn = M / np.sqrt(n2)[:, None]
    return ids.to_numpy(dtype="int64"), M, Mn, n2


def _topk_candidates(np, pd, groups, k: int):
    """Margin-buffered local top-k per query, exactly re-scored: for each
    (query pack, candidate pack) in `groups`, one dgemm scores every
    query against every candidate; per query, everything within
    2 x margin of the k-th approximate score survives (self-matches and
    NaN scores never do), so every member of the global top-k provably
    survives its own batch's cut. Returns (query_id, neighbor_id, cos)
    rows for `_topk_window`, or None when nothing survives."""
    qs, ns, cs = [], [], []
    for (qids, Q, Qn, qn2), (nids, C, Cn, cn2) in groups:
        S = Qn @ Cn.T  # (queries, candidates)
        for r in range(len(qids)):
            s = np.where(np.isnan(S[r]), -np.inf, S[r])
            s[nids == qids[r]] = -np.inf  # self-match exclusion
            kk = min(k, int(np.isfinite(s).sum()))
            if kk == 0:
                continue
            kth = np.partition(s, -kk)[-kk]
            ix = np.nonzero(s >= kth - 2 * _CANDIDATE_MARGIN)[0]
            qs.append(np.full(len(ix), qids[r], dtype=np.int64))
            ns.append(nids[ix])
            cs.append(
                _exact_dots(np, Q[r][None, :], C[ix]) / np.sqrt(qn2[r] * cn2[ix])
            )
    if not qs:
        return None
    return pd.DataFrame({"query_id": np.concatenate(qs),
                         "neighbor_id": np.concatenate(ns),
                         "cos": np.concatenate(cs)})


def _pairs_above(np, a, b, threshold: float, upper_only: bool):
    """(ids_a, ids_b, cos) of every pair of packs `a` x `b` whose exact
    cosine is >= threshold: dgemm nominates pairs within the margin below
    the threshold, `_exact_dots` decides. `upper_only` keeps each pair
    of a self product once (id_b > id_a)."""
    ids_a, A, An, n2a = a
    ids_b, B, Bn, n2b = b
    mask = (An @ Bn.T) >= threshold - _CANDIDATE_MARGIN
    if upper_only:
        mask &= ids_b[None, :] > ids_a[:, None]
    ii, jj = np.nonzero(mask)
    cos = _exact_dots(np, A[ii], B[jj]) / np.sqrt(n2a[ii] * n2b[jj])
    keep = cos >= threshold
    return ids_a[ii[keep]], ids_b[jj[keep]], cos[keep]


def _codebook(np, book: list[list[float]]):
    """(B, bn2, bn2_max) for `_blas_exact_argmin`: the codebook matrix, its
    squared norms as the same Python-float `sum(x*x)` literals
    `_d2s_to_pivots` embeds, and their maximum."""
    bn2 = np.array([sum(x * x for x in c) for c in book], dtype=np.float64)
    return (np.array(book, dtype=np.float64), bn2,
            float(bn2.max()) if len(bn2) else 0.0)


def _blas_exact_argmin(np, A, B, bn2, bn2_max):
    """First-index exact argmin of squared distance per row of A against
    codebook B, plus A's exact squared row norms. One dgemm computes
    approximate squared distances D = n2 + |b|^2 - 2 A B^T used ONLY to
    select candidates within a per-row margin of the row minimum; each
    candidate is re-scored by `_exact_dots` (the JVM fold's left-to-right
    additions), and the winner is the lowest index achieving the exact
    minimum -- the `argmin_index` tie rule. A non-candidate cannot win:
    the dgemm error is ~1e-15 relative while the margin is 1e-8 relative."""
    n2 = _exact_dots(np, A, A)
    D = n2[:, None] + bn2[None, :] - 2.0 * (A @ B.T)
    rowmin = D.min(axis=1)
    eps = 1e-8 * (n2 + bn2_max + 1.0)
    ii, jj = np.nonzero(D <= (rowmin + eps)[:, None])
    exact = n2[ii] + bn2[jj] - 2.0 * _exact_dots(np, A[ii], B[jj])
    # lexsort is stable over (row, exact value, codeword index)
    order = np.lexsort((jj, exact, ii))
    _, first = np.unique(ii[order], return_index=True)
    return jj[order][first], n2


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set, score the full
    corpus, keep k per query. One corpus scan, no shuffle of the corpus
    itself (only k rows per query move). Self-matches are excluded, and
    zero-norm rows on both sides (`_normed`)."""
    q = _normed(queries, id_col, vec_col, ("query_id", "qv", "qn2"))
    c = _normed(corpus, id_col, vec_col, ("neighbor_id", "cv", "cn2"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                _cos_n2("qv", "cv", "qn2", "cn2").alias("cos"))
    )
    return _topk_window(scored, k)


def brute_force_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k at dgemm speed -- the large-corpus regime of
    `brute_force_topk`, bit-identical output (ids, ranks, AND cosine
    values; test-pinned).

    Why: the JVM baseline broadcasts the queries but then pushes the FULL
    scored stream (|corpus| x |queries| rows) through a rank window -- at
    200k x 100 that is a 20M-row shuffle for a 1000-row answer (measured
    18 s). This variant is the map-side top-k combine a cluster wants: the
    tiny QUERY matrix broadcasts (like the baseline), a single mapInPandas
    pass over the corpus scores each Arrow batch against all queries in
    one dgemm and keeps, per query, only the margin-buffered local
    candidate set of `_topk_candidates`, exactly re-scored. Only
    ~(#partitions x |Q| x k) candidate rows reach the final JVM rank
    window (`_topk_window`, as the baseline) -- the corpus never moves,
    the shuffle shrinks from |corpus| x |Q| rows to a few thousand.
    Measured 200k x 64 corpus, 100 queries: 18.2 s -> ~2 s warm.

    Zero-norm rows have undefined cosine and are never candidates --
    identical to the JVM baseline, which filters them at norm
    computation."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    qpdf = queries.select(
        F.col(id_col).alias("qid"), _as_double(vec_col).alias("v")
    ).toPandas()
    cb = corpus.select(F.col(id_col).alias("nid"), _as_double(vec_col).alias("v"))
    if len(qpdf) == 0:
        return _topk_window(_empty(cb, "nid", "query_id", "neighbor_id", "cos"), k)
    bc = spark.sparkContext.broadcast(_pack(np, qpdf["qid"], qpdf["v"]))

    def gen(batches):
        for b in batches:
            if len(b) == 0:
                continue
            out = _topk_candidates(
                np, pd, [(bc.value, _pack(np, b["nid"], b["v"]))], k)
            if out is not None:
                yield out

    n_part = spark.sparkContext.defaultParallelism
    cand = cb.repartition(n_part).mapInPandas(
        gen, "query_id long, neighbor_id long, cos double")
    return _topk_window(cand, k)


def cosine_pairs_above(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup path): all pairs >= threshold.
    O(n^2) by construction -- correct baseline; the LSH variant below is the
    scale path."""
    base = _normed(vectors, id_col, vec_col)
    a = base.select(F.col("vid").alias("id_a"), F.col("v").alias("va"),
                    F.col("n2").alias("na2"))
    b = base.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"),
                    F.col("n2").alias("nb2"))
    # Repartition the probe side so the O(n^2) nested-loop work spreads over
    # every core instead of riding the scan's few input splits.
    n_part = vectors.sparkSession.sparkContext.defaultParallelism
    return (
        a.repartition(n_part)
        .crossJoin(F.broadcast(b))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cos_n2("va", "vb", "na2", "nb2").alias("cos"))
        .where(F.col("cos") >= threshold)
    )


# Target cosine evaluations per pair-join task: the fold-based cosine costs
# ~O(dim) per pair, so this bounds task runtime; below it the extra tasks
# cost more in build-side replication than they win in parallelism
# (calibrated at sf0.1, round 2 -> 3).
_SALT_TARGET_PAIRS = 100_000

# Corpus-size cutover for the BLAS pair kernel: the whole corpus matrix is
# collected to the driver and broadcast (sc.broadcast, one torrent transfer
# per executor), so the bound is a MEMORY bound, not a work bound --
# 131072 x 64 doubles is ~67 MB raw + ~67 MB normalized, well inside any
# driver. Above it the bucketed angular join takes over (its per-pair
# kernel stays the codegen fold; blocking IT through BLAS is the same
# trick applied per admissible cluster pair, left until a workload needs
# that regime).
_PAIRS_MATMUL_MAX_ROWS = 131_072


def cosine_pairs_above_blas(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via a BLAS prefilter + exact verify:
    bit-identical results to `cosine_pairs_above`, ~40x faster on dense
    vectors (sf1 spot-bench, r08: 20k x 64 corpus, 87 s fold-join -> ~2 s).

    Why: the pair joins above evaluate cosine with a per-pair zip_with/
    aggregate fold -- exact and oracle-matching, but interpreter-priced:
    every one of the n^2/2 pairs walks a 64-element lambda chain. Dense
    similarity is a matrix product, and numpy's dgemm does it at SIMD
    speed. The wrinkle is determinism (see `_CANDIDATE_MARGIN`): dgemm
    only nominates candidates and `_pairs_above` re-scores each one
    exactly -- the candidate-generate / exact-verify discipline of the
    minhash and ngram dedup families, with BLAS as the generator.

    Plan shape: one bounded driver collect of the corpus (the cutover
    _PAIRS_MATMUL_MAX_ROWS caps it; the same bounded-index idiom as the
    IVF pivot collect), one sc.broadcast, then a SINGLE mapInPandas pass
    over the row-partitioned corpus -- no join, no shuffle, no pair
    materialization: each Arrow batch scores batch x corpus in one dgemm
    and emits only qualifying pairs. Python appears only Arrow-batched
    (never per row), exactly the sanctioned slow-path shape. At 100 TB
    this is the mid-size regime (corpus fits one machine's memory but
    pair work is huge); beyond the cutover the bucketed angular join
    shards the corpus instead."""
    import numpy as np
    import pandas as pd

    spark = vectors.sparkSession
    base = vectors.select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("v")
    )
    pdf = base.toPandas()
    if len(pdf) == 0:
        return _empty(base, "vid")
    bc = spark.sparkContext.broadcast(_pack(np, pdf["vid"], pdf["v"]))

    def gen(batches):
        for b in batches:
            if len(b) == 0:
                continue
            # canonical id_a < id_b orientation: batch row a, corpus row b
            ia, ib, cos = _pairs_above(
                np, _pack(np, b["vid"], b["v"]), bc.value, threshold, True)
            if len(ia):
                yield pd.DataFrame({"id_a": ia, "id_b": ib, "cos": cos})

    n_part = spark.sparkContext.defaultParallelism
    return base.repartition(n_part).mapInPandas(
        gen, "id_a long, id_b long, cos double"
    )


def _angular_stage(
    vectors: DataFrame,
    threshold: float,
    n_pivots: int,
    id_col: str,
    vec_col: str,
):
    """Shared front half of the pivot-partitioned pair joins: pivot sample,
    per-row cluster assignment, angular radii + exact cluster sizes (one
    bounded K-row collect), and the driver-side admissibility grid. Returns
    (assigned, radius, csize, admissible) or None for an empty/all-zero-norm
    corpus. Extracted in r08 so the fold-join and blocked-BLAS back ends
    can never drift in assignment or pruning semantics."""
    import math

    # zero-norm rows would also make every cos-to-pivot NULL, crashing the
    # radius collect
    base = _normed(vectors, id_col, vec_col)
    pivot_rows = (
        base.orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(n_pivots)
        .collect()
    )
    pivots = [[float(x) for x in r.v] for r in pivot_rows]
    pn2 = [sum(x * x for x in p) for p in pivots]
    if not pivots:
        return None

    # nearest pivot by angle == argmax cosine; theta kept for the radius agg.
    # clamp cos into [-1, 1] before acos (fold roundoff can exceed by 1 ulp).
    # ONE zip_with over an array-of-arrays pivot literal keeps the
    # expression tree (and codegen compile time) O(1) in the pivot count
    # instead of unrolling k fold expressions.
    cos_arr = F.zip_with(
        const_doubles(pivots),
        const_doubles(pn2),
        lambda p, pn: F.try_divide(dot(F.col("v"), p), F.sqrt(F.col("n2") * pn)),
    )
    assigned = (
        base.withColumn("_cos_arr", cos_arr)
        .withColumn(
            "cluster",
            (F.array_position(F.col("_cos_arr"), F.array_max(F.col("_cos_arr"))) - 1)
            .cast("int"),
        )
        .withColumn(
            "theta",
            F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), F.array_max(F.col("_cos_arr"))))),
        )
        .drop("_cos_arr")
    )
    # One bounded K-row collect yields BOTH the angular radii (for the
    # admissibility grid) and the exact cluster sizes (for work sizing in
    # the back ends) -- no separate count job.
    radii_rows = (
        assigned.groupBy("cluster")
        .agg(F.max("theta").alias("r"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    radius = {int(r.cluster): float(r.r) for r in radii_rows}
    csize = {int(r.cluster): int(r.n) for r in radii_rows}

    # driver-side K x K admissibility grid (K^2 is tiny; this is metadata,
    # not data). eps absorbs double roundoff in the acos bounds.
    eps = 1e-9
    theta_t = math.acos(max(-1.0, min(1.0, threshold)))

    def angle(i: int, j: int) -> float:
        d = sum(a * b for a, b in zip(pivots[i], pivots[j]))
        c = d / math.sqrt(pn2[i] * pn2[j])
        return math.acos(max(-1.0, min(1.0, c)))

    # Full (i, j) grid; back ends that want each unordered cluster pair
    # once filter i <= j (the grid predicate is symmetric). The fold join
    # keeps the full grid to spread each cluster's pair work evenly (a
    # triangular grid would concentrate cluster j's work in bucket j) and
    # drops the mirror orientation by filter before the cosine runs.
    admissible = [
        (i, j)
        for i in radius
        for j in radius
        if angle(i, j) - radius[i] - radius[j] <= theta_t + eps
    ]
    return assigned, radius, csize, admissible


def cosine_pairs_above_bucketed(
    vectors: DataFrame,
    threshold: float,
    n_pivots: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs >= threshold WITHOUT the O(n^2)
    crossJoin: an exact pivot-partitioned angular join.

    Why not SRP-LSH here: at the dedup threshold 0.4 (angle 66 deg) a
    hyperplane agrees on a qualifying pair with p only ~0.63, so 100% recall
    needs so many tables that the union of per-table self-joins exceeds the
    n^2 it was meant to avoid. LSH prunes well only for high thresholds;
    dedup wants a guarantee at a low one.

    Exact pruning instead, via the triangle inequality on angles:
      theta(a, b) >= theta(c_i, c_j) - r_i - r_j
    for a in cluster i (angular radius r_i around pivot c_i), b in cluster j.
    A cluster PAIR can be skipped outright when that lower bound exceeds
    acos(threshold) -- no qualifying pair can span it. The survivors join on
    the cluster-pair id (a plain shuffle equi-join -- no CartesianProduct, no
    full-corpus broadcast) and exact cosine (same fold as the oracle) decides.

    Scale shape (100 TB): pivots are a deterministic md5-ordered sample (one
    bounded n_pivots-row collect, as in ivf_topk); assignment is a pure map;
    radii are one n_pivots-row aggregate. Work is sum over admissible cluster
    pairs of |C_i| x |C_j| -- with clustered real-world embeddings most of
    the K^2 grid prunes away, and n_pivots scales as sqrt(corpus/target
    partition size). AQE splits skewed clusters. Recall is 100% by
    construction (inequality, not probability), so the DuckDB oracle matches
    exactly; only cost, never the result, depends on pivot quality.
    """
    stage = _angular_stage(vectors, threshold, n_pivots, id_col, vec_col)
    if stage is None:
        return _empty(vectors, id_col)
    assigned, radius, csize, admissible = stage
    k = len(radius)
    spark = vectors.sparkSession
    adm = spark.createDataFrame(admissible, "ca int, cb int")

    a = assigned.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("n2").alias("na2"), F.col("cluster").alias("ca"),
    )
    b = assigned.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("n2").alias("nb2"), F.col("cluster").alias("cb"),
    )
    # shuffle_hash: the pair stream is huge and wide (two embedding arrays
    # per row) -- a sort-merge join would sort it; hash-joining on the
    # cluster key streams it instead. Each unordered pair survives exactly
    # once: cross-cluster via the lower-numbered cluster's orientation,
    # same-cluster via id order -- checked before the cosine is computed.
    #
    # Salting: K cluster ids alone give the pair-generation stage at most K
    # tasks; sub-bucketing the probe side by a hash salt (and replicating
    # the build side across salts) raises it to K x n_salt without changing
    # the pair set -- each (a, b) pair still meets in exactly one
    # (cb, salt) bucket. Salt width is WORK-driven, not machine-driven
    # (round 2 sized it off defaultParallelism alone and paid an 8x
    # replication tax on a 2k-row input -- VERDICT r02 "What's wrong" #2):
    # from the exact cluster sizes, the heaviest bucket's pair count is
    #   max_cb |C_cb| * sum(|C_ca| over admissible ca)
    # and n_salt splits THAT bucket down to ~_SALT_TARGET_PAIRS cosine
    # evaluations per task, capped at 4 tasks/core so build-side
    # replication stays bounded. Tiny inputs get n_salt == 1 (zero tax).
    cores = vectors.sparkSession.sparkContext.defaultParallelism
    bucket_pairs = {
        cb: csize.get(cb, 0)
        * sum(csize.get(ca, 0) for ca, cj in admissible if cj == cb)
        for cb in radius
    }
    max_pairs = max(bucket_pairs.values(), default=0)
    n_salt = max(
        1,
        min(
            max((cores * 4) // max(k, 1), 1),
            -(-max_pairs // _SALT_TARGET_PAIRS),  # ceil div
        ),
    )
    salts = F.lit(list(range(n_salt)))
    pair_ok = (F.col("ca") < F.col("cb")) | (
        (F.col("ca") == F.col("cb")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        a.join(F.broadcast(adm), "ca")
        .withColumn("_salt", F.explode(salts))
        .join(
            b.hint("shuffle_hash").withColumn(
                "_salt", F.pmod(F.hash("id_b"), F.lit(n_salt)).cast("int")
            ),
            ["cb", "_salt"],
        )
        .where(pair_ok)
        .select(
            # normalize to id_a < id_b (cross-cluster orientation follows
            # cluster numbering, not id order; cosine is symmetric)
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            _cos_n2("va", "vb", "na2", "nb2").alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def _blocked_pairs_dgemm(
    spark,
    assigned: DataFrame,
    csize: dict,
    admissible,
    threshold: float,
    block_rows: int,
) -> DataFrame:
    """Shared blocked-dgemm pair back end (extracted r09 so the angular
    join and SemDeDup's cluster-keyed pair stage share one kernel and can
    never drift in scoring math). `assigned` carries (vid, v, n2, cluster)
    with zero-norm rows already excluded; `csize` the exact per-cluster
    sizes (bounded driver metadata); `admissible` the cluster-pair grid to
    score (symmetric grids allowed -- each unordered pair is taken once).

    Each cluster is cut into blocks of ~`block_rows` rows (hash of the id,
    deterministic), the admissible cluster-pair grid expands driver-side
    into a block-pair grid (pure metadata: #blocks is corpus/block_rows),
    each side of a block pair is tagged with its pair id via a broadcast
    join, and a grouped `applyInPandas` scores one BLOCK PAIR per group
    with `_pairs_above` -- the scoring of `cosine_pairs_above_blas`, so
    results match the fold join bit for bit (test-pinned). Per-group
    memory is 2 x block_rows x dim doubles (~2 MB), independent of corpus
    size."""
    import numpy as np
    import pandas as pd

    nblk = {c: max(1, -(-csize[c] // block_rows)) for c in csize}
    pairs = []
    for ca, cb in admissible:
        if ca > cb:
            continue  # symmetric grid; each unordered cluster pair once
        for ia in range(nblk[ca]):
            for ib in range(nblk[cb]):
                if ca == cb and ib < ia:
                    continue
                pairs.append((len(pairs), ca, ia, cb, ib))
    if not pairs:
        return _empty(assigned, "vid")
    bp = spark.createDataFrame(
        pairs, "pair_id long, ca int, ia int, cb int, ib int"
    )
    blk_map = F.create_map(
        *[x for c, n in nblk.items() for x in (F.lit(c), F.lit(n))]
    )
    rows = assigned.withColumn(
        "blk",
        F.pmod(F.hash("vid"), F.element_at(blk_map, F.col("cluster"))).cast("int"),
    ).select("vid", "v", "n2", "cluster", "blk")
    # Side-tagged union instead of a cogroup: both sides derive from the
    # same (bp x rows) lineage, which the ambiguous-self-join analyzer
    # rejects as a cogroup; a union has no join to disambiguate. side=0
    # rows are the block-pair's A block, side=1 its B block; same-block
    # pairs ship their rows ONCE (side=0) and self-score.
    same_block_pred = (F.col("ca") == F.col("cb")) & (F.col("ia") == F.col("ib"))
    left = bp.join(
        rows, (bp.ca == rows.cluster) & (bp.ia == rows.blk)
    ).select("pair_id", "ca", "ia", "cb", "ib", "vid", "v", "n2",
             F.lit(0).alias("side"))
    right = bp.where(~same_block_pred).join(
        rows, (bp.cb == rows.cluster) & (bp.ib == rows.blk)
    ).select("pair_id", "ca", "ia", "cb", "ib", "vid", "v", "n2",
             F.lit(1).alias("side"))
    tagged = left.unionByName(right)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        a_pdf = pdf[pdf["side"] == 0]
        b_pdf = pdf[pdf["side"] == 1]
        meta = a_pdf.iloc[0] if len(a_pdf) else None
        same_block = meta is not None and (
            meta["ca"] == meta["cb"] and meta["ia"] == meta["ib"])
        if same_block and len(b_pdf) == 0:
            b_pdf = a_pdf
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            # partner block hashed empty -> no pairs
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        # every unordered pair of a same-block self product appears at
        # both (i,j) and (j,i); upper_only keeps exactly one
        ia, ib, cos = _pairs_above(
            np, _pack(np, a_pdf["vid"], a_pdf["v"], a_pdf["n2"]),
            _pack(np, b_pdf["vid"], b_pdf["v"], b_pdf["n2"]),
            threshold, same_block)
        return pd.DataFrame({"id_a": np.minimum(ia, ib),
                             "id_b": np.maximum(ia, ib), "cos": cos})

    return tagged.groupby("pair_id").applyInPandas(
        score, "id_a long, id_b long, cos double"
    )


def cosine_pairs_above_bucketed_blas(
    vectors: DataFrame,
    threshold: float,
    n_pivots: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
) -> DataFrame:
    """The bucketed angular join with a blocked-dgemm back end -- the
    beyond-one-machine regime of the BLAS kernel (corpus too big to
    broadcast whole), with the same bit-exactness contract.

    Front half is the SHARED `_angular_stage` (pivot sample, cluster
    assignment, radii, admissibility grid), so pruning semantics cannot
    drift from the fold join. Back end: each cluster is cut into blocks of
    ~`block_rows` rows (hash of the id, deterministic), the admissible
    cluster-pair grid expands driver-side into a block-pair grid (pure
    metadata: #blocks is corpus/block_rows, the grid is a few thousand
    rows), each side of a block pair is tagged with its pair id via a
    broadcast join, and a cogrouped `applyInPandas` scores one BLOCK PAIR
    per group with the exact-verify scoring of `cosine_pairs_above_blas`,
    so results match the fold join bit for bit (test-pinned). Per-group
    memory is 2 x block_rows x dim doubles (~2 MB), independent of corpus
    size.

    Scale shape: work and shuffle volume are Sum over admissible block
    pairs of (|A| + |B|) -- the standard distributed block-nested join.
    Replication factor is the admissible partner-block count, which
    pruning shrinks when clusters are tight; with no pruning it is the
    unavoidable all-pairs volume, evaluated at dgemm speed instead of
    64-step fold chains per pair (measured 200k x 64, full grid: fold
    join ~extrapolated tens of minutes; blocked dgemm ~2 min -- see
    COVERAGE.md r08). Orientation: each unordered block pair appears once
    (ca <= cb, ia <= ib within a cluster); the same-block group masks by
    id order, cross-block groups emit ids normalized with min/max.

    The block-pair back end itself lives in `_blocked_pairs_dgemm`
    (extracted r09), shared with SemDeDup's cluster-keyed pair stage
    (`cluster_pairs_above_blas`)."""
    stage = _angular_stage(vectors, threshold, n_pivots, id_col, vec_col)
    if stage is None:
        return _empty(vectors, id_col)
    assigned, radius, csize, admissible = stage
    return _blocked_pairs_dgemm(
        vectors.sparkSession, assigned, csize, admissible, threshold,
        block_rows,
    )


# SemDeDup pair-stage routing bounds: every within-cluster pair costs a
# 64-step interpreted fold chain on the JVM path -- the r08 sf1 spot-bench
# measured ~87 s for 2x10^8 pairs, i.e. the fold is comfortable to roughly
# 8M TOTAL pairs (~2-3 s). Routing therefore watches BOTH the largest
# cluster (4096^2/2 = 8.4M pairs from one cluster) AND the aggregate
# Sum c_i*(c_i-1)/2 -- the r09 sf1 bench caught the max-only rule leaving
# eight ~2.5k clusters (50M aggregate pairs, each under the max bound) on
# the fold at 39.6 s when the blocked-dgemm kernel does the stage in 4.3 s.
_SEMANTIC_FOLD_MAX_CLUSTER = 4096
_SEMANTIC_FOLD_MAX_PAIRS = 8_000_000


def cluster_pairs_above_blas(
    member: DataFrame,
    threshold: float,
    block_rows: int = 2048,
    id_col: str = "vec_id",
    cluster_col: str = "cluster_id",
    vec_col: str = "v",
    n2_col: str = "n2",
    sizes: dict | None = None,
) -> DataFrame:
    """Within-cluster cosine pairs at dgemm speed -- SemDeDup's pair stage
    when a k-means cluster outgrows the fold join (VERDICT r08 #3).

    `member` carries (id, cluster, v, n2) with zero-norm rows already
    excluded (the SemDeDup zero-norm rule). The cluster assignment plays
    the role `_angular_stage` plays for the angular join: the admissible
    grid is simply the diagonal (each cluster only pairs with itself --
    that is SemDeDup's semantics), sizes come from one bounded k-row
    aggregate, and the scoring back end is the SHARED `_blocked_pairs_dgemm`
    kernel, so results are bit-identical to the fold equi-join on
    cluster_id (test-pinned, same exact-verify discipline).

    Scale shape: work is Sum over clusters of c_i^2 evaluated at dgemm
    speed with per-group memory bounded by 2 x block_rows x dim doubles;
    an oversized cluster becomes many block pairs that spread across the
    cluster, so one mega-cluster cannot serialize on a single task."""
    rows = member.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.col(n2_col).alias("n2"),
        F.col(cluster_col).cast("int").alias("cluster"),
    )
    # bounded driver metadata: one row per cluster (k rows, k is the
    # k-means k -- same bounded-collect idiom as the IVF pivot sample).
    # A caller that already aggregated the histogram (semantic_pairs_auto's
    # routing decision) passes it in, so the data is scanned once, not twice.
    if sizes is None:
        sizes = {
            int(r["cluster"]): int(r["n"])
            for r in rows.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    if not sizes:
        return _empty(rows, "vid")
    admissible = [(c, c) for c in sizes]
    return _blocked_pairs_dgemm(
        member.sparkSession, rows, sizes, admissible, threshold, block_rows
    )


def semantic_pairs_auto(
    member: DataFrame,
    threshold: float,
    fold_max_cluster: int = _SEMANTIC_FOLD_MAX_CLUSTER,
    block_rows: int = 2048,
) -> DataFrame:
    """Cost-based routing for SemDeDup's within-cluster pair stream --
    mirrors `cosine_pairs_above_auto`'s contract: every branch is exact,
    so the choice is pure cost, never semantics.

    `member` carries (vec_id, cluster_id, v, n2), zero-norm excluded.
    One bounded k-row aggregate reads the cluster histogram; the pair
    stream is the all-JVM codegen equi-join on cluster_id (no Python at
    all -- right answer for the common small-cluster regime, and the plan
    the registered sf0.01 oracle hashes) while BOTH the largest cluster
    fits the fold comfort bound AND the aggregate pair count
    Sum c_i*(c_i-1)/2 stays under the fold pair budget; either bound
    exceeded routes the WHOLE stage through the blocked-dgemm kernel
    (bit-identical by the shared-kernel pin; measured 9.2x on the sf1
    8x~2.5k-cluster shape, ~80x on a true mega-cluster). Returns
    (id_a, id_b, cos) with id_a < id_b and cos >= threshold."""
    sizes = {
        int(r["cluster_id"]): int(r["n"])
        for r in member.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total_pairs = sum(c * (c - 1) // 2 for c in sizes.values())
    if sizes and (
        max(sizes.values()) > fold_max_cluster
        or total_pairs > _SEMANTIC_FOLD_MAX_PAIRS
    ):
        return cluster_pairs_above_blas(
            member, threshold, block_rows, sizes=sizes
        )
    a = member.select(
        F.col("vec_id").alias("id_a"), "cluster_id",
        F.col("v").alias("va"), F.col("n2").alias("na"),
    )
    b = member.select(
        F.col("vec_id").alias("id_b"), "cluster_id",
        F.col("v").alias("vb"), F.col("n2").alias("nb"),
    )
    return (
        a.join(b, "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _cos_n2("va", "vb", "na", "nb"))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def cosine_pairs_above_auto(
    vectors: DataFrame,
    threshold: float,
    n_pivots: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cost-based strategy selection for the near-dup pair join, mirroring
    Spark's own broadcast-vs-shuffle join choice: one cheap count (parquet
    footer metadata when the input is a bare scan) picks

    * `cosine_pairs_above_blas` when the corpus matrix fits the bounded
      driver collect (n <= _PAIRS_MATMUL_MAX_ROWS): dgemm candidate
      generation + exact sequential-fold verify, no join at all. Replaced
      `cosine_pairs_above` as the small/medium branch in r08 -- measured
      at the sf1 spot-bench (20k x 64): fold-join 87 s, BLAS ~2 s, and it
      is not slower at sf0.01/sf0.1 sizes; or
    * `cosine_pairs_above_bucketed_blas` otherwise: the pivot-partitioned
      angular join with the blocked-dgemm back end -- admissibility
      pruning from the shared `_angular_stage`, block pairs scored at
      BLAS speed (measured 200k x 64 full grid: 126 s vs ~2.8 h
      extrapolated for the fold back end, r08).

    All branches return bit-identical pairs (each is exact), so the choice
    is pure cost, never semantics -- the same contract as AQE swapping a
    physical join strategy at runtime. The fold back end
    (`cosine_pairs_above_bucketed`) stays as the all-JVM reference
    implementation the equivalence tests compare against.
    """
    n = vectors.count()
    if n <= _PAIRS_MATMUL_MAX_ROWS:
        return cosine_pairs_above_blas(vectors, threshold, id_col, vec_col)
    return cosine_pairs_above_bucketed_blas(
        vectors, threshold, n_pivots, id_col, vec_col
    )


def _hyperplanes(dim: int, nbits: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 -- no RNG state, same
    planes on every run/executor. Component h[i][j] in [-1, 1)."""
    import hashlib

    planes: list[list[float]] = []
    for i in range(nbits):
        row: list[float] = []
        for j in range(dim):
            h = hashlib.md5(f"plane:{i}:{j}".encode()).hexdigest()
            row.append(int(h[:12], 16) / float(16**12) * 2.0 - 1.0)
        planes.append(row)
    return planes


def srp_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id: bit i = (vec . plane_i) >= 0."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = dot(vec_col, const_doubles(plane))
        bucket = bucket + F.when(proj >= 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def ivf_scored(
    corpus: DataFrame,
    queries: DataFrame,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer partitions
    the corpus into n_lists inverted lists; each query searches only its
    n_probe nearest lists. With n_probe == n_lists this is exactly brute
    force (tested); smaller n_probe trades recall for a ~n_lists/n_probe
    scan reduction.

    Scale shape (100 TB): the coarse centroids are n_lists corpus vectors
    picked by md5 order (a deterministic uniform sample -- an IVF quantizer
    needs *a* space partitioning, not converged k-means; probing depth, not
    centroid quality, controls recall). One TakeOrdered job collects them;
    assignment is a pure map (an array expression computing argmin distance
    against the broadcast pivot literals): no iterative fit, no shuffle, no
    row blowup. The assigned corpus can be persisted as a bucketed layout
    keyed by list_id, making every later query batch a broadcast join
    against n_probe lists -- the same bucket-pruning idea as the reference's
    per-table change feeds, applied to vector space.

    Returns the SCORED probe stream (query_id, neighbor_id, cos,
    probe_rank): every same-list (query, neighbor) cosine, tagged with the
    1-based rank of the neighbor's list among the query's probed lists.
    ``ivf_topk`` windows this down to top-k; the recall-sweep eval reuses
    one n_probe=n_lists stream and filters probe_rank <= p to evaluate
    every smaller probing depth from a single corpus pass."""
    pivots = ivf_pivots(corpus, n_lists, id_col, vec_col)
    if not pivots:
        # empty corpus: no inverted lists; a typed empty probe stream keeps
        # downstream windows/joins analyzable instead of failing on an
        # empty pivot literal
        return _empty(queries, id_col, "query_id", "neighbor_id", "cos",
                      "probe_rank")
    assigned = ivf_assign(corpus, pivots, id_col, vec_col)
    return ivf_probe(assigned, queries, pivots, n_probe, id_col, vec_col)


def ivf_pivots(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The coarse quantizer: n_lists corpus vectors picked by md5 order (a
    deterministic uniform sample). One TakeOrdered job collects them; at
    100 TB these n_lists * dim doubles are the only driver-side state and
    broadcast as plan literals to assignment + probing."""
    pivot_rows = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("v"))
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(n_lists)
        .collect()
    )
    return [[float(x) for x in r.v] for r in pivot_rows]


def const_doubles(values) -> Column:
    """A (possibly nested) double-array CONSTANT as one expression node:
    ``F.lit(nested_list)`` expands to a CreateArray tree with one Literal
    leaf PER ELEMENT, so a k x dim codebook costs ~k*dim analyzer/codegen
    leaves -- measured seconds of driver plan-compile per distinct
    codebook (the small-scale sibling of the n_lists=1024 pivot-literal
    probe compile the r09 verdict flagged). A from_json literal is a
    single node that ConstantFolding collapses to one folded array Literal
    at optimization time (verified: the optimized plan contains no
    from_json), with bit-identical values: json.dumps emits shortest
    round-trip reprs and Jackson parses to the same binary double."""
    import json

    t, v = "double", values
    while isinstance(v, (list, tuple)):
        t, v = f"array<{t}>", v[0] if v else None
    return F.from_json(F.lit(json.dumps(values)), t)


def _d2s_to_pivots(pivots: list[list[float]], vec: Column, n2: Column) -> Column:
    """Array of squared distances to every pivot: |v|^2 + |p_i|^2 -
    2 v.p_i, computed as ONE zip_with over a single array-of-arrays
    pivot constant. vs unrolling len(pivots) fold expressions: the
    expression tree (and its codegen compile time) stays O(1) in the
    pivot count -- measured ~4x faster end-to-end at n_lists=16,
    identical values (same per-element double ops in the same order).
    The constants ride const_doubles (r10): one folded node each, not
    n_lists*dim literal leaves."""
    pn2 = [sum(x * x for x in p) for p in pivots]
    return F.zip_with(
        const_doubles(pivots),
        const_doubles(pn2),
        lambda p, pn: n2 + pn - 2 * dot(vec, p),
    )


def argmin_index(d2s: Column, k: int) -> Column:
    """0-based index of the minimum of a k-element double array, ties to
    the SMALLEST index -- as array_min over (value, index) structs
    (lexicographic struct ordering IS exactly that tie rule). Replaces
    ``array_position(d2s, array_min(d2s)) - 1`` (r10): that form embeds
    the d2s subtree TWICE, and for the pivot/codebook argmins d2s is a
    zip_with-of-folds tree over a k x dim constant, so the duplication
    doubled py4j expression construction and Janino compile per distinct
    plan -- measured 5.1 s -> 2.6 s on the PQ fit round, bit-identical
    results (same min, same tie rule)."""
    structs = F.zip_with(
        d2s,
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda d, i: F.struct(d.alias("d2"), i.cast("int").alias("i")),
    )
    return F.array_min(structs)["i"]


def _nearest(book: list[list[float]], vec: Column, n2: Column) -> Column:
    """Index of `vec`'s nearest codeword (pivot, centroid) by exact squared
    distance, ties to the lowest index: the JVM argmin every IVF, k-means
    and PQ assignment uses, and `_blas_exact_argmin`'s reference. Pass
    `vec` and `n2` as column references: inside the zip_with lambda an
    expression is re-evaluated once per codeword (`_nearest_once` binds
    columns nothing else reads)."""
    return argmin_index(_d2s_to_pivots(book, vec, n2), len(book)).cast("int")


def ivf_assign(
    corpus: DataFrame,
    pivots: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_zero_norm: bool = False,
) -> DataFrame:
    """Assign each corpus vector to its nearest inverted list: a pure map
    (argmin distance against broadcast pivot literals) -- no shuffle, no
    iterative fit. The returned (neighbor_id, cv, cn2, list_id) frame is
    the persistable index: written bucketed by list_id (sinks/table_sink
    write_bucketed) it is re-queried by ivf_probe without re-assignment.

    ``include_zero_norm``: the squared-distance argmin itself is
    division-free, so a zero vector assigns fine; what it cannot do is be
    cosine-SCORED at probe time (undefined cosine -- the probe paths
    divide by the norm). Index builds therefore exclude zero-norm rows by
    default, while kmeans_lloyd -- a Euclidean use of the same assignment
    map, where the zero vector is a legitimate point -- opts in. Found by
    hypothesis (test_kmeans_invariant_under_partitioning): the r08
    zero-norm hardening silently dropped zero vectors from the k-means
    output until this flag restored them."""
    c = _normed(corpus, id_col, vec_col, ("neighbor_id", "cv", "cn2"),
                keep_zero=include_zero_norm)
    return c.withColumn("list_id", _nearest(pivots, F.col("cv"), F.col("cn2")))


def ivf_assign_blas(
    corpus: DataFrame,
    pivots: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_zero_norm: bool = False,
) -> DataFrame:
    """`ivf_assign` at dgemm speed -- the index BUILD side of the BLAS
    family (r09). Motivation is measured: assigning 2M x 64 vectors to 256
    lists through the zip_with fold expression costs 202 s (the r09
    crossover bench), and the cost scales with n_lists -- which is exactly
    the knob the crossover analysis says a standing index must turn up
    (n_lists >> |Q|*n_probe). A many-list index is only practical if the
    build is dgemm-priced.

    Bit-identity contract: the pivots are a `_codebook` and each row's
    list is its `_blas_exact_argmin` (dgemm candidates, exact re-score,
    lowest-index tie rule), whose exact squared norms are also the
    emitted cn2. Test-pinned against `ivf_assign` row for row.

    Plan shape: pivots broadcast (n_lists x dim doubles, bounded driver
    metadata), ONE mapInPandas pass over the corpus -- no shuffle, no join;
    partitioning is preserved so a downstream bucketed-by-list write sees
    the same rows either way."""
    import numpy as np
    import pandas as pd

    base = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    book = _codebook(np, pivots)

    def gen(batches):
        for b in batches:
            if len(b) == 0:
                continue
            A = np.array(b["cv"].tolist(), dtype=np.float64)
            best, n2 = _blas_exact_argmin(np, A, *book)
            out = pd.DataFrame(
                {
                    "neighbor_id": b["neighbor_id"].to_numpy(dtype="int64"),
                    "cv": b["cv"],
                    "cn2": n2,
                    "list_id": best.astype("int32"),
                }
            )
            if not include_zero_norm:
                out = out[out["cn2"] > 0]
            yield out

    return base.mapInPandas(
        gen, "neighbor_id long, cv array<double>, cn2 double, list_id int"
    )


# Above this list count the pivot-literal probe plan's driver-side
# compile cost (parsing an n_lists x dim double literal into the
# expression tree, then codegen) dominates probe wall-time -- measured
# FIXED ~40 s per call at n_lists=1024 regardless of |Q| (COVERAGE.md
# ANN-crossover, r09). The broadcast-join variant below keeps per-call
# cost proportional to |Q| * n_lists ROWS (distributed work), not to
# the plan-literal size, which is what a standing index turning
# n_lists up to ~10k needs.
_PROBE_JOIN_MIN_LISTS = 128


def _probe_frame_join(
    queries: DataFrame,
    pivots: list[list[float]],
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """`_probe_frame` with the pivots shipped as a broadcast DataFrame
    instead of a plan literal (r10, verdict #1): the literal path embeds
    n_lists x dim doubles in the expression tree, so every probe call
    pays a driver plan-compile that GROWS with n_lists -- the exact knob
    a standing 100M-vector index must turn up. Here the plan size is
    O(1): queries crossJoin a broadcast (list_id, pv, pn2) frame
    (n_lists rows of bounded metadata -- same scale class as the pivot
    collect itself), d2 is the identical `(qn2 + pn2) - 2*dot` fold
    arithmetic with the identical Python-float pn2 values, and the
    n_probe cut is a row_number over (d2, list_id) -- the same
    (d2, list_id) ascending order `array_sort` applies to the struct
    array, so list selection and probe_rank are bit-identical to the
    literal path (test-pinned). The rank window shuffles only
    (query_id, d2, list_id) triples; qv/qn2 are re-attached by a join
    against the |Q|-row query frame afterwards."""
    spark = queries.sparkSession
    pn2 = [float(sum(x * x for x in p)) for p in pivots]
    pivot_df = spark.createDataFrame(
        list(zip(range(len(pivots)), pivots, pn2)),
        "list_id int, pv array<double>, pn2 double",
    )
    q = _normed(queries, id_col, vec_col, ("query_id", "qv", "qn2"))
    # identical arithmetic to _d2s_to_pivots: (n2 + pn) - (2 * dot)
    d2 = F.col("qn2") + F.col("pn2") - 2 * dot(F.col("qv"), F.col("pv"))
    ranked = (
        q.crossJoin(F.broadcast(pivot_df))
        .select("query_id", d2.alias("d2"), "list_id")
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d2", "list_id")
            ),
        )
        .where(F.col("probe_rank") <= n_probe)
        .select(
            "query_id",
            "list_id",
            F.col("probe_rank").cast("int").alias("probe_rank"),
        )
    )
    return ranked.join(q, "query_id").select(
        "query_id", "qv", "qn2", "list_id", "probe_rank"
    )


def _probe_frame(
    queries: DataFrame,
    pivots: list[list[float]],
    n_probe: int,
    id_col: str,
    vec_col: str,
    via_join: bool | None = None,
) -> DataFrame:
    """Each query's n_probe nearest inverted lists as (query_id, qv, qn2,
    list_id, probe_rank) rows -- a pure map over the (small) query set.
    Extracted (r08) so the JVM probe join and the BLAS probe kernel share
    one list-selection expression and can never drift on which lists a
    query probes (the argmin arithmetic is the JVM fold in both paths).

    Auto-routes (r10) between the pivot-literal map below (cheapest at
    small n_lists: zero shuffle, one codegen'd projection) and
    `_probe_frame_join` above `_PROBE_JOIN_MIN_LISTS` lists, where the
    literal's per-call driver plan-compile (~40 s at n_lists=1024)
    dwarfs the join's tiny rank shuffle. Both branches produce
    bit-identical rows (test-pinned); `via_join` forces a branch for
    that pin.

    Zero-norm queries are excluded: undefined cosine, and ANSI mode would
    raise DIVIDE_BY_ZERO at scoring time (the corpus side is filtered the
    same way by ivf_assign)."""
    if via_join is None:
        via_join = len(pivots) > _PROBE_JOIN_MIN_LISTS
    if via_join:
        return _probe_frame_join(queries, pivots, n_probe, id_col, vec_col)
    q = _normed(queries, id_col, vec_col, ("query_id", "qv", "qn2"))
    # n_probe nearest lists per query: sort an array of (d2, list_id)
    # structs, slice, explode
    probe_structs = F.transform(
        _d2s_to_pivots(pivots, F.col("qv"), F.col("qn2")),
        lambda d, i: F.struct(
            d.alias("d2"), i.cast("int").alias("list_id")
        ),
    )
    return (
        q.select(
            "query_id", "qv", "qn2",
            F.posexplode(F.slice(F.array_sort(probe_structs), 1, n_probe))
            .alias("_pos", "_probe"),
        )
        .select(
            "query_id", "qv", "qn2",
            F.col("_probe.list_id").alias("list_id"),
            (F.col("_pos") + 1).cast("int").alias("probe_rank"),
        )
    )


def ivf_probe_pairs(
    assigned: DataFrame,
    queries: DataFrame,
    pivots: list[list[float]],
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The probe JOIN without the cosine projection: (query_id, neighbor_id,
    qv, qn2, cv, cn2, probe_rank) pairs. Split from ivf_probe so callers
    can materialize the join output with plain-column projections only --
    Spark 4.1.2's whole-stage codegen mis-binds higher-order-function
    expressions (the dot fold) placed in a broadcast-join projection when
    that join is evaluated as its own tiny plan (localCheckpoint), so the
    HOF cosine is applied AFTER materialization as a single-side map."""
    probes = _probe_frame(queries, pivots, n_probe, id_col, vec_col)
    return (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", "qv", "qn2", "cv", "cn2", "probe_rank"
        )
    )


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Cosine projection over ivf_probe_pairs output -- a pure map."""
    return pairs.select(
        "query_id", "neighbor_id",
        _cos_n2("qv", "cv", "qn2", "cn2").alias("cos"), "probe_rank",
    )


def ivf_probe(
    assigned: DataFrame,
    queries: DataFrame,
    pivots: list[list[float]],
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score a query batch against an already-assigned corpus (the output of
    ivf_assign, fresh or re-read from a bucketed table): each query probes
    its n_probe nearest lists via a broadcast equi-join on list_id -- the
    corpus side is never shuffled or re-assigned."""
    return score_pairs(
        ivf_probe_pairs(assigned, queries, pivots, n_probe, id_col, vec_col)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: window the scored probe stream down to k per
    query (see ivf_scored for the index construction and scale notes)."""
    return _topk_window(
        ivf_scored(corpus, queries, n_lists, n_probe, id_col, vec_col), k
    )


def ivf_probe_topk_blas(
    assigned: DataFrame,
    queries: DataFrame,
    pivots: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe at dgemm speed -- the BLAS treatment of the probe scoring
    that the 200k ANN comparison named as IVF's natural extension: the JVM
    probe path streams every same-list (query, neighbor) pair through the
    fold cosine and a rank window, which at tens of millions of vectors is
    the same per-row bottleneck `brute_force_topk_blas` removed from the
    exact baseline. Bit-identical to
    ivf_topk(...) == window(ivf_probe(assigned, ...)) (test-pinned):

    - LIST SELECTION is the shared `_probe_frame` JVM expression (the same
      argmin fold arithmetic as the probe join -- cannot drift); its
      bounded |Q| x n_probe output is collected and broadcast as a per-list
      query pack.
    - SCORING mirrors brute_force_topk_blas: one mapInPandas pass over the
      assigned corpus (fresh from ivf_assign or re-read from a bucketed
      list_id layout -- the input partitioning is preserved, so a bucketed
      index is scored in place with zero shuffle), each Arrow batch
      grouped by list_id and scored against that list's probing queries in
      one dgemm; `_topk_candidates` keeps each (query, batch)'s
      margin-buffered candidate cut, re-scored exactly -- bit-identical
      cosines to the JVM fold.
    - Only ~(#batches x |Q| x k) candidate rows reach the final JVM rank
      window (`_topk_window`, as ivf_topk).

    Self-matches are excluded (as the probe join does); zero-norm rows are
    absent on both sides (ivf_assign / _probe_frame filter them)."""
    import numpy as np
    import pandas as pd

    spark = assigned.sparkSession
    ppdf = (
        _probe_frame(queries, pivots, n_probe, id_col, vec_col)
        .select("query_id", "qv", "qn2", "list_id")
        .toPandas()
    )
    if len(ppdf) == 0:
        return _topk_window(
            _empty(assigned, "neighbor_id", "query_id", "neighbor_id", "cos"), k)
    # qn2 > 0 is guaranteed by _probe_frame's filter
    by_list = {
        int(lid): _pack(np, grp["query_id"], grp["qv"], grp["qn2"])
        for lid, grp in ppdf.groupby("list_id")
    }
    bc = spark.sparkContext.broadcast(by_list)

    def gen(batches):
        packs = bc.value
        for b in batches:
            # a fresh ivf_assign never emits zero-norm rows, but a standing
            # index written before the r08 exclusion may: their NaN scores
            # are never candidates
            out = _topk_candidates(np, pd, [
                (packs[int(lid)],
                 _pack(np, sub["neighbor_id"], sub["cv"], sub["cn2"]))
                for lid, sub in b.groupby("list_id") if int(lid) in packs
            ], k)
            if out is not None:
                yield out

    # JVM-side filter to the probed lists BEFORE the Arrow transfer:
    # only ~n_probe/n_lists of the corpus crosses into Python, and on
    # a list_id-partitioned/bucketed index layout this prunes whole
    # files (codegen isin over a bounded literal set)
    cand = (
        assigned.where(F.col("list_id").isin(sorted(by_list)))
        .select("neighbor_id", "cv", "cn2", "list_id")
        .mapInPandas(gen, "query_id long, neighbor_id long, cos double")
    )
    return _topk_window(cand, k)


def ivf_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ivf_topk with the BLAS probe kernel: same index construction
    (ivf_pivots + ivf_assign), dgemm probe scoring. Bit-identical to
    ivf_topk (test-pinned); see ivf_probe_topk_blas."""
    pivots = ivf_pivots(corpus, n_lists, id_col, vec_col)
    if not pivots:
        return _topk_window(
            _empty(queries, id_col, "query_id", "neighbor_id", "cos"), k)
    assigned = ivf_assign(corpus, pivots, id_col, vec_col)
    return ivf_probe_topk_blas(
        assigned, queries, pivots, k, n_probe, id_col, vec_col
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only within the query's SRP bucket.
    Recall < 1 by design; the candidate set per query shrinks by ~2^nbits.
    At scale, corpus bucketing is a one-off shuffle (or a bucketed table
    layout) reused by every query batch."""
    planes = _hyperplanes(dim, nbits)
    c = _normed(corpus, id_col, vec_col, ("neighbor_id", "cv", "cn2"))
    q = _normed(queries, id_col, vec_col, ("query_id", "qv", "qn2"))
    scored = (
        c.withColumn("bucket", srp_bucket(F.col("cv"), planes))
        .join(F.broadcast(
            q.withColumn("bucket", srp_bucket(F.col("qv"), planes))), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                _cos_n2("qv", "cv", "qn2", "cn2").alias("cos"))
    )
    return _topk_window(scored, k)


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over an embedding column, returning the final
    (id, cluster_id) assignment -- the semantic-clustering step a corpus
    curation pipeline runs to balance topic mixtures or spot degenerate
    content clusters before training.

    Fully deterministic, so an exact SQL oracle can mirror it (the same
    md5-derived-seed idea as the IVF/LSH family): initial centroids are the
    md5-ordered pivot sample (ivf_pivots), the assignment step is the
    argmin-distance map against broadcast centroid literals (ivf_assign --
    no shuffle, no join), and each mean update routes per-dimension sums
    through DECIMAL(18,6) so centroid coordinates are bit-identical across
    engines regardless of row order. A cluster that loses all members
    keeps its previous centroid (mirrored as a COALESCE in the oracle).

    Scale shape (100 TB): per iteration, one scan + map for assignment,
    then posexplode -> partial-aggregated groupBy(cluster, dim) whose
    exchange carries at most k*dim rows PER PARTITION (the map-side
    combine collapses everything first). Driver state is k*dim doubles per
    round -- the same bounded-metadata contract as ivf_pivots. iters is a
    fixed small constant: this is the "few Lloyd rounds on a deterministic
    seed" curation recipe, not an until-convergence fit (which would be
    data-dependent and oracle-hostile)."""
    cents = kmeans_fit(corpus, k, iters, id_col, vec_col)
    if not cents:
        return _empty(corpus, id_col, id_col, "cluster_id")
    final = ivf_assign(corpus, cents, id_col, vec_col,
                       include_zero_norm=True)
    return final.select(
        F.col("neighbor_id").alias(id_col),
        F.col("list_id").alias("cluster_id"),
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The fit half of kmeans_lloyd, extracted (r10) so product
    quantization can train one codebook per subspace: returns the
    centroids after `iters` assign+update rounds from the deterministic
    md5-ordered seed (empty list for an empty corpus). kmeans_lloyd is
    exactly kmeans_fit + one final assignment map, so the two can never
    drift.

    The Lloyd loop itself is `pq_fit_multi`'s: k-means is its one-variant,
    one-subspace case (m=1, the subspace is the whole vector) on the JVM
    assignment route -- same argmin expression as ivf_assign, same
    decimal-exact mean aggregate, and no size-gate count job. A corpus
    smaller than k seeds fewer centroids (the pivot LIMIT under-fills);
    the fit iterates over what exists -- the oracle's LIMIT k does the
    same."""
    seed = ivf_pivots(corpus, k, id_col, vec_col)
    books = pq_fit_multi([corpus], [seed], m=1, k=k, iters=iters,
                         dim=len(seed[0]) if seed else 0, vec_col=vec_col,
                         via_blas=False)[0]
    return books[0] if books else []


def pq_fit(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    via_blas: bool | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebook training (Jegou et al., "Product
    Quantization for Nearest Neighbor Search"): split the vector into m
    contiguous subspaces of dim/m dimensions and fit an independent
    k-centroid codebook per subspace with the SAME deterministic Lloyd
    recipe as kmeans_fit (md5-ordered seed, decimal-exact mean updates)
    -- so every codebook is exactly SQL-mirrorable. Returns
    [m][k][dim/m] floats: m*k*(dim/m) = k*dim doubles of bounded driver
    metadata, the same contract as ivf_pivots.

    At 100 TB this is the memory story for a standing ANN index: codes
    are m bytes per vector (k<=256) against 4*dim bytes of float32 --
    a 64x compression at m=4, dim=64 -- and ADC scoring reads only codes
    plus a k*m lookup structure.

    FUSED fit (3 Spark jobs total instead of 3*m): the md5-ordered pivot
    sample is subspace-independent, so ONE full-vector collect seeds every
    codebook by slicing driver-side; each Lloyd round then computes ALL
    m*k*(dim/m) means in one job -- per row, m argmin codes + an explode
    to (subspace, cid, dim, x), one hash aggregate keyed by m*k*(dim/m)
    groups. Per-group decimal sums are order-independent, so the fused
    means are bit-identical to m independent per-subspace fits (the
    oracle unrolls the per-subspace form; test-pinned). The rounds are
    `pq_fit_multi`'s over this one corpus.

    Assignment route (r10): the JVM argmin is a zip_with-of-folds
    higher-order expression Spark evaluates INTERPRETED per row -- fine
    below _PQ_BLAS_MIN_ROWS (and the plan shape the fixture oracles pin),
    but ~40 s of fit at 200k x 64 (sf10); above the gate each round's
    codes come from the dgemm kernel (_blas_exact_argmin, emitted
    long-form (s, cid, sv)) and ONLY the decimal mean aggregate stays in
    the JVM -- means bit-identical on either route (test-pinned), because
    the decimal sum never leaves Spark."""
    return pq_fit_multi([corpus], [ivf_pivots(corpus, k, id_col, vec_col)],
                        m, k, iters, dim, vec_col, via_blas)[0]


def _pq_subspaces(
    frame: DataFrame,
    books: list[list[list[float]]],
    v: Column,
    keep: tuple[str, ...] = (),
) -> tuple[DataFrame, list[Column], list[Column]]:
    """``frame`` projected to ``keep`` plus each subspace's slice of the
    array<double> vector ``v`` and its squared norm, as columns computed
    once per row; returns the frame and references to both column lists.
    `_nearest` needs them as references: passed as expressions they are
    re-evaluated once per codeword inside its zip_with lambda (measured at
    sf0.1 on a 4-core host: the JVM pq_fit 4.0 s -> 2.4 s)."""
    w = len(books[0][0])
    sv = [f"_sv{s}" for s in range(len(books))]
    n2 = [f"_n2{s}" for s in range(len(books))]
    subs = frame.select(
        *keep, *[F.slice(v, s * w + 1, w).alias(c) for s, c in enumerate(sv)]
    ).select(*keep, *sv,
             *[dot(F.col(c), F.col(c)).alias(n) for c, n in zip(sv, n2)])
    return subs, [F.col(c) for c in sv], [F.col(n) for n in n2]


def _pq_assign_long(
    corpus: DataFrame,
    books: list[list[list[float]]],
    vec_col: str,
    via_blas: bool,
) -> DataFrame:
    """One (s, cid, sv) long-form assignment pass -- the Lloyd round's
    input, on either the dgemm or the JVM-expression route (bit-identical
    codes by the _blas_exact_argmin contract, test-pinned)."""
    if via_blas:
        return _pq_assign_long_blas(corpus, books, vec_col)
    subs, sv, n2 = _pq_subspaces(corpus, books, _as_double(vec_col))
    rows = [
        F.struct(
            F.lit(s).alias("s"),
            _nearest(book, sv[s], n2[s]).alias("cid"),
            sv[s].alias("sv"),
        )
        for s, book in enumerate(books)
    ]
    return (
        subs.select(F.explode(F.array(*rows)).alias("e"))
        .select("e.s", "e.cid", "e.sv")
    )


def pq_fit_multi(
    corpora: list[DataFrame],
    seeds: list[list[list[float]]],
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    via_blas: bool | None = None,
) -> list[list[list[list[float]]]]:
    """Fit SEVERAL PQ codebooks in lockstep -- one Spark job per Lloyd
    round for ALL variants instead of one per (variant, round)
    (OPTIMIZATION r15: the dim-alloc entry's two sequential fits were
    ~8 Spark jobs of mostly fixed per-job cost at fixture scale).

    Bit-identical to running pq_fit per corpus with the same seeds
    (test-pinned): each fused round tags every variant's long-form
    assignment rows with the variant index, unions them, and computes all
    means in ONE decimal-exact aggregate -- the (var, s, cid, dim) groups
    are disjoint across variants and per-group decimal sums are
    order-independent, so the fused means equal the sequential ones bit
    for bit. `seeds` are each corpus's pivot rows (what ivf_pivots would
    return -- callers that know one corpus is a column permutation of
    another can derive the second seed driver-side and skip its sample
    job). An empty seed yields [] for that variant, matching pq_fit.

    `k` bounds the codebook size each seed may carry (ValueError -- the
    actual size is len(seed), matching pq_fit where a short sample yields
    a short book). `via_blas`, when unset, is decided ONCE from
    corpora[0]'s row count and applied to every variant (ADVICE r15): the
    lockstep design runs all variants in one job per round, so one kernel
    route keeps that job homogeneous; the fixture-scale caller fits the
    same corpus under two allocations, so the counts agree by
    construction. Mixed-size corpora straddling _PQ_BLAS_MIN_ROWS would
    take one route for all -- results identical either way (the kernels
    are bit-identical by contract), only per-variant plan shape differs;
    pass via_blas explicitly to pin it."""
    import functools

    w = dim // m
    for seed in seeds:
        if len(seed) > k:
            raise ValueError(
                f"pq_fit_multi: seed has {len(seed)} rows, more than the "
                f"codebook size k={k}"
            )
    books_per: list[list[list[list[float]]] | None] = [
        (
            [[p[s * w:(s + 1) * w] for p in seed] for s in range(m)]
            if seed else None
        )
        for seed in seeds
    ]
    live = [i for i, b in enumerate(books_per) if b is not None]
    if via_blas is None and live:
        via_blas = corpora[0].count() > _PQ_BLAS_MIN_ROWS
    for _ in range(iters if live else 0):
        tagged = [
            _pq_assign_long(corpora[i], books_per[i], vec_col, via_blas)
            .withColumn("var", F.lit(i))
            for i in live
        ]
        union = functools.reduce(lambda a, b: a.unionByName(b), tagged)
        mean_rows = (
            union
            .select("var", "s", "cid", F.posexplode("sv").alias("dim", "x"))
            .groupBy("var", "s", "cid", "dim")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("mu")
            )
            .collect()  # bounded: at most |variants|*k*dim rows
        )
        means: dict[tuple[int, int, int], list[float]] = {}
        for r in mean_rows:
            means.setdefault((r.var, r.s, r.cid), [0.0] * w)[r.dim] = r.mu
        for i in live:
            kk = len(seeds[i])
            books_per[i] = [
                [
                    means.get((i, s, c), books_per[i][s][c])
                    for c in range(kk)
                ]
                for s in range(m)
            ]
    return [b if b is not None else [] for b in books_per]


# Above this corpus row count, PQ encoding/fit routes to the dgemm kernel:
# the JVM argmin is a higher-order-function expression (zip_with of folds),
# which Spark evaluates INTERPRETED per row. Measured: the dgemm path wins
# from ~2k rows already (fit 5.4 -> 2.5 s, encode 1.3 -> 0.2 s at 2k x 64;
# 58 -> 15 s at 200k x 64), because the JVM HOF cost is mostly fixed
# (compile + interpreted-eval setup). The gate keeps the correctness
# fixtures -- `embeddings` has 500 rows at sf0.001 and sf0.01 -- on the
# pure-map JVM expression whose plan shape the registered oracles pin, so
# the sf0.01 oracle sweep only ever takes the JVM side; sf0.1 (2,000 rows)
# and up, bench.py's scale, take the dgemm side. The JVM side is kept for
# that fixture plan shape only, and is unmeasured at 500 rows.
_PQ_BLAS_MIN_ROWS = 512


def pq_codes_blas(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """pq_codes at dgemm speed -- one mapInPandas pass, m small dgemms per
    Arrow batch, bit-identical codes by the candidate+exact-rescore
    contract (_blas_exact_argmin; test-pinned against pq_codes row for
    row). `extra_cols` are carried through untouched (the IVF+PQ
    composition keeps list_id beside the codes). No shuffle, no join;
    partitioning preserved."""
    import numpy as np
    import pandas as pd

    extra_cols = list(extra_cols or [])
    w = len(books[0][0])
    cbs = [_codebook(np, b) for b in books]
    base = corpus.select(
        F.col(id_col), _as_double(vec_col).alias("_v"), *extra_cols
    )

    def gen(batches):
        for b in batches:
            if len(b) == 0:
                continue
            A = np.array(b["_v"].tolist(), dtype=np.float64)
            out = {id_col: b[id_col].to_numpy()}
            for s, cb in enumerate(cbs):
                codes, _ = _blas_exact_argmin(np, A[:, s * w:(s + 1) * w], *cb)
                out[f"code_{s}"] = codes.astype("int32")
            for c in extra_cols:
                out[c] = b[c]
            yield pd.DataFrame(out)

    fields = {f.name: f.dataType.simpleString() for f in corpus.schema.fields}
    schema = ", ".join(
        [f"{id_col} {fields[id_col]}"]
        + [f"code_{s} int" for s in range(len(books))]
        + [f"{c} {fields[c]}" for c in extra_cols]
    )
    return base.mapInPandas(gen, schema)


def _pq_assign_long_blas(
    corpus: DataFrame,
    books: list[list[list[float]]],
    vec_col: str,
) -> DataFrame:
    """One dgemm-assignment pass emitting (s, cid, sv) long-form rows --
    the fit's per-round input above the BLAS gate. Codes follow the
    _blas_exact_argmin contract, so they equal the JVM expression's codes
    bit for bit; subvectors are copied verbatim."""
    import numpy as np
    import pandas as pd

    w = len(books[0][0])
    cbs = [_codebook(np, b) for b in books]
    base = corpus.select(_as_double(vec_col).alias("_v"))

    def gen(batches):
        for b in batches:
            if len(b) == 0:
                continue
            A = np.array(b["_v"].tolist(), dtype=np.float64)
            frames = []
            for s, cb in enumerate(cbs):
                sub = A[:, s * w:(s + 1) * w]
                codes, _ = _blas_exact_argmin(np, sub, *cb)
                frames.append(pd.DataFrame({
                    "s": np.full(len(sub), s, dtype="int32"),
                    "cid": codes.astype("int32"),
                    "sv": list(sub),
                }))
            yield pd.concat(frames, ignore_index=True)

    return base.mapInPandas(gen, "s int, cid int, sv array<double>")


def _nearest_once(book: list[list[float]], vec: Column, n2: Column) -> Column:
    """`_nearest` with ``vec`` and ``n2`` bound once per row as the fields
    of a one-element array's lambda variable. Projecting them as columns
    is not enough where nothing else reads them: Catalyst's CollapseProject
    inlines a column its consumer references once, and inside the zip_with
    lambda that one reference is evaluated once per codeword."""
    return F.transform(
        F.array(F.struct(vec.alias("v"), n2.alias("n2"))),
        lambda x: _nearest(book, x["v"], x["n2"]),
    )[0]


def pq_encode(
    frame: DataFrame,
    books: list[list[list[float]]],
    v: Column,
    keep: tuple[str, ...],
) -> DataFrame:
    """``frame``'s ``keep`` columns and one argmin codeword id per subspace
    of the array<double> vector ``v`` (code_0..code_{m-1}) -- shared by
    pq_codes and the IVF+PQ composition so the encode rule can never
    drift."""
    subs, sv, n2 = _pq_subspaces(frame, books, v, keep)
    return subs.select(*keep, *[
        _nearest_once(book, sv[s], n2[s]).alias(f"code_{s}")
        for s, book in enumerate(books)
    ])


def pq_codes(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest-codeword ids: one
    pure map (m argmin expressions against codebook literals -- the
    ivf_assign argmin per subspace, zero-norm included: PQ is Euclidean).
    Returns (id, code_0..code_{{m-1}}); no shuffle, scan-speed."""
    return pq_encode(corpus, books, _as_double(vec_col), (id_col,))


def pq_codes_auto(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Route encoding by corpus size: the JVM expression map below
    _PQ_BLAS_MIN_ROWS (the fixture-oracle plan shape), the dgemm kernel
    above it (bit-identical codes -- test-pinned)."""
    if corpus.count() > _PQ_BLAS_MIN_ROWS:
        return pq_codes_blas(corpus, books, id_col, vec_col)
    return pq_codes(corpus, books, id_col, vec_col)


def greedy_dim_allocation(variances: list[float], m: int) -> list[list[int]]:
    """The production rule ann_pq_dim_alloc_recall's docstring names: given
    MEASURED per-dimension variances (embedding_dim_stats emits the stds;
    square them), allocate dimensions to m equal-size PQ subspaces so the
    variance mass balances -- greedy largest-first into the subspace with
    the smallest current log-variance product (the balanced-product
    objective of Ge et al.'s eigenvalue allocation, applied to an
    axis-aligned spectrum). Deterministic: stable descending variance
    order (ties by dim index), subspace ties by index. Returns m lists of
    dim indices, each sorted ascending -- the layout
    `allocation_permutation` turns into the frame permutation the
    registered query applies.

    Driver-side metadata work: 64 floats in, 64 ints out; the allocation
    is chosen once at index build and lives beside the codebooks."""
    import math

    d = len(variances)
    if m <= 0 or d % m:
        raise ValueError(f"cannot split {d} dims into {m} equal subspaces")
    cap = d // m
    order = sorted(range(d), key=lambda j: (-variances[j], j))
    # Work on logs SHIFTED to be non-negative (subtract the min log): a
    # global rescale of the variances multiplies every bucket's final
    # product by the same factor when capacities are equal, so relative
    # balance is unchanged -- and it removes the herding failure of raw
    # log-products, where every sub-1 variance ADDED to a bucket made that
    # bucket look smaller and attract the next item too. Ties break by
    # fill count then index, so runs of equal variances (plateaus) deal
    # out round-robin instead of piling into bucket 0.
    logs = [math.log(max(v, 1e-300)) for v in variances]
    lo = min(logs)
    load = [0.0] * m
    buckets: list[list[int]] = [[] for _ in range(m)]
    for j in order:
        s = min(
            (s for s in range(m) if len(buckets[s]) < cap),
            key=lambda s: (load[s], len(buckets[s]), s),
        )
        buckets[s].append(j)
        load[s] += logs[j] - lo
    return [sorted(b) for b in buckets]


def choose_n_probe(
    curve: list[tuple[int, float]], target_recall: float
) -> int:
    """The production knob VERDICT r11 #5 names: given a MEASURED
    recall-vs-n_probe curve for a standing IVF index (as
    tools/bench_ann_crossover.py --probe-sweep emits), pick the smallest
    n_probe whose measured recall meets the target -- probe cost grows
    with n_probe (more lists scanned), so the smallest sufficient value
    is the cheapest operating point. If no measured point reaches the
    target, return the highest-recall point's n_probe (ties to the
    smaller n_probe) -- the best the index can do without a rebuild
    (more lists / better centroids / exact re-rank are the next knobs).

    Driver-side metadata work like greedy_dim_allocation: a handful of
    (int, float) pairs in, one int out; the curve is measured once at
    index build and the choice lives beside the index metadata.
    Monotonicity is NOT assumed (measured curves wobble at small |Q|);
    every point is inspected."""
    if not curve:
        raise ValueError("empty recall curve")
    ok = [(n, r) for n, r in curve if r >= target_recall]
    if ok:
        return min(ok)[0]
    best = max(r for _, r in curve)
    return min(n for n, r in curve if r == best)


def allocation_permutation(alloc: list[list[int]]) -> list[int]:
    """Flatten an allocation into the vector permutation under which
    CONTIGUOUS subspace slicing realizes it (position p of the permuted
    vector holds original dim perm[p]) -- the shape pq_fit/pq_codes
    consume without modification."""
    return [j for bucket in alloc for j in bucket]


def route_ann(
    n_queries: int,
    target_recall: float,
    curve: list[tuple[int, float]],
    cost: dict | None = None,
):
    """Batch-size-aware ANN routing (VERDICT r12 #6): 'exact' or
    ('ivf', n_probe), from the measured operating points rather than a
    heuristic. The r13 20M x 64 sweep measured recall-vs-n_probe to be
    batch-size-INDEPENDENT (recall varies <0.02 across |Q|=10/100/1000 at
    fixed n_probe) while COST is strongly batch-size-dependent: probing
    |Q| query sets touches most of the index repeatedly, so the standing
    IVF index wins only small batches (5x cheaper than exact at |Q|=10 /
    0.94 recall) and exact dgemm wins from |Q|~100 up (7.7x cheaper at
    |Q|=1000 / 0.94 recall). tools/bench_ann_crossover.py emits both the
    curve and, optionally, per-batch-size cost rows.

    `cost`, when given, maps batch size -> {"exact": sec, n_probe: sec}
    from the same sweep. Only rows that contain BOTH the 'exact' entry and
    the target n_probe's entry are usable (ADVICE r13: partial rows must
    not silently discard the caller's measurements); the router linearly
    interpolates both costs between the two usable rows bracketing
    n_queries (clamping outside the measured range) and compares. Without
    any usable cost row it falls back to the measured crossover default:
    IVF below |Q|=100, exact at or above. Driver-side metadata arithmetic
    either way -- ints and floats in, one decision out, stored beside the
    index like choose_n_probe's answer."""
    n_probe = choose_n_probe(curve, target_recall)
    if cost:
        usable = sorted(
            s for s, row in cost.items()
            if row.get("exact") is not None and row.get(n_probe) is not None
        )
        if usable:
            lo = max((s for s in usable if s <= n_queries), default=usable[0])
            hi = min((s for s in usable if s >= n_queries), default=usable[-1])
            if lo == hi:
                exact_s, probe_s = cost[lo]["exact"], cost[lo][n_probe]
            else:
                w = (n_queries - lo) / (hi - lo)
                exact_s = cost[lo]["exact"] * (1 - w) + cost[hi]["exact"] * w
                probe_s = cost[lo][n_probe] * (1 - w) + cost[hi][n_probe] * w
            return "exact" if exact_s <= probe_s else ("ivf", n_probe)
    return ("ivf", n_probe) if n_queries < 100 else "exact"
