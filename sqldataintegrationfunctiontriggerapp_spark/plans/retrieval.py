"""Retrieval / association-mining queries over `documents`: BM25 top-k
document retrieval (the inverted-index ranking an LLM-data pipeline runs
for benchmark decontamination lookups, seed-document expansion, and RAG
evaluation corpora) and A-priori frequent term-pair mining (co-occurrence
statistics for vocabulary curation). Both are pure equi-join / aggregate
plans with exact DuckDB oracles.

Reference scope note: the reference app (Function1.cs, EntityFunctions.cs)
only forwards rows; retrieval is part of the mandated analytics surface on
the `documents` fixture, same as the text/cleaning families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.functions import text as TX
from sqldataintegrationfunctiontriggerapp_spark.plans.registry import register
from sqldataintegrationfunctiontriggerapp_spark.plans.text import _docs, _TOKS

# BM25 parameters (Robertson-Sparck Jones defaults). Literal doubles are
# CAST(... AS DOUBLE) in the oracle so DuckDB does not parse them as
# DECIMAL and drift: both engines then hold the identical binary double.
_K1 = "2.2"   # k1 + 1 as ONE literal (a computed 1.2+1 could round off)
_K1_RAW = "1.2"
_B = "0.75"
_QUERY_MOD = 97   # doc_id % _QUERY_MOD == 0 -> query document
_QUERY_PREFIX = 8  # query terms = distinct tokens among the first 8
_TOPK = 5

# The BM25 CTE chain (through the per-(query, doc) scored table), shared
# verbatim by the bm25_topk oracle and the hybrid_rrf_fusion oracle so the
# two can never drift.
_BM25_CTES = f"""toks AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    corpus AS (
        SELECT doc_id, UNNEST(tk) AS term, len(tk) AS dl
        FROM toks WHERE doc_id % {_QUERY_MOD} <> 0
    ),
    tf AS (
        SELECT doc_id, dl, term, COUNT(*) AS tf
        FROM corpus GROUP BY doc_id, dl, term
    ),
    tfd AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(CAST(len(tk) AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) AS avgdl
        FROM toks WHERE doc_id % {_QUERY_MOD} <> 0
    ),
    qterms AS (
        SELECT DISTINCT doc_id AS query_id, UNNEST(tk[1:{_QUERY_PREFIX}]) AS term
        FROM toks WHERE doc_id % {_QUERY_MOD} = 0
    ),
    scored AS (
        SELECT q.query_id, t.doc_id,
               CAST(SUM(CAST(
                   ((s.n_docs - t.df + CAST(0.5 AS DOUBLE))
                      / (t.df + CAST(0.5 AS DOUBLE)))
                   * ((t.tf * CAST({_K1} AS DOUBLE))
                      / (t.tf + CAST({_K1_RAW} AS DOUBLE)
                           * (CAST(1 AS DOUBLE) - CAST({_B} AS DOUBLE)
                              + CAST({_B} AS DOUBLE) * t.dl / s.avgdl)))
               AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM qterms q
        JOIN tfd t USING (term)
        CROSS JOIN stats s
        GROUP BY q.query_id, t.doc_id
    )"""


@register(
    "bm25_topk",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM scored
    ) WHERE rnk <= {_TOPK}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 retrieval: every doc_id % 97 == 0 document is a query
    (its terms: the distinct tokens among its first 8 tokens), ranked
    against the rest of the corpus through the standard inverted-index
    join -- the retrieval shape behind decontamination lookups and
    seed-document expansion in a training-data pipeline.

    Scoring is BM25 with a RATIONAL idf, (N - df + 0.5)/(df + 0.5), i.e.
    the argument of the classic log-idf without the log: log is
    transcendental (Spark and DuckDB libm results may differ in the last
    ulp, breaking the value hash), and since log is monotone the PER-TERM
    document ranking is unchanged; multi-term score sums weight high-idf
    terms more sharply than log-BM25 does -- documented, deterministic,
    hash-exact. The tf-saturation factor tf*(k1+1)/(tf + k1*(1-b+b*dl/
    avgdl)) is the standard rational form (k1=1.2, b=0.75); avgdl goes
    through the DECIMAL accumulator so both engines agree bit-for-bit, and
    the per-(query,doc) term-score sum is decimal-cast for order
    independence.

    Plan shape (100 TB): tf is one explode + hash aggregate (the inverted
    index, term-keyed); df rides a COUNT window over the SAME term-keyed
    shuffle the query join needs (a separate df aggregate branch would
    re-evaluate the tf subtree and add a second sort-merge join); the
    query-term join fans each query term out to its postings --
    merge-hinted because both sides descend from explodes whose Catalyst
    size estimate is the pre-explode bytes (the sf10 auto-broadcast OOM
    class, COVERAGE r10); the 1-row stats frame is a broadcast crossJoin
    (allowlisted 1-row BNLJ). Per-query cost scales with posting-list
    length, never corpus size; top-k is a per-query window over the
    |queries|x|matched docs| scored table."""
    scored = _bm25_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= _TOPK)
        .select("query_id", "doc_id", "score", "rnk")
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(query, doc) BM25 scored table -- shared by bm25_topk and
    hybrid_rrf_fusion, memoized per session+sf_dir (OPTIMIZATION r16,
    VERDICT r15 #3): both entries windowed the SAME scored table but each
    rebuilt the full inverted-index subtree (explode + tf aggregate + df
    window + postings join -- the expensive corpus passes; measured
    ~2.5-3 s of hybrid_rrf_fusion's 5.2 s bench cost was this rebuild).
    One truthful-checkpointed build per session, same ledger/eviction
    contract as _ivf_assigned_16; the first consumer pays the build inside
    its timed region. The table is |queries| x |matched docs| rows --
    bounded by the query-panel fan-out, never the corpus -- and
    truthful_ckpt degrades to local parquet if it ever outgrows the heap
    share. Plan shape of the BUILD (merge-hinted postings joins, 1-row
    stats broadcast) is unchanged and pinned by
    test_bm25_is_postings_join_never_pairwise against _bm25_scored_plan."""
    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        session_stage,
        truthful_ckpt,
    )

    return session_stage(
        spark, sf_dir, "bm25_scored",
        lambda: truthful_ckpt(_bm25_scored_plan(spark, sf_dir)),
    )


def _bm25_scored_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy (unmaterialized) scored-table plan -- the shape the plan
    tests lint (plan shape documented on bm25_topk)."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", TX.tokens("text").alias("tk"))
    is_query = F.col("doc_id") % _QUERY_MOD == 0
    corpus = (
        toks.where(~is_query)
        .select("doc_id", F.explode("tk").alias("term"), F.size("tk").alias("dl"))
    )
    tf = corpus.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df folded into a window over the term-shuffled postings (r10): a
    # separate df aggregate branch re-evaluates the tf subtree and adds a
    # second term-keyed sort-merge join; COUNT over (PARTITION BY term)
    # reuses the single shuffle the qterms join needs anyway
    tfd = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    stats = toks.where(~is_query).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size("tk").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    qterms = (
        toks.where(is_query)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("tk", 1, _QUERY_PREFIX)).alias("term"),
        )
        .distinct()
    )
    k1 = F.lit(float(_K1))
    k1_raw = F.lit(float(_K1_RAW))
    b = F.lit(float(_B))
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    sat = (F.col("tf") * k1) / (
        F.col("tf")
        + k1_raw * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl"))
    )
    # merge hint: qterms and the postings both descend from token
    # explodes, so static size estimates are the pre-explode document
    # bytes -- the auto-broadcast OOM class the sf10 spot-bench caught
    scored = (
        qterms.join(tfd.hint("merge"), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum((idf * sat).cast("decimal(18,6)")).cast("double").alias("score"))
    )
    return scored


_MINSUP_NUM = 1  # support threshold as a fraction: sup * DEN >= N * NUM
_MINSUP_DEN = 2  # (integer compare -- no float-boundary ambiguity)


@register(
    "frequent_term_pairs",
    oracle=f"""
    WITH baskets AS (
        SELECT DISTINCT doc_id, UNNEST({_TOKS}) AS term FROM documents
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM baskets),
    df AS (SELECT term, COUNT(*) AS df FROM baskets GROUP BY term),
    l1 AS (
        SELECT b.doc_id, b.term, d.df, n.n_docs
        FROM baskets b JOIN df d USING (term) CROSS JOIN n
        WHERE d.df * {_MINSUP_DEN} >= n.n_docs * {_MINSUP_NUM}
    ),
    pairs AS (
        SELECT a.term AS t1, c.term AS t2,
               CAST(COUNT(*) AS BIGINT) AS support,
               MAX(a.df) AS df1, MAX(c.df) AS df2, MAX(a.n_docs) AS n_docs
        FROM l1 a JOIN l1 c ON a.doc_id = c.doc_id AND a.term < c.term
        GROUP BY a.term, c.term
    )
    SELECT t1, t2, support,
           CAST(support AS DOUBLE) / n_docs AS support_frac,
           CAST(support * n_docs AS DOUBLE)
             / CAST(df1 * df2 AS DOUBLE) AS lift
    FROM pairs
    WHERE support * {_MINSUP_DEN} >= n_docs * {_MINSUP_NUM}
    """,
)
def frequent_term_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori frequent 2-itemset mining over per-document token baskets:
    term pairs co-occurring in >= 50% of documents, with support and lift
    -- the co-occurrence statistics a vocabulary-curation / topic-drift
    audit runs over a training corpus.

    The A-priori prune IS the scale story: a pair can only be frequent if
    both terms are (downward closure), so the per-document self-join runs
    over baskets already semi-joined to the frequent-singleton table L1 --
    the candidate-pair explosion is bounded by (frequent terms per doc)^2,
    not (vocabulary)^2, and the support threshold is the knob that keeps
    that bounded at 100 TB (a production run adds a per-basket top-N cap
    for adversarially long documents; the fixture's baskets are ~23
    tokens, so the uncapped form is the honest registered shape).

    Support compares are integral (sup*2 >= N) -- no float-boundary
    ambiguity between engines; lift = sup*N/(df1*df2) is a single double
    division of exact bigint products (magnitudes ~1e7 at sf1 -- far
    inside both engines' exact-int range). Plan: one distinct (doc,term)
    aggregate, one df aggregate, the L1 semi-join (merge-hinted:
    explode-descended sides), a doc_id-keyed self-equi-join, and one pair
    aggregate. The 1-row corpus-size frame is a broadcast crossJoin
    (allowlisted 1-row BNLJ)."""
    d = _docs(spark, sf_dir)
    baskets = d.select("doc_id", F.explode(TX.tokens("text")).alias("term")).distinct()
    n = baskets.agg(F.count_distinct("doc_id").alias("n_docs"))
    df_ = baskets.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Materialize L1 once (OPTIMIZATION r16, the triples fix applied to
    # the pair entry it came from): both self-join sides re-ran the
    # tokenize+explode+distinct+df chain (plan audit: 30 Exchanges). The
    # session stage memoizes it per sf_dir and hands cleanup to the ledger.
    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        session_stage,
        truthful_ckpt,
    )

    l1 = session_stage(
        spark, sf_dir, "frequent_pairs_l1",
        lambda: truthful_ckpt(
            baskets.join(df_.hint("merge"), "term")
            .crossJoin(F.broadcast(n))
            .where(F.col("df") * _MINSUP_DEN >= F.col("n_docs") * _MINSUP_NUM)
        ),
    )
    a = l1.select(
        "doc_id",
        F.col("term").alias("t1"),
        F.col("df").alias("df1"),
        "n_docs",
    )
    c = l1.select("doc_id", F.col("term").alias("t2"), F.col("df").alias("df2"))
    pairs = (
        a.join(c.hint("merge"), ["doc_id"])
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.max("df1").alias("df1"),
            F.max("df2").alias("df2"),
            F.max("n_docs").alias("n_docs"),
        )
    )
    return pairs.where(
        F.col("support") * _MINSUP_DEN >= F.col("n_docs") * _MINSUP_NUM
    ).select(
        "t1",
        "t2",
        "support",
        (F.col("support").cast("double") / F.col("n_docs")).alias("support_frac"),
        (
            (F.col("support") * F.col("n_docs")).cast("double")
            / (F.col("df1") * F.col("df2")).cast("double")
        ).alias("lift"),
    )


@register(
    "frequent_term_triples",
    oracle=f"""
    WITH baskets AS (
        SELECT DISTINCT doc_id, UNNEST({_TOKS}) AS term FROM documents
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM baskets),
    df AS (SELECT term, COUNT(*) AS df FROM baskets GROUP BY term),
    l1 AS (
        SELECT b.doc_id, b.term, n.n_docs
        FROM baskets b JOIN df d USING (term) CROSS JOIN n
        WHERE d.df * {_MINSUP_DEN} >= n.n_docs * {_MINSUP_NUM}
    ),
    pairs AS (
        SELECT a.term AS t1, c.term AS t2,
               CAST(COUNT(*) AS BIGINT) AS support, MAX(a.n_docs) AS n_docs
        FROM l1 a JOIN l1 c ON a.doc_id = c.doc_id AND a.term < c.term
        GROUP BY a.term, c.term
    ),
    l2 AS (
        SELECT t1, t2 FROM pairs
        WHERE support * {_MINSUP_DEN} >= n_docs * {_MINSUP_NUM}
    ),
    cand AS (
        SELECT e1.t1 AS a, e1.t2 AS b, e2.t2 AS c
        FROM l2 e1
        JOIN l2 e2 ON e2.t1 = e1.t2
        JOIN l2 e3 ON e3.t1 = e1.t1 AND e3.t2 = e2.t2
    ),
    sup AS (
        SELECT c.a AS t1, c.b AS t2, c.c AS t3,
               CAST(COUNT(*) AS BIGINT) AS support, MAX(x.n_docs) AS n_docs
        FROM cand c
        JOIN l1 x ON x.term = c.a
        JOIN l1 y ON y.doc_id = x.doc_id AND y.term = c.b
        JOIN l1 z ON z.doc_id = x.doc_id AND z.term = c.c
        GROUP BY c.a, c.b, c.c
    )
    SELECT t1, t2, t3, support,
           CAST(support AS DOUBLE) / n_docs AS support_frac
    FROM sup
    WHERE support * {_MINSUP_DEN} >= n_docs * {_MINSUP_NUM}
    """,
)
def frequent_term_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori frequent 3-itemsets -- the L3 step over frequent_term_pairs'
    L2 output, counted as a SELF-JOIN of the frequent-pair-per-document
    incidence: a document supports triple a<b<c iff it holds pairs (a,b)
    AND (b,c), so the triple-support stream is pd JOIN pd on (doc, middle
    term), flowing straight into a map-side-combined (a,b,c) aggregate;
    the >=50% filter then implies every 2-subset is frequent (subset
    support dominates triple support), so the classic triangle candidate
    prune is subsumed by the final filter.

    This shape replaced a candidate-triangle x three-way basket join that
    was CORRECT but OOMed the default 1g suite heap at sf0.1: its 12.7M
    candidate-x-doc intermediate hit the sort-merge sorter, whose spill-
    file READBACK allocates a ~1 MB read-ahead buffer per spill segment
    -- dozens of segments x 32 concurrent tasks exhausted the heap
    (UnsafeSorterSpillReader OOM). Here both join INPUTS stay at
    sum-of-L2-supports rows (~1.3M at sf0.1 -- small sorts, no spill
    storm) and the 12.7M join OUTPUT is never sorted or buffered: it
    streams into the partial hash aggregate, which collapses to at most
    |triples| groups map-side. Same integral support compares as the
    pair query; same honest sf1 behavior (no frequent singletons in the
    replica-suffixed corpus means L1, and every later level, is
    empty)."""
    d = _docs(spark, sf_dir)
    baskets = d.select("doc_id", F.explode(TX.tokens("text")).alias("term")).distinct()
    n = baskets.agg(F.count_distinct("doc_id").alias("n_docs"))
    df_ = baskets.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    l1_plan = (
        baskets.join(df_.hint("merge"), "term")
        .crossJoin(F.broadcast(n))
        .where(F.col("df") * _MINSUP_DEN >= F.col("n_docs") * _MINSUP_NUM)
        .select("doc_id", "term", "n_docs")
    )
    # Materialize L1 ONCE (OPTIMIZATION r16): the plan references it on
    # both sides of the pair self-join, inside the L2 derivation, and on
    # both sides of the triple self-join -- and every reference re-ran the
    # expensive upstream (tokenize + explode + distinct + df aggregate +
    # corpus-count broadcast, ~5 evaluations measured at 5.3 s wall /
    # 7.0 s summed job time). L1 itself is tiny: one row per (doc,
    # frequent term), bounded by the >=50%-support singleton set. The
    # WIDE intermediates (pair_docs) stay lazy -- checkpointing one of
    # those was measured strictly worse (151 MB materialization at
    # sf0.1) than recomputing the now-cheap 2-column self-join. Its own
    # session stage: this L1 drops the df column the pair entry keeps.
    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        session_stage,
        truthful_ckpt,
    )

    l1 = session_stage(
        spark, sf_dir, "frequent_triples_l1", lambda: truthful_ckpt(l1_plan)
    )
    a = l1.select("doc_id", F.col("term").alias("t1"), "n_docs")
    c = l1.select("doc_id", F.col("term").alias("t2"))
    pair_docs = (
        a.join(c.hint("merge"), ["doc_id"])
        .where(F.col("t1") < F.col("t2"))
    )
    pairs = pair_docs.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).alias("support"), F.max("n_docs").alias("n_docs")
    )
    l2 = pairs.where(
        F.col("support") * _MINSUP_DEN >= F.col("n_docs") * _MINSUP_NUM
    ).select("t1", "t2")
    # per-doc incidence of FREQUENT pairs only (sum of L2 supports rows)
    pd_ = pair_docs.join(l2.hint("merge"), ["t1", "t2"]).select(
        "doc_id", "t1", "t2", "n_docs"
    )
    pd1 = pd_.select("doc_id", F.col("t1").alias("a"), F.col("t2").alias("b"),
                     "n_docs")
    pd2 = pd_.select("doc_id", F.col("t1").alias("b"), F.col("t2").alias("c"))
    sup = (
        pd1.join(pd2.hint("merge"), ["doc_id", "b"])
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("support"), F.max("n_docs").alias("n_docs"))
    )
    return sup.where(
        F.col("support") * _MINSUP_DEN >= F.col("n_docs") * _MINSUP_NUM
    ).select(
        F.col("a").alias("t1"),
        F.col("b").alias("t2"),
        F.col("c").alias("t3"),
        "support",
        (F.col("support").cast("double") / F.col("n_docs")).alias("support_frac"),
    )


# --- hybrid retrieval: reciprocal rank fusion --------------------------------
_RRF_POOL = 20  # depth of each source ranking
_RRF_C = 60     # the standard RRF constant (Cormack et al. 2009)
# Panel cap for the dense branch's dgemm route: the blas kernel
# broadcasts the QUERY PANEL (the corpus never moves), so the gate bounds
# panel bytes -- 2^17 x 64 doubles is ~67 MB x2 with the normalized copy.
# Beyond it (a 12M+-vector corpus at the 1/97 panel ratio) the honest
# dense path is the IVF standing-index family, not this query.
_RRF_PANEL_MAX = 131_072


@register(
    "hybrid_rrf_fusion",
    oracle=f"""
    WITH {_BM25_CTES},
    bm AS (
        SELECT query_id, doc_id, CAST(rnk AS INT) AS rb FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
            FROM scored
        ) WHERE rnk <= {_RRF_POOL}
    ),
    raw AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0
    ),
    qv AS (SELECT vec_id AS query_id, v AS q,
                  list_dot_product(v, v) AS qn2
           FROM raw WHERE vec_id % {_QUERY_MOD} = 0),
    cv AS (SELECT vec_id AS doc_id, v AS c, list_dot_product(v, v) AS cn2
           FROM raw WHERE vec_id % {_QUERY_MOD} <> 0),
    cos AS (
        SELECT query_id, doc_id, CAST(rnk AS INT) AS rc FROM (
            SELECT q.query_id, c.doc_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.q, c.c)
                                / sqrt(q.qn2 * c.cn2) DESC, c.doc_id) AS rnk
            FROM cv c CROSS JOIN qv q
        ) WHERE rnk <= {_RRF_POOL}
    ),
    fused AS (
        SELECT COALESCE(bm.query_id, cos.query_id) AS query_id,
               COALESCE(bm.doc_id, cos.doc_id) AS doc_id,
               bm.rb, cos.rc,
               COALESCE(CAST('1.0' AS DOUBLE)
                        / CAST({_RRF_C} + bm.rb AS DOUBLE),
                        CAST('0.0' AS DOUBLE))
               + COALESCE(CAST('1.0' AS DOUBLE)
                          / CAST({_RRF_C} + cos.rc AS DOUBLE),
                          CAST('0.0' AS DOUBLE)) AS rrf
        FROM bm FULL JOIN cos USING (query_id, doc_id)
    )
    SELECT query_id, doc_id, rb AS bm25_rank, rc AS cos_rank, rrf,
           CAST(rnk AS INT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
        FROM fused
    ) WHERE rnk <= {_TOPK}
    """,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval via Reciprocal Rank Fusion (Cormack
    et al. 2009): the BM25 top-20 and the embedding-cosine top-20 for the
    same query set (doc_id/vec_id % 97 == 0, the fixture's aligned ids)
    are fused by rrf = sum over sources of 1/(60 + rank), top-5 per query.
    The production RAG/decontamination shape: lexical rankings catch exact
    term overlap, dense rankings catch paraphrase, and rank-grain fusion
    needs NO score calibration between the two scales -- which is also
    what makes it hash-exact here: only integer ranks cross the fusion
    boundary, so the one float op per source (1/(60+rank)) is identical
    IEEE arithmetic on both engines by construction.

    Plan shape: the BM25 branch is the shared _bm25_scored subtree (same
    merge-hinted inverted-index discipline as bm25_topk); the dense branch
    is the broadcast-query one-scan kernel (ann_cosine_topk's); fusion is
    a full outer join on (query, doc) at top-20 grain -- |queries| x 40
    rows max, shuffle-trivial -- then a per-query window. Each source
    ranking stays prunable/pushdown-friendly because fusion never needs
    raw scores, only ranks."""
    scored = _bm25_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    bm = (
        scored.withColumn("rb", F.row_number().over(w).cast("int"))
        .where(F.col("rb") <= _RRF_POOL)
        .select("query_id", "doc_id", "rb")
    )
    from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
    from sqldataintegrationfunctiontriggerapp_spark.operators import (
        similarity as S,
    )

    e = load_table(spark, sf_dir, "embeddings")
    is_q = F.col("vec_id") % _QUERY_MOD == 0
    # Route the dense branch on the MEASURED panel size (the
    # cosine_pairs_above_auto discipline): the query panel is 1/97 of the
    # corpus, so it GROWS with the data, and the JVM fold kernel's
    # |Q| x |C| scored stream goes quadratic -- measured 40x super-linear
    # at sf10 (424.6 s) before this route. The dgemm-candidates /
    # fold-verify kernel is bit-identical (test_topk_kernels_agree_
    # bitwise), so either branch hashes green.
    n_q = e.where(is_q).count()
    kernel = (
        S.brute_force_topk_blas
        if 64 <= n_q <= _RRF_PANEL_MAX
        else S.brute_force_topk
    )
    cos = (
        kernel(e.where(~is_q), e.where(is_q), k=_RRF_POOL)
        .select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("int").alias("rc"),
        )
    )
    one, zero = F.lit(1.0), F.lit(0.0)
    fused = bm.join(cos, ["query_id", "doc_id"], "full").select(
        "query_id",
        "doc_id",
        "rb",
        "rc",
        (
            F.coalesce(one / (F.lit(_RRF_C) + F.col("rb")).cast("double"), zero)
            + F.coalesce(
                one / (F.lit(_RRF_C) + F.col("rc")).cast("double"), zero
            )
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rnk", F.row_number().over(wf).cast("int"))
        .where(F.col("rnk") <= _TOPK)
        .select(
            "query_id",
            "doc_id",
            F.col("rb").alias("bm25_rank"),
            F.col("rc").alias("cos_rank"),
            "rrf",
            "rnk",
        )
    )
