"""Training-data cleaning / curation queries over `documents`: PII
scrubbing, intra-document repetition signals, benchmark-contamination
checks, and per-document distinctive terms. These are the pipeline stages
that sit between raw crawl and dedup in an LLM data pipeline; each is a
pure column-expression / equi-join plan with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.functions import text as TX
from sqldataintegrationfunctiontriggerapp_spark.operators.dedup import word_shingles
from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
    davg,
    shared_pair_counts,
    sql_davg,
)
from sqldataintegrationfunctiontriggerapp_spark.plans.registry import register
from sqldataintegrationfunctiontriggerapp_spark.plans.text import _docs, _TOKS

# The fixture text is synthetic prose with no PII, so the scrub query plants
# deterministic PII derived from doc_id on BOTH sides (same expression in
# Spark and the oracle) -- the machinery (patterns, masking order, counts)
# is what's under test, and it is exercised with non-zero matches.
_AUG_SQL = (
    "text || ' contact u' || CAST(doc_id AS VARCHAR)"
    " || '@example.com ip 10.0.' || CAST(doc_id % 250 AS VARCHAR)"
    " || '.7 call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


def _aug_spark() -> F.Column:
    return F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".7 call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{TX.EMAIL_PATTERN}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{TX.IPV4_PATTERN}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t, '{TX.PHONE_PATTERN}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{TX.EMAIL_PATTERN}', '<EMAIL>', 'g'),
               '{TX.IPV4_PATTERN}', '<IP>', 'g'),
               '{TX.PHONE_PATTERN}', '<PHONE>', 'g')) AS masked_md5
    FROM aug
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count emails/IPv4s/phone numbers and mask them in a
    fixed rule order (functions/text.py patterns are Java-regex/RE2
    portable). Pure regexp column expressions -- codegen'd, scan-speed."""
    d = _docs(spark, sf_dir).withColumn("t", _aug_spark())
    counts = TX.pii_counts(F.col("t"))
    return d.select(
        "doc_id",
        counts["n_emails"].cast("long").alias("n_emails"),
        counts["n_ips"].cast("long").alias("n_ips"),
        counts["n_phones"].cast("long").alias("n_phones"),
        F.md5(TX.pii_mask(F.col("t"))).alias("masked_md5"),
    )


@register(
    "text_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    bg AS (
        SELECT doc_id,
               UNNEST([array_to_string(tk[i:i+1], ' ')
                       for i in range(1, len(tk))]) AS bigram
        FROM t WHERE len(tk) >= 2
    ),
    c AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY doc_id, bigram)
    SELECT doc_id,
           CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_bigram_frac,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS distinct_bigram_ratio
    FROM c GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): the most
    frequent bigram's share of all bigrams, and the distinct-bigram ratio.
    explode + two hash aggregations -- linear and distributed, never a
    per-document quadratic expression."""
    d = _docs(spark, sf_dir)
    bg = d.select("doc_id", F.explode(TX.bigrams("text")).alias("bigram"))
    counts = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("doc_id").agg(
        (F.max("n").cast("double") / F.sum("n").cast("double")).alias("top_bigram_frac"),
        (F.count(F.lit(1)).cast("double") / F.sum("n").cast("double")).alias(
            "distinct_bigram_ratio"
        ),
    )


@register(
    "contamination_check",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
        SELECT doc_id,
               UNNEST(list_distinct([array_to_string(tk[i:i+7], ' ')
                                     for i in range(1, len(tk) - 6)])) AS shingle
        FROM t WHERE len(tk) >= 8
    ),
    corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0),
    bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 10 = 0),
    p AS (SELECT DISTINCT c.doc_id, b.bench_id
          FROM corp c JOIN bench b USING (shingle))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated_sources
    FROM p GROUP BY doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: flag training docs sharing any 8-token
    shingle with a held-out benchmark set (here: doc_id % 10 == 0 stands in
    for the eval corpus). The join is merge-hinted (r10): the fixture's
    stand-in benchmark is 10% OF THE CORPUS, and both sides descend from
    the shingle explode, whose Catalyst size estimate is stuck at the
    pre-explode document bytes -- the forced/auto-broadcast OOM class the
    sf10 spot-bench caught in the ngram stage. A production check against
    a genuinely tiny benchmark can pass an explicit broadcast instead;
    the hinted shuffle is the shape that survives a corpus-fraction
    'benchmark' at 100 TB."""
    sh = word_shingles(load_table(spark, sf_dir, "documents"), n=8)
    corp = sh.where(F.col("doc_id") % 10 != 0)
    bench = sh.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    # merge hint (r10): both sides descend from the shingle explode, so
    # static size estimates are the pre-explode document bytes -- the
    # auto-broadcast OOM class the sf10 spot-bench caught
    pairs = (
        corp.join(bench.hint("merge"), "shingle")
        .select("doc_id", "bench_id")
        .distinct()
    )
    return pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_contaminated_sources")
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH terms AS (
        SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
               CAST(d.df AS BIGINT) AS df,
               CAST(t.tf AS DOUBLE) / CAST(d.df AS DOUBLE) AS score
        FROM tf t JOIN df d USING (term)
    )
    SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by tf/df weighting (reciprocal
    document frequency -- transcendental-free so Spark and DuckDB agree
    bit-for-bit; the ranking is the same as classic tf-idf for a fixed
    corpus size). The df join back onto the tf table is UN-hinted (r10):
    df is one row per vocabulary TERM, which grows with the corpus, so a
    forced broadcast is the same driver-OOM shape the sf10 spot-bench
    caught in the ngram stop set; AQE broadcasts it at runtime whenever
    the actual vocabulary is small, and falls back to a keyed shuffle --
    the 100 TB shape -- when it is not."""
    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_.hint("merge"), "term").select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        (F.col("tf").cast("double") / F.col("df").cast("double")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
    )


@register(
    "span_dedup_rate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
        SELECT doc_id,
               UNNEST(list_distinct([array_to_string(tk[i:i+4], ' ')
                                     for i in range(1, len(tk) - 3)])) AS shingle
        FROM t WHERE len(tk) >= 5
    ),
    c AS (SELECT shingle, COUNT(*) AS nd FROM sh GROUP BY shingle)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS dup_rate
    FROM sh JOIN c USING (shingle)
    GROUP BY doc_id
    """,
)
def span_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication rate: the fraction of a document's distinct
    5-token spans that occur in at least one OTHER document (or twice here)
    -- the per-document signal behind substring-level dedup ("Deduplicating
    Training Data Makes Language Models Better"-style), where documents
    above a duplication threshold are dropped or trimmed rather than
    cluster-deduped whole.

    Plan shape: one shingle explode (already repartitioned by doc in
    word_shingles), one hash aggregate building the span postings counts,
    one equi-join back on the span hash, one per-doc aggregate. The
    postings side is fact-derived so it shuffles on the span key -- the
    standard inverted-index shape that survives 100 TB; nothing is ever
    pairwise."""
    sh = word_shingles(load_table(spark, sf_dir, "documents"), n=5)
    c = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("nd"))
    dup = F.when(F.col("nd") >= 2, F.lit(1)).otherwise(F.lit(0))
    return (
        # merge hint (r10): explode-poisoned estimates on both sides
        sh.join(c.hint("merge"), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup).alias("dup_spans"),
            (F.sum(dup).cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        )
    )


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS tk FROM documents),
    sh AS (
        SELECT DISTINCT source,
               UNNEST(list_distinct([array_to_string(tk[i:i+4], ' ')
                                     for i in range(1, len(tk) - 3)])) AS shingle
        FROM t WHERE len(tk) >= 5
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication diagnostic: for every source pair, how many
    distinct 5-token spans they share -- the curation query that reveals
    which crawls/mirrors duplicate each other before a mixture is weighted
    (two sources with heavy span overlap should not both be upsampled).

    Plan (reworked OPTIMIZATION r16): explode to (source, shingle),
    distinct, then ONE shingle-grain aggregate collects each shingle's
    sorted source set and a bounded expansion emits its a<b pairs --
    identical counts to the former shingle-keyed self-join (each shared
    shingle contributes exactly its source pairs) with one evaluation of
    the explode+distinct chain instead of two and no string-key
    sort-merge join. Shuffle volume stays O(distinct spans x sources
    carrying them), the per-shingle expansion is |sources|^2-bounded, and
    the output is tiny (sources x sources), so at 100 TB the only real
    cost remains the one distinct over spans."""
    sh = (
        word_shingles(load_table(spark, sf_dir, "documents"), n=5)
        .join(
            load_table(spark, sf_dir, "documents").select("doc_id", "source"),
            "doc_id",
        )
        .select("source", "shingle")
        .distinct()
    )
    return shared_pair_counts(
        sh, "shingle", "source", "source_a", "source_b", "n_shared_shingles"
    )


@register(
    "lm_bigram_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    bg AS (
        SELECT doc_id,
               UNNEST([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))])
                 AS bigram
        FROM t WHERE len(tk) >= 2
    ),
    c2 AS (SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY bigram),
    c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(c2) AS c1
           FROM c2 GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT u.tok) AS v
          FROM (SELECT UNNEST(tk) AS tok FROM t) u),
    p AS (
        SELECT bg.doc_id,
               CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE) AS p
        FROM bg
        JOIN c2 USING (bigram)
        JOIN c1 ON c1.w1 = split_part(bg.bigram, ' ', 1)
        CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {sql_davg('p', 'mean_p')}
    FROM p GROUP BY doc_id
    """,
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score per document -- the n-gram-LM
    quality filter of CCNet-style pipelines ("CCNet: Extracting High
    Quality Monolingual Datasets from Web Crawl Data"), re-expressed
    transcendental-free: instead of perplexity exp(-mean log p), the score
    is the mean Laplace-smoothed bigram probability
    mean((c(w1,w2)+1) / (c(w1.)+V)) over the document's bigram
    OCCURRENCES, with the model trained on the corpus itself. The mean-p
    and mean-log-p orderings differ in general, but both rank predictable,
    in-distribution text above gibberish, and avoiding ln() keeps the
    Spark and DuckDB results bit-identical (no libm divergence; the
    per-bigram p is one integer-ratio double division, and the per-doc
    mean routes through the DECIMAL(18,6) accumulator convention of
    plans/_util.py).

    Plan shape (reworked OPTIMIZATION r16): tokenize+explode
    (codegen-fused into the scan), then BOTH model counts ride COUNT
    windows over the occurrence stream -- c2 over (PARTITION BY bigram),
    c1 over (PARTITION BY w1), since summing c2 across the bigram types
    of a context w1 is exactly counting w1's occurrences. That replaces
    the two count-aggregate branches plus two sort-merge joins back onto
    the stream (which re-evaluated the corpus explode and sorted the
    occurrence stream twice on string keys) with two keyed exchanges
    over ONE evaluation; a 1-row vocabulary aggregate broadcasts the
    Laplace denominator; one per-doc aggregate finishes. At 100 TB the
    windows shuffle the occurrence stream by key exactly as the joins'
    probe side did (no new skew surface, no broadcast assumption) and
    the only state is the counts themselves -- no driver-side model
    object at any scale."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    bg = d.select("doc_id", F.explode(TX.bigrams("text")).alias("bigram"))
    vocab = d.select(F.explode(TX.tokens("text")).alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    # Both counts ride COUNT windows over the occurrence stream itself
    # (OPTIMIZATION r16, the bm25 df trick): c2(bigram) = occurrences of
    # the bigram, and c1(w1) = total occurrences whose first word is w1
    # (summing c2 over bigram TYPES starting with w1 IS counting the
    # occurrences) -- so the two count-aggregate branches and the two
    # sort-merge joins back onto the stream (which re-evaluated the
    # corpus explode and sorted the full occurrence stream twice on
    # string keys) collapse to two keyed exchanges over ONE evaluation of
    # bg. Skew note: a Zipf-hot bigram concentrates its window partition
    # exactly as it concentrated its SMJ partition before -- no new skew
    # surface. No broadcast assumption anywhere (the windows shuffle by
    # key; the 1-row vocab frame stays the only broadcast).
    p = (
        bg.withColumn(
            "c2", F.count(F.lit(1)).over(Window.partitionBy("bigram"))
        )
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("c1", F.count(F.lit(1)).over(Window.partitionBy("w1")))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                (F.col("c2") + F.lit(1)).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("p"),
        )
    )
    return p.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        davg("p", "mean_p"),
    )


_QC_BUCKETS = 256          # hashed-feature dimensionality
_QC_SCALE = 1 << 20        # fixed-point weight scale (weights in [-2^19, 2^19))


def _qc_weights() -> list[int]:
    """Deterministic md5-derived integer weights, one per feature bucket:
    int(md5("qw:b")[:5], 16) - 2^19 -- a 20-bit signed fixed-point stand-in
    for a trained weight vector (same no-RNG seeding discipline as
    S._hyperplanes). Integer-valued so every per-document sum is EXACT in
    both engines regardless of fold order."""
    import hashlib

    return [
        int(hashlib.md5(f"qw:{b}".encode()).hexdigest()[:5], 16) - (1 << 19)
        for b in range(_QC_BUCKETS)
    ]


_QC_BUCKET_SQL = (
    "((instr('0123456789abcdef', substring(md5(token), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substring(md5(token), 2, 1)) - 1))"
)


def qc_weight_col() -> "F.Column":
    """The classifier's per-token weight as a Column over a `token` input
    column: two-md5-nibble bucket -> element_at into the 256-int literal
    (single folded constant node), as an exact BIGINT. Shared by the
    registered batch query and the streaming curation parity so the model
    arithmetic cannot drift between them."""
    from sqldataintegrationfunctiontriggerapp_spark.operators.similarity import (
        const_doubles,
    )

    nib = "instr('0123456789abcdef', substring(md5(token), {}, 1)) - 1"
    bucket = (
        (F.expr(nib.format(1))) * 16 + F.expr(nib.format(2))
    ).cast("int")
    return F.element_at(
        const_doubles([float(w) for w in _qc_weights()]), bucket + 1
    ).cast("long")


def _qc_oracle() -> str:
    wlit = "[" + ", ".join(str(w) for w in _qc_weights()) + "]"
    return f"""
    WITH tok AS (
        SELECT doc_id, UNNEST({_TOKS}) AS token FROM documents
    ),
    f AS (
        SELECT doc_id,
               CAST({wlit}[{_QC_BUCKET_SQL} + 1] AS BIGINT) AS wt
        FROM tok
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(wt) AS BIGINT) AS wsum,
           CAST(SUM(wt) AS DOUBLE)
               / (CAST(COUNT(*) AS DOUBLE) * {float(_QC_SCALE)!r}) AS margin,
           (SUM(wt) >= 0) AS keep
    FROM f GROUP BY doc_id
    """


@register("quality_classifier_linear", oracle=_qc_oracle())
def quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier (Joulin et al. 2016 -- the
    model class behind CCNet/GPT-3-era quality filtering): each token is
    hashed into one of 256 feature buckets (first two md5 nibbles -- the
    hashing trick, so the model is a fixed-size weight vector independent
    of vocabulary), the document's score is the mean bucket weight, and
    keep/drop is the sign. The weight vector here is an md5-derived
    deterministic stand-in (no trained model ships in this container);
    everything a production deployment would swap in is a 256-number
    array literal, and everything that stays -- tokenization, feature
    hashing, the exact-margin arithmetic, the plan shape -- is what this
    query pins.

    Determinism contract: weights are INTEGER fixed-point (20-bit, scale
    2^20), so per-document SUMs are exact BIGINTs in both engines --
    fold-order-independent by construction, no decimal-cast round trip
    (the trap plans/graph.py documents); the margin divides two
    identically-constructed doubles once, at the end.

    Scale shape: one explode + element_at into a 256-int literal (single
    folded constant node, const_doubles discipline) + one hash aggregate
    -- the exchange carries one row per document; the weight table is
    model metadata, never data-dependent. At 100 TB this is THE cheap
    first-pass filter: a scan-speed scorer whose output gates every more
    expensive stage (dedup, ANN, curation) downstream."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens("text")).alias("token")
    )
    agg = tok.select("doc_id", qc_weight_col().alias("wt")).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("wt").alias("wsum"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "wsum",
        (
            F.col("wsum").cast("double")
            / (F.col("n_tokens").cast("double") * F.lit(float(_QC_SCALE)))
        ).alias("margin"),
        (F.col("wsum") >= 0).alias("keep"),
    )


# --- Gopher quality rules ----------------------------------------------------
# The Rae et al. 2021 (Gopher) document-quality rule set, re-expressed so
# every threshold is an INTEGER cross-multiplication (3 <= mean <= 10
# becomes 3*n <= chars <= 10*n, ratio <= 0.1 becomes 10*x <= n): no float
# is ever computed, so parity is structural. Thresholds follow the paper;
# the word-count floor is scaled to the fixture's short synthetic docs.
_GOPHER_MIN_WORDS = 20      # paper: 50 (fixture docs run 10-100 words)
_GOPHER_MAX_WORDS = 100000
_GOPHER_REQUIRED = "('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with', 'a')"


@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(tk) AS n_words,
               len(array_to_string(tk, '')) AS n_word_chars,
               len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha_words,
               len(list_filter(tk, x -> contains(x, '#')
                                        OR contains(x, '...')))
                   AS n_symbol_words,
               len(list_distinct(list_filter(
                   tk, x -> lower(x) IN {_GOPHER_REQUIRED})))
                   AS n_required
        FROM t
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
               AS ok_word_count,
           3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words
               AS ok_mean_word_len,
           10 * n_symbol_words <= n_words AS ok_symbol_ratio,
           5 * n_alpha_words >= 4 * n_words AS ok_alpha_words,
           n_required >= 2 AS ok_required_words,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
               AND 3 * n_words <= n_word_chars
               AND n_word_chars <= 10 * n_words
               AND 10 * n_symbol_words <= n_words
               AND 5 * n_alpha_words >= 4 * n_words
               AND n_required >= 2 AS passes
    FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher (Rae et al. 2021) document-quality rule table, one row
    per document with each rule as its own boolean plus the conjunction:
    word count in bounds, mean word length in [3, 10], symbol-to-word
    ratio <= 0.1 (hash/ellipsis), >= 80% of words containing an alphabetic
    character, and >= 2 distinct required English function words. Distinct
    from text_quality_score (a single blended score): rule-grain booleans
    are what a curation pipeline logs, tunes, and ablates per rule.

    Every threshold is integer cross-multiplication -- mean word length
    in [3, 10] is 3*n_words <= total_chars <= 10*n_words -- so the whole
    rule table is exact integer arithmetic; no float contract needed.

    Scale shape: one scan, all metrics from a single token-array
    projection (codegen'd regexp split fused into the scan -- the
    measured-free pattern documented at plans/text.py), zero joins,
    zero shuffles beyond the scan itself."""
    d = _docs(spark, sf_dir)
    m = d.select("doc_id", *gopher_metric_cols(TX.tokens("text")))
    rules = gopher_rule_exprs()
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        *[rules[k].alias(k) for k in (
            "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
            "ok_alpha_words", "ok_required_words", "passes",
        )],
    )


# ---- shared crawl-front column builders -----------------------------------
# Factored so the composed end-to-end entry (crawl_curation_pipeline in
# plans/ingest.py) runs the IDENTICAL extraction / canonicalization /
# quality expressions as the standalone per-stage entries below — one
# definition, three oracle-pinned consumers.


def visible_text_from_html(html):
    """HTML -> visible text as a pure JVM column ladder (whole-stage
    codegen; no parser UDF): strip script/style/comment blocks ((?s)
    non-greedy), replace tags with spaces, decode the five core entities
    (&amp; last so freshly-decoded ampersands are not re-interpreted),
    collapse whitespace, trim."""
    stripped = html
    for pat in (r"(?s)<script.*?</script>", r"(?s)<style.*?</style>",
                r"(?s)<!--.*?-->"):
        stripped = F.regexp_replace(stripped, pat, " ")
    stripped = F.regexp_replace(stripped, r"<[^>]+>", " ")
    for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")):
        stripped = F.replace(stripped, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def canonical_url_parts(url):
    """(norm_url, domain, kept_params) from a messy URL column via the
    JVM parse_url builtin: lowercase scheme/host, strip leading www.,
    drop the fragment (QUERY excludes it by construction), strip the
    trailing slash, filter utm_* tracking params with a higher-order
    array filter. No UDF anywhere."""
    scheme = F.lower(F.parse_url(url, F.lit("PROTOCOL")))
    host = F.regexp_replace(
        F.lower(F.parse_url(url, F.lit("HOST"))), r"^www\.", ""
    )
    path = F.regexp_replace(F.parse_url(url, F.lit("PATH")), r"/$", "")
    kept = F.filter(
        F.split(F.parse_url(url, F.lit("QUERY")), "&"),
        lambda p: ~p.like("utm\\_%"),
    )
    norm = F.concat(
        scheme, F.lit("://"), host, path, F.lit("?"),
        F.array_join(kept, "&"),
    )
    domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return norm, domain, kept


def gopher_metric_cols(tk):
    """The five Gopher rule metrics over a token-array column, aliased to
    the names gopher_rule_exprs() reads."""
    return [
        F.size(tk).alias("n_words"),
        F.length(F.array_join(tk, "")).alias("n_word_chars"),
        F.size(F.filter(tk, lambda x: x.rlike("[A-Za-z]"))).alias(
            "n_alpha_words"
        ),
        F.size(
            F.filter(tk, lambda x: x.contains("#") | x.contains("..."))
        ).alias("n_symbol_words"),
        F.size(
            F.array_distinct(
                F.filter(
                    tk,
                    lambda x: F.lower(x).isin(
                        "the", "be", "to", "of", "and", "that", "have",
                        "with", "a",
                    ),
                )
            )
        ).alias("n_required"),
    ]


def gopher_rule_exprs():
    """Per-rule boolean expressions over gopher_metric_cols() names plus
    the conjunction, all exact integer cross-multiplication."""
    ok_wc = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    ok_mwl = (3 * F.col("n_words") <= F.col("n_word_chars")) & (
        F.col("n_word_chars") <= 10 * F.col("n_words")
    )
    ok_sym = 10 * F.col("n_symbol_words") <= F.col("n_words")
    ok_alpha = 5 * F.col("n_alpha_words") >= 4 * F.col("n_words")
    ok_req = F.col("n_required") >= 2
    return {
        "ok_word_count": ok_wc,
        "ok_mean_word_len": ok_mwl,
        "ok_symbol_ratio": ok_sym,
        "ok_alpha_words": ok_alpha,
        "ok_required_words": ok_req,
        "passes": ok_wc & ok_mwl & ok_sym & ok_alpha & ok_req,
    }


# SQL twin of gopher_metric_cols/gopher_rule_exprs for composed oracles:
# given a token-array SQL expression, yields the metric CTE body and the
# pass predicate over those metric names (used by crawl_curation_pipeline).
def gopher_metrics_sql(tk_expr: str) -> str:
    return f"""
           len({tk_expr}) AS n_words,
           len(array_to_string({tk_expr}, '')) AS n_word_chars,
           len(list_filter({tk_expr}, x -> regexp_matches(x, '[A-Za-z]')))
               AS n_alpha_words,
           len(list_filter({tk_expr}, x -> contains(x, '#')
                                        OR contains(x, '...')))
               AS n_symbol_words,
           len(list_distinct(list_filter(
               {tk_expr}, x -> lower(x) IN {_GOPHER_REQUIRED})))
               AS n_required
    """


def gopher_pass_sql() -> str:
    return (
        f"n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}"
        " AND 3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words"
        " AND 10 * n_symbol_words <= n_words"
        " AND 5 * n_alpha_words >= 4 * n_words"
        " AND n_required >= 2"
    )


@register(
    "html_text_extraction",
    oracle="""
    SELECT doc_id,
           md5('Doc ' || CAST(doc_id AS VARCHAR) || ' Doc '
               || CAST(doc_id AS VARCHAR)
               || CASE WHEN TRIM(regexp_replace(text, '\\s+', ' ', 'g'))
                            = '' THEN ''
                       ELSE ' ' || TRIM(regexp_replace(text, '\\s+', ' ',
                                                       'g')) END)
               AS extracted_md5,
           CAST(LENGTH('Doc ' || CAST(doc_id AS VARCHAR) || ' Doc '
               || CAST(doc_id AS VARCHAR)
               || CASE WHEN TRIM(regexp_replace(text, '\\s+', ' ', 'g'))
                            = '' THEN ''
                       ELSE ' ' || TRIM(regexp_replace(text, '\\s+', ' ',
                                                       'g')) END)
               AS BIGINT) AS n_chars
    FROM documents
    """,
)
def html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> visible text, the step between raw crawl and every other
    curation stage -- entirely JVM-side regexp_replace chains (whole-stage
    codegen; a Python-side parser here would be the classic 100 TB
    bottleneck). The fixture wraps each document in a deterministic HTML
    template -- head with title, an entity-laden <script> block, a <style>
    block, body with <h1> + <p>, an HTML comment -- and entity-ENCODES the
    body text (spaces -> &nbsp;, & -> &amp;), so extraction must run the
    full ladder to recover it: strip script/style/comment blocks
    ((?s) non-greedy), replace tags with spaces, decode the five core
    entities, collapse whitespace, trim.

    THE ORACLE NEVER SEES THE HTML: it computes the expected visible text
    straight from the source ('Doc N' title + 'Doc N' heading + the
    whitespace-normalized text) and hashes it -- so a tag left behind, an
    entity left encoded, a script body leaking into the text, or an
    over-eager strip eating content all break the hash. Round-trip
    construction-and-recovery, the codec-fixture discipline applied to
    markup."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.regexp_replace(
        F.regexp_replace(F.col("text"), "&", "&amp;"), " ", "&nbsp;"
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit("</title><script>var x = 1 &amp; 2; if (x<3) {}</script>"
              "<style>p { color: red; }</style></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), body,
        F.lit("</p><!-- crawl noise &amp; <fake tags> --></body></html>"),
    )
    extracted = visible_text_from_html(html)
    return docs.select(
        "doc_id",
        F.md5(extracted).alias("extracted_md5"),
        F.length(extracted).cast("long").alias("n_chars"),
    )


@register(
    "url_normalization",
    oracle="""
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
               || '://example' || CAST(doc_id % 10 AS VARCHAR)
               || '.com/Articles/' || CAST(doc_id AS VARCHAR)
               || '?id=' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 5 = 0 THEN '&ref=home' ELSE '' END
               AS norm_url,
           'example' || CAST(doc_id % 10 AS VARCHAR) || '.com' AS domain,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS INT)
               AS n_params
    FROM documents
    """,
)
def url_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization -- the dedup key every crawl pipeline needs
    before any content-level dedup runs (the same page arrives as
    HTTP://WWW.site.COM/p/, https://site.com/p?utm_source=feed, ...):
    the fixture synthesizes messy-but-valid URLs (uppercase scheme and
    host, www. prefix, trailing slash, utm_* tracking params, fragment)
    and the plan normalizes with the JVM parse_url builtin plus column
    expressions -- lowercase scheme/host, strip www., drop the fragment
    (parse_url QUERY excludes it by construction), strip the trailing
    slash, and filter tracking parameters with a higher-order array
    filter (p NOT LIKE 'utm_%'). No UDF anywhere.

    THE ORACLE NEVER PARSES A URL: it computes the expected canonical
    form straight from doc_id (the recovery discipline), so a fragment
    leaking into the query, a surviving utm_ param, a case-normalization
    miss, or a trailing slash left behind all break the hash."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP"))
        .otherwise(F.lit("https")),
        F.lit("://WWW.ExAmple"), (F.col("doc_id") % 10).cast("string"),
        F.lit(".COM/Articles/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string"),
        F.lit("&utm_medium=rss"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("&ref=home"))
        .otherwise(F.lit("")),
        F.lit("#Section"), (F.col("doc_id") % 7).cast("string"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    norm, domain, kept = canonical_url_parts(F.col("url"))
    return with_url.select(
        "doc_id",
        norm.alias("norm_url"),
        domain.alias("domain"),
        F.size(kept).cast("int").alias("n_params"),
    )
