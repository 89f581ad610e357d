"""Deduplication operator family (north-star C1, C3): exact, MinHash+LSH,
SimHash, n-gram Jaccard, and the component closure over near-dup pairs.
The operators are building blocks; plans/dedup.py composes them into the
pair chains and owns their materialization (its session stages).

Portability-by-construction: the fuzzy hashes are built from md5 (identical
in Spark and DuckDB) instead of engine hash functions, so every stage is
oracle-checkable. MinHash permutations are approximated as
``min(md5(band || '|' || shingle))`` per band -- the standard
min-over-a-random-permutation estimator with md5 as the permutation.

Scale design (100 TB):
- exact dedup: hash-aggregate on the fingerprint; one shuffle on a short key.
- MinHash LSH: docs -> shingles -> per-band signatures is embarrassingly
  parallel map work; candidate generation is a self-equi-join on
  (band, signature), which shuffles *signatures* (tiny) and only materializes
  pairs that collide -- never the O(n^2) cross join. Verification joins touch
  only candidate pairs.
- SimHash: one map over tokens + one groupBy(doc); near-dup buckets come from
  grouping on the hash value itself -- no pairwise work at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqldataintegrationfunctiontriggerapp_spark.functions.text import tokens


def exact_dedup_groups(df: DataFrame, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """C1 exact dedup: one row per distinct `key`, keeping the smallest id
    (deterministic winner) and the duplicate count."""
    return df.groupBy(key).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _explode_partitions(df: DataFrame) -> int:
    """Partition count for repartition-before-explode: the session's
    derived spark.sql.shuffle.partitions (amplification-aware, re-derived
    per sf_dir by catalog.load_table), floored at defaultParallelism."""
    spark = df.sparkSession
    try:
        derived = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        derived = 0
    return max(spark.sparkContext.defaultParallelism, derived)


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3,
                  id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs: distinct word n-grams per document. Documents with
    fewer than n tokens are dropped (no shingle exists).

    The input is repartitioned on the id BEFORE the row-expanding work: a
    small document table arrives as a handful of input splits, and without
    this the explode + hashing below runs on as many cores as there are
    splits (measured 84s single-task vs ~3s spread over 32). Hash
    partitioning on id also satisfies every downstream per-doc groupBy, so
    the shuffle is paid once.

    r15: the target is the session's DERIVED shuffle-partition count (the
    amplification-aware per-sf_dir value load_table maintains), not bare
    defaultParallelism -- at the sf100 rung a 32-way exchange left each
    post-explode partition holding 1/32nd of a 16x-amplified corpus
    (~800 MB blocks), which is what OOM'd the span family's 8 g stage
    persist; the derived count keeps persisted explode blocks near the
    16 MB shuffle target at every scale. Floor stays defaultParallelism,
    so small fixtures are byte-identical to the old plan."""
    df = df.repartition(_explode_partitions(df), id_col)
    toks = tokens(text_col)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    return (
        df.where(F.size(toks) >= n)
        .select(id_col, F.explode(shingles).alias("shingle"))
    )


def word_shingles_pos(df, text_col: str = "text", n: int = 3,
                      id_col: str = "doc_id"):
    """(id, pos, shingle): ALL word n-grams per document with their 0-based
    token start position -- the positional posting table substring-level
    dedup needs (word_shingles above deduplicates per doc and drops
    position, which suffices for set-similarity but cannot express
    aligned-run semantics). Same repartition-before-explode discipline
    (incl. the r15 derived-count target -- see word_shingles)."""
    df = df.repartition(_explode_partitions(df), id_col)
    toks = tokens(text_col)
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return (
        df.where(F.size(toks) >= n)
        .select(id_col, F.posexplode(shingles).alias("pos", "shingle"))
    )


# MinHash rows per band (see minhash_signatures).
_ROWS_PER_BAND = 2


def minhash_signatures(shingled: DataFrame, n_bands: int = 8,
                       id_col: str = "doc_id") -> DataFrame:
    """Per-(doc, band) MinHash signature: each band is the concatenation of
    `_ROWS_PER_BAND` independent minhashes (min over shingles of
    md5(salt || '|' || shingle), salt = band*r+i), computed as ONE wide
    aggregation (n_bands*r min columns) then unpivoted with stack(). vs the
    naive crossJoin(bands) + groupBy(doc, band): the aggregate's shuffle
    carries one row per doc instead of n_bands rows per *shingle* -- at
    100 TB that is n_bands x |shingles| / |docs| (~400x here) less shuffle
    volume, and map-side partial aggregation collapses everything before
    the exchange.

    _ROWS_PER_BAND controls the candidate false-positive rate: a band
    collides with probability J^r, so r=1 makes every pair sharing a single
    hot shingle minimum a candidate (measured 82k candidates from 5k docs at
    sf0.1); r=2 drops that to the pairs that agree on two independent
    minima (~200) while keeping recall at J>=0.7 above 99% with 8 bands --
    the verification join then touches 400x fewer pairs, which is the whole
    point of banding at scale."""
    r = _ROWS_PER_BAND
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{b * r + i}|"), F.col("shingle"))))
        .alias(f"_s{b}_{i}")
        for b in range(n_bands)
        for i in range(r)
    ]
    wide = shingled.groupBy(id_col).agg(*aggs)
    band_sig = ", ".join(
        f"{b}, concat({', '.join(f'_s{b}_{i}' for i in range(r))})"
        for b in range(n_bands)
    )
    return wide.select(
        id_col, F.expr(f"stack({n_bands}, {band_sig}) AS (band, sig)")
    ).withColumn("band", F.col("band").cast("int"))


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        trust_stats: bool = False) -> DataFrame:
    """Self-join on (band, sig): pairs colliding in >=1 band. The join key is
    the signature, so shuffle volume is O(n_docs * n_bands), not O(n^2).

    trust_stats (r11): pass True ONLY when `sigs` descends from a
    MATERIALIZED persist() cache -- or from a localCheckpoint TAKEN OF one
    (the LogicalRDD snapshots the cache's honest sizeInBytes; see
    plans/_util.py truthful_ckpt). The
    join is then left unhinted: initial planning sees an honest (large,
    conservative) estimate so nothing multi-GiB is eagerly broadcast, and
    AQE's runtime SMJ->BHJ conversion re-earns the broadcast from ACTUAL
    shuffle bytes on small corpora -- the r09 sf0.1 speed without the r10
    sf10 OOM. The default keeps the merge hint because explode-fed and
    localCheckpoint-fed inputs INHERIT their origin's size estimate
    (measured: 25.1 MiB reported for a 3.5 GiB checkpointed explode
    output), and a lying-small estimate means an eager broadcast AQE can
    never undo."""
    a = sigs.select(F.col(id_col).alias("doc_a"), "band", "sig")
    b = sigs.select(F.col(id_col).alias("doc_b"), "band", "sig")
    if not trust_stats:
        a = a.hint("merge")
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


# Candidate-doc broadcast bound for verify_jaccard's restriction semi-join:
# the build side is 2 rows of one bigint per candidate pair (pre-distinct);
# 2M pairs = 4M ids, tens of MB serialized -- unambiguously broadcastable.
# Above it (or when the caller cannot cheaply know the count) the semi-join
# is left unhinted and AQE picks the strategy from runtime sizes.
_VERIFY_BROADCAST_MAX_PAIRS = 2_000_000


def verify_jaccard(candidates: DataFrame, shingled: DataFrame,
                   threshold: float, id_col: str = "doc_id",
                   trust_stats: bool = False,
                   n_candidates: int | None = None) -> DataFrame:
    """Exact Jaccard on candidate pairs only: intersection via a shingle
    equi-join restricted to candidates, sizes via a per-doc count.

    r15 (VERDICT r14 #1 -- the sf100 super-linearity fix): the shingle
    table is first RESTRICTED to documents that appear in some candidate
    pair, via a left-semi join on the candidate doc-id list. Semantically
    the identity (every output row references only candidate docs), but it
    changes the 100 TB shape of everything downstream: previously sizes /
    ea / eb each shuffled the FULL corpus-scale shingle table (3 corpus
    shuffles, ~12 GB of shuffle write + sort spill each at the sf100 rung
    -- the measured super-linear driver), now the corpus-scale table is
    only ever probed by a filter and the three verification shuffles carry
    candidate docs' shingles only (bounded by pair count x shingles/doc,
    orders of magnitude smaller at every measured rung). When the caller
    knows the materialized candidate count (`n_candidates`) and it is
    under _VERIFY_BROADCAST_MAX_PAIRS, the doc-id list is broadcast
    explicitly so not even the semi-join shuffles the corpus; otherwise
    the semi-join is unhinted and AQE decides. Callers should pass a
    MATERIALIZED `candidates` (the doc-id list re-executes its lineage).

    trust_stats (r11): True means `shingled` is a MATERIALIZED persist()
    cache whose InMemoryRelation stats are truthful -- the joins are left
    unhinted so initial planning cannot eagerly broadcast a multi-GiB
    postings side (honest size) while AQE's runtime SMJ->BHJ conversion
    recovers the broadcast fast path on small corpora from actual shuffle
    bytes. The default keeps the r10 merge hints because checkpoint-fed
    and explode-fed inputs inherit lying-small size estimates (see
    lsh_candidate_pairs) and an eager mis-broadcast is unrecoverable."""
    cand_docs = candidates.select(F.col("doc_a").alias(id_col)).union(
        candidates.select(F.col("doc_b").alias(id_col))
    )
    if n_candidates is not None and n_candidates <= _VERIFY_BROADCAST_MAX_PAIRS:
        cand_docs = F.broadcast(cand_docs)
    shingled = shingled.join(cand_docs, id_col, "leftsemi")
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    ea = shingled.select(F.col(id_col).alias("doc_a"), "shingle")
    eb = shingled.select(F.col(id_col).alias("doc_b"), "shingle")
    hinted = (lambda df: df) if trust_stats else (lambda df: df.hint("merge"))
    inter = (
        candidates.join(hinted(ea), "doc_a")
        .join(hinted(eb), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        inter.join(hinted(sa), "doc_a")
        .join(hinted(sb), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# stop-shingle broadcast bound for ngram_jaccard_pairs: two-column rows
# (short string, long); 1M rows is tens of MB serialized -- unambiguously
# broadcastable. Above it the anti join shuffles (AQE-planned).
_STOP_SHINGLE_BROADCAST_MAX_ROWS = 1_000_000

# Document-frequency cap of ngram_jaccard_pairs' stop-shingle filter.
_MAX_SHINGLE_DF = 1000


def ngram_jaccard_pairs(shingled: DataFrame, threshold: float = 0.8,
                        id_col: str = "doc_id") -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index join (the
    exact baseline LSH approximates) over the caller's (id, shingle) table,
    e.g. the session-scoped shingle stage in plans/dedup.py. The self-join's
    per-pair match count IS the intersection size, so jaccard comes from
    one join + one aggregate -- no candidate materialization +
    re-verification pass.

    Scale guard: the inverted-index join's row count is bounded by
    sum(df(shingle)^2), so one stop-phrase shared by 1M documents would alone
    generate 10^12 rows. Shingles with document frequency above
    ``_MAX_SHINGLE_DF`` are therefore removed from the shingle UNIVERSE
    before anything else -- the standard stop-element filter: boilerplate
    carries no discrimination, and jaccard is then computed exactly
    (intersection AND sizes) over the filtered universe, keeping the
    measure internally consistent. At test SFs the cap cannot bind (500
    docs < cap=1000), so the DuckDB oracle over unfiltered shingles matches
    bit-for-bit."""
    rare = stop = None
    try:
        dfreq = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        # SIZE-GATE the stop-set broadcast (r10, found by the sf10 spot-
        # bench: the forced hint built a 3.5 GiB broadcast of stop
        # shingles and OOM'd an 8 GiB driver). The stop set is corpus-
        # dependent -- bounded only by |shingle occurrences| / cap -- so
        # the same discipline as annotate_survivors applies: one bounded
        # count over the persisted aggregate picks broadcast when the set
        # is actually small (skipping any shuffle of the big shingle
        # table), shuffled left_anti otherwise -- which is the 100 TB
        # shape regardless. Results are identical either way (same anti
        # join semantics).
        stop = dfreq.where(F.col("_df") > _MAX_SHINGLE_DF).persist()
        stop_side = (
            F.broadcast(stop)
            if stop.count() <= _STOP_SHINGLE_BROADCAST_MAX_ROWS
            else stop
        )
        # rare feeds sizes + both join sides: persist it, or the dfreq
        # aggregation and anti-join would re-run per consumer. MATERIALIZE
        # it before composing the joins (r10): an unmaterialized cache
        # plans with the explode child's size estimate (pre-explode
        # document bytes), the mis-estimate that auto-broadcast a 3.5 GiB
        # postings side and OOM'd the sf10 spot-bench; the materialized
        # InMemoryRelation carries its ACTUAL size, so Catalyst picks
        # broadcast at small corpora and SortMergeJoin at scale on its
        # own (measured both ways) -- truthful stats instead of hints.
        rare = shingled.join(stop_side, "shingle", "left_anti").persist()
        rare.count()
        sizes = rare.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
        ea = rare.select(F.col(id_col).alias("doc_a"), "shingle")
        eb = rare.select(F.col(id_col).alias("doc_b"), "shingle")
        inter = (
            ea.join(eb, "shingle")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
        sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
        jac = F.col("n_inter").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("n_inter")
        )
        result = (
            inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold)
            .localCheckpoint()
        )
    finally:
        if stop is not None:
            stop.unpersist()
        if rare is not None:
            rare.unpersist()
    return result


# Driver-route bound for connected_components: symmetrized edge rows (two
# ids each) below this are solved with union-find on the driver -- the
# same DATA-DEPENDENT size-gating discipline as
# _SURVIVORS_BROADCAST_MAX_ROWS below (2M symmetrized = 1M undirected
# pairs, tens of MB collected). Above it, the distributed min-label loop
# is the only shape that scales.
_CC_DRIVER_MAX_EDGES = 2_000_000

# Round cap of connected_components' distributed min-label loop: pointer
# jumping converges in O(log n) rounds, so 25 covers any real graph.
_CC_MAX_ITER = 25


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b") -> DataFrame:
    """Connected components over an undirected edge list, returning
    (node, component_id) with component_id = min node id in the component --
    the step that turns near-dup *pairs* into dedup *groups* (pick one keeper
    per component, drop the rest).

    Algorithm: distributed min-label propagation with pointer jumping.
    Each round every node takes the min label over {self} U neighbors
    (one equi-join + one partial-aggregated groupBy), then compresses paths
    by replacing its label with its label's label (a second equi-join).
    The jump step makes label trees halve in height every round, so rounds
    are O(log n) in the worst case rather than O(graph diameter) -- the same
    round complexity as the large-star/small-star formulation (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) while
    keeping every step a plain shuffle join Catalyst/AQE can plan. All data
    stays distributed; the driver sees only a one-row convergence count per
    round. Lineage is truncated per round with localCheckpoint so the plan
    does not grow exponentially across iterations.

    Node ids must be integral or string: the driver route orders ids with
    Python ``<`` and the distributed route with Spark ``least``/``min``, and
    for other types (NaN doubles, decimals) the two can disagree, so any
    other id type raises ``ValueError``.
    """
    for col in (src, dst):
        id_type = edges.schema[col].dataType
        if not isinstance(id_type, (T.IntegralType, T.StringType)):
            raise ValueError(
                f"connected_components: node id column {col!r} is "
                f"{id_type.simpleString()}; ids must be integral or string"
            )
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.union(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().persist()
    # Small-graph route (OPTIMIZATION r16): below _CC_DRIVER_MAX_EDGES
    # symmetrized edges, run union-find driver-side instead of the
    # distributed loop. The loop's cost at small scale is pure round
    # machinery -- measured ~9 Spark jobs per round (joins, broadcast
    # builds, the checkpoint, the convergence count) x up to ~12 rounds =
    # 100+ jobs of 10-30 ms work each, ~3 s of scheduler/AQE latency for a
    # graph whose edges fit in one task. The bound is edge COUNT (the
    # count() below doubles as the loop's materialization action), two
    # longs per row -- tens of MB collected at the cap, far under the
    # driver's broadcast-scale allowances elsewhere (annotate_survivors'
    # 1M-row cap). Same fixed point bit for bit: component id = min node
    # id; test_connected_components_equals_union_find asserts BOTH routes
    # against an independent reference on arbitrary hypothesis graphs.
    # At 100 TB dup graphs carry billions of edges and take the loop.
    n_sym = sym.count()
    if n_sym <= _CC_DRIVER_MAX_EDGES:
        spark = edges.sparkSession
        node_type = edges.schema[src].dataType
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in sym.collect():
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        sym.unpersist()
        out_schema = T.StructType(
            [
                T.StructField("doc_id", node_type),
                T.StructField("component_id", node_type),
            ]
        )
        if not parent:
            return spark.createDataFrame(
                spark.sparkContext.parallelize([], 1), out_schema
            )
        nodes = list(parent)
        if isinstance(node_type, (T.LongType, T.IntegerType)):
            # Arrow path (guide §6 driver transfers): createDataFrame from
            # a pandas frame is ~20x faster than pickling row tuples
            # (measured 2.33 s -> ~0.1 s for a 20k-row label table at sf1)
            import pandas as pd

            pdf = pd.DataFrame(
                {
                    "doc_id": nodes,
                    "component_id": [comp_min[find(n)] for n in nodes],
                }
            )
            return spark.createDataFrame(pdf, schema=out_schema)
        return spark.createDataFrame(
            [(n, comp_min[find(n)]) for n in nodes], out_schema
        )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    for it in range(_CC_MAX_ITER):
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("u", "node")
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.col("comp").alias("prev"),
            F.least(
                F.col("comp"), F.coalesce("nbr_comp", "comp")
            ).alias("comp"),
        )
        if it == 0:
            # first-round labels are the identity (comp == node), so the
            # pointer jump comp <- comp(comp) is a no-op join: skip it
            new_labels = stepped.localCheckpoint()
        else:
            # pointer jump: comp <- comp(comp); labels always point at real
            # nodes
            jump = labels.select(
                F.col("node").alias("comp"), F.col("comp").alias("jumped")
            )
            new_labels = stepped.join(jump, "comp", "left").select(
                "node",
                "prev",
                F.least(F.col("comp"), F.coalesce("jumped", "comp")).alias("comp"),
            ).localCheckpoint()
        # convergence reads the ALREADY-materialized checkpoint (the prior
        # label rode along through the round as `prev`), so it costs a
        # count over it -- not a new-vs-old labels join
        changed = new_labels.where(F.col("comp") != F.col("prev")).count()
        labels = new_labels.drop("prev")
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component_id")
    )


# `annotate_survivors` broadcast bound: the component table is
# DATA-DEPENDENT -- one row per document with any near-duplicate, and
# 20-40% dup fractions are normal on raw web crawls -- so broadcasting
# it unconditionally OOMs the driver/executors at scale. Below this
# row count (two-long rows, tens of MB serialized) broadcast is
# unambiguously safe and skips the corpus-side shuffle; above it the
# plain shuffled left join is the 100 TB default.
_SURVIVORS_BROADCAST_MAX_ROWS = 1_000_000


def annotate_survivors(
    docs: DataFrame,
    comps: DataFrame,
    id_col: str = "doc_id",
    comp_col: str = "component_id",
) -> DataFrame:
    """Materialize the dedup decision over the FULL corpus: left-join the
    (node, component) labels from `connected_components` back onto every
    document and annotate `canonical_id` (the component's min id, or the
    doc itself when it has no duplicates) and `kept` (whether the row
    survives). Downstream training reads ``WHERE kept``.

    Auto-routes the join (r10, verdict #2 -- same discipline as
    `cosine_pairs_above_auto`): one count over the already-materialized
    (localCheckpointed) label table picks broadcast when comps is small,
    shuffled left join otherwise. Both branches are bit-identical by
    construction (same join keys, same projection; test-pinned)."""
    c = comps.select(F.col(id_col), F.col(comp_col).alias("_cid"))
    if comps.count() <= _SURVIVORS_BROADCAST_MAX_ROWS:
        c = F.broadcast(c)
    return docs.join(c, id_col, "left").select(
        *[F.col(x) for x in docs.columns],
        F.coalesce("_cid", id_col).alias("canonical_id"),
        (F.coalesce("_cid", id_col) == F.col(id_col)).alias("kept"),
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """SimHash over whitespace tokens with an md5-derived bit source:
    bit b of a token = (hex_digit(md5[b div 4]) >> (b mod 4)) & 1.
    Per-doc hash = sign of the per-bit vote sum. Identical construction is
    expressible in the DuckDB oracle, so values hash-check."""
    spark = df.sparkSession
    df = df.repartition(_explode_partitions(df), id_col)
    toked = df.select(id_col, F.explode(tokens(text_col)).alias("token"))

    # bit b of a token: nibble (b div 4) of the md5 hex, bit (b mod 4).
    def contrib(b: int):
        return F.expr(
            f"((instr('0123456789abcdef',"
            f" substring(md5(token), ({b} div 4) + 1, 1)) - 1)"
            f" div cast(pow(2, {b} % 4) as int)) % 2 * 2 - 1"
        )

    # ONE wide aggregate (bits vote columns per doc) instead of
    # crossJoin(bit_ids) + (doc, b) groupBy: the shuffle carries one row
    # per doc, not bits rows per TOKEN, and partial aggregation collapses
    # everything map-side -- the same wide-agg shape as
    # minhash_signatures. Values are identical (same per-token +-1 votes).
    votes = toked.groupBy(id_col).agg(
        *[F.sum(contrib(b)).alias(f"_v{b}") for b in range(bits)]
    )
    packed = None
    for b in range(bits):
        term = F.when(F.col(f"_v{b}") > 0, F.lit(2 ** b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        packed = term if packed is None else packed + term
    return votes.select(id_col, packed.alias("simhash"))
