"""Text-format ingestion round-trips: JSONL and CSV -- the two formats
training corpora actually arrive in (web-crawl dumps, vendor exports)
before anything becomes parquet. Each query stages the documents table in
the text format ONCE per session, reads it back through the engine's
source (explicit schema -- production never infers), and emits per-row
fidelity evidence (md5 of the text plus the identifying columns). The
oracle is the PARQUET ground truth, so the driver hash proves the
write -> escape -> parse -> read chain is lossless: any quoting, escaping,
null-vs-empty, or encoding drift in either direction breaks the hash.

Scale shape: both sources split by line/record and read in parallel
exactly like parquet (JSONL is splittable by construction; the CSV reader
is run in multiLine=false mode here, the splittable fast path, because the
staged write quotes embedded newlines away -- see csv options below). The
staging write is the same one-shuffle discipline as the partitioned
layout stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqldataintegrationfunctiontriggerapp_spark.catalog import load_table
from sqldataintegrationfunctiontriggerapp_spark.plans.registry import register

_ROUNDTRIP_ORACLE = """
SELECT doc_id, source,
       CAST(LENGTH(text) AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


def _staged_text_format(spark: SparkSession, sf_dir: str, fmt: str,
                        **options) -> str:
    """Write documents in `fmt` once per session+sf_dir; returns the dir."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        StagedDir,
        session_stage,
    )

    def build():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"ingest_{fmt}_{tag}_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = os.path.join(base, f"documents_{fmt}")
        w = load_table(spark, sf_dir, "documents").write
        for k, v in options.items():
            w = w.option(k, v)
        getattr(w, fmt)(path)
        return StagedDir(path)

    # options participate in the memo key: the gzip JSONL stage must not
    # collide with the plain JSONL one (same fmt, different bytes)
    okey = "_".join(f"{k}-{v}" for k, v in sorted(options.items()))
    return session_stage(
        spark, sf_dir, f"documents_as_{fmt}{'_' + okey if okey else ''}",
        build,
    )


@register("jsonl_ingest_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def jsonl_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL (one JSON object per line -- the de-facto LLM corpus
    interchange format) through the engine's own writer and reader:
    documents -> .write.json (standard JSON string escaping: embedded
    newlines, quotes, and control characters become \\n, \\", \\uXXXX,
    which is exactly what keeps the format line-splittable) -> read back
    with the EXPLICIT parquet schema (inference is a correctness and
    stability hazard in production ingest; cf. reference
    Function1.cs:31-38 deserializing typed config rather than guessing).
    Output hashes md5(text) per row against the parquet ground truth --
    the oracle never sees the JSON, so a lossy escape or parse on either
    leg breaks the driver hash.

    At 100 TB this is the entry point of every pipeline stage upstream of
    parquet: JSONL splits by line, so the read parallelizes exactly like
    the parquet scan, and the explicit schema keeps one malformed vendor
    record from silently retyping a column for the whole job."""
    docs = load_table(spark, sf_dir, "documents")
    path = _staged_text_format(spark, sf_dir, "json")
    back = spark.read.schema(docs.schema).json(str(path))
    return back.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


@register("jsonl_gzip_ingest_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def jsonl_gzip_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped JSONL -- how crawl dumps and most vendor corpus drops
    actually arrive (CommonCrawl WET/WARC sidecars, HF dataset shards):
    documents -> .write.option(compression=gzip).json -> read back with
    the explicit schema, hashed per row against the parquet ground truth
    like the plain-JSONL sibling.

    The 100 TB note this entry exists to pin: gzip is NOT splittable --
    one .json.gz file is one read task no matter its size, so ingest
    parallelism = file count, not byte count. The staged write inherits
    the source's partitioning (multiple .gz parts), which is exactly the
    production mitigation: many medium gzip shards, or recompress to a
    splittable codec at the first parquet hop (what every other entry in
    this registry reads). A single 100 GB .json.gz is the classic
    one-straggler ingest bug; this entry is the tested evidence the
    engine handles the format, and its docstring is the warning label."""
    docs = load_table(spark, sf_dir, "documents")
    path = _staged_text_format(
        spark, sf_dir, "json", compression="gzip"
    )
    back = spark.read.schema(docs.schema).json(str(path))
    return back.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


@register("csv_ingest_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def csv_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV through the engine's writer and reader with the quoting rules
    pinned explicitly (header, quote '"', escape '"' -- RFC-4180 doubled
    quotes, NOT the backslash default that round-trips badly against
    other tools; empty string vs NULL disambiguated via emptyValue), read
    back with the explicit schema. Same parquet-ground-truth oracle as
    the JSONL sibling: the hash catches any quote/escape/null asymmetry
    between the write and read legs -- the classic silent corpus
    corruption when CSV options drift between producer and consumer.

    multiLine stays FALSE (the splittable fast path): Spark's CSV writer
    quotes embedded newlines, but reading those back requires
    multiLine=true, which makes files unsplittable -- so production
    either bans embedded newlines at write time or pays the single-task
    read. The fixture text is newline-free; a corpus that is not should
    arrive as JSONL (the sibling query) instead."""
    docs = load_table(spark, sf_dir, "documents")
    path = _staged_text_format(
        spark, sf_dir, "csv",
        header="true", quote='"', escape='"', emptyValue="",
    )
    back = (
        spark.read.schema(docs.schema)
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("emptyValue", "")
        .csv(str(path))
    )
    return back.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


@register(
    "streaming_jsonl_ingest_parity",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY source
    """,
)
def streaming_jsonl_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING leg of the JSONL story: the staged JSONL corpus (the
    same session-staged files jsonl_ingest_roundtrip reads in batch)
    replayed through readStream.json one file per trigger, feeding a
    complete-mode per-source aggregate into a memory sink -- the tail/
    backfill shape of a live corpus feed. The oracle aggregates the
    PARQUET ground truth, so the driver hash proves the streaming JSON
    source parses every record the batch reader does (schema enforced,
    never inferred) and the stateful aggregate accumulates across
    micro-batches without loss or double-count -- the exactly-once
    contract, now pinned for a TEXT source (every other parity streams
    parquet).

    Scale shape: per micro-batch one map-side-combined partial aggregate;
    state is one row per source. The sum over LENGTH(text) (not the
    precomputed n_chars column) is deliberate: it makes the hash depend
    on the PARSED text of every record, so a single mis-unescaped line
    anywhere in the replay breaks it."""
    import shutil
    import tempfile

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        session_stage,
        state_partitions,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = _staged_text_format(spark, sf_dir, "json")

    def build():
        shuffle_conf = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(shuffle_conf)
        ckpt = q = None
        sink = "jsonl_ingest_counts"
        try:
            spark.conf.set(shuffle_conf, state_partitions())
            ckpt = tempfile.mkdtemp(prefix="jsonl_ingest_ckpt_")
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .json(str(path))
            )
            agg = stream.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.length("text")).cast("long").alias("sum_chars"),
            )
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.table(sink).localCheckpoint()
        finally:
            spark.conf.set(shuffle_conf, prev)
            if q is not None:
                try:
                    q.stop()
                except Exception:
                    pass
            if ckpt is not None:
                shutil.rmtree(ckpt, ignore_errors=True)

    return session_stage(spark, sf_dir, "jsonl_ingest_parity", build)


# Deterministic second snapshot of `documents`, derived in both engines
# with identical arithmetic: doc_id % 97 == 0 rows are DELETED in v2,
# doc_id % 89 == 0 rows have their text amended, one synthetic row is
# ADDED per source (doc_id = source-max + 1000000).
_V2_SQL = """
        SELECT doc_id,
               CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]'
                    ELSE text END AS text,
               source
        FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT MAX(doc_id) + 1000000 AS doc_id,
               'new in v2' AS text, source
        FROM documents GROUP BY source
"""


@register(
    "dataset_snapshot_diff",
    oracle=f"""
    WITH v1 AS (SELECT doc_id, text, source FROM documents),
    v2 AS ({_V2_SQL}),
    j AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
               COALESCE(a.source, b.source) AS source,
               CASE WHEN a.doc_id IS NULL THEN 'added'
                    WHEN b.doc_id IS NULL THEN 'removed'
                    WHEN a.text <> b.text THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n
    FROM j GROUP BY source, status
    """,
)
def dataset_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff -- the audit every corpus release needs before
    shipping snapshot N+1 (what changed, where, how much -- regressions
    in a source's volume or unexpected churn are release blockers): a
    key-aligned FULL OUTER JOIN of two snapshots classifying every
    document added / removed / changed / unchanged, rolled up per
    (source, status). The second snapshot is derived deterministically
    from the first with identical arithmetic in both engines (delete
    doc_id % 97, amend text at doc_id % 89, add one row per source), so
    the oracle hash pins the diff CLASSIFIER -- the null-side logic,
    the text comparison, the coalesced key -- not the fixture.

    Scale shape: one full outer join keyed by doc_id (both sides
    pre-partitionable by the key; at rest this is a bucketed-layout
    merge join -- join_bucketed_colocated's shape) and one tiny
    (source x 4) hash aggregate. At 100 TB the text comparison rides
    the join; production diffs compare a content HASH column instead of
    raw text to keep the shuffle rows narrow -- same plan, narrower
    payload."""
    v1 = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    base = v1.where(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 89 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    added = (
        v1.groupBy("source")
        .agg((F.max("doc_id") + 1000000).alias("doc_id"))
        .select("doc_id", F.lit("new in v2").alias("text"), "source")
    )
    v2 = base.unionByName(added)
    a = v1.alias("a")
    b = v2.alias("b")
    j = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.text") != F.col("b.text"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return j.groupBy("source", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@register(
    "union_schema_evolution",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, source, CAST(NULL AS VARCHAR) AS lang_detected,
               'v1' AS snapshot
        FROM documents
    ),
    v2 AS (
        SELECT doc_id, source, lang AS lang_detected, 'v2' AS snapshot
        FROM documents WHERE doc_id % 2 = 0
    )
    SELECT snapshot, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang_detected IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing_lang
    FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    GROUP BY snapshot, source
    """,
)
def union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union -- the ingestion reality that snapshot N+1
    carries columns snapshot N lacks (here: a lang_detected column added
    in v2): `unionByName(allowMissingColumns=True)` aligns by NAME and
    fills the missing column with NULLs, where positional UNION would
    silently misalign or fail. The output summarizes per (snapshot,
    source): row count and how many rows lack the new column -- exactly
    the backfill-progress report a rolling schema migration watches.
    The oracle spells the alignment out longhand (explicit NULL
    projection + UNION ALL), so the hash proves the convenience API's
    semantics equal the explicit form.

    Scale shape: union is plan-level (no shuffle -- both legs scan
    straight into the shared aggregate); one hash aggregate on
    (snapshot, source). Column-name alignment happens at ANALYSIS time,
    which is the point: drift fails the job at plan time, not silently
    at row 10^12."""
    d = load_table(spark, sf_dir, "documents")
    v1 = d.select("doc_id", "source", F.lit("v1").alias("snapshot"))
    v2 = d.where(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        "source",
        F.col("lang").alias("lang_detected"),
        F.lit("v2").alias("snapshot"),
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return u.groupBy("snapshot", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("lang_detected").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing_lang"),
    )


@register("orc_ingest_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def orc_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC through the engine's writer and reader -- the third interchange
    format beside JSONL and CSV, and the one that matters when the
    upstream warehouse is Hive/Trino-flavored (ORC is their native
    columnar format the way parquet is Spark's). Written and read with
    Spark's built-in ORC support and the explicit schema; output hashes
    md5(text) per row against the PARQUET ground truth exactly like the
    siblings, so any encoding asymmetry between the ORC write and read
    legs (string dictionary handling, null vs empty) breaks the driver
    hash. The oracle never sees the ORC bytes.

    At 100 TB: ORC splits by stripe like parquet splits by row group, so
    the scan parallelizes identically; predicate pushdown and column
    pruning work through the same DataSource V2 machinery (the format
    choice is an interop concern, not a plan-shape concern -- which is
    the point this query pins)."""
    docs = load_table(spark, sf_dir, "documents")
    path = _staged_text_format(spark, sf_dir, "orc")
    back = spark.read.schema(docs.schema).orc(str(path))
    return back.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


def _staged_warc_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the documents fixture as WARC shards (CommonCrawl's container
    format: WARC/1.0 header block + blank line + payload + two CRLFs per
    record), gzip-compressed whole-file like real *.warc.gz drops, ~50
    records per shard. Built once per session+sf_dir. The collect() here
    is FIXTURE SYNTHESIS only (a gzip writer needs the bytes in one
    place; production WARC arrives as files and never passes through the
    driver) -- the query under test is the parse side."""
    import atexit
    import gzip
    import hashlib
    import os
    import shutil
    import tempfile

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        StagedDir,
        session_stage,
    )

    def build():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"warc_{tag}_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        rows = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "text")
            .collect()
        )
        rows.sort(key=lambda r: r.doc_id)
        shard, shard_no = [], 0

        def flush():
            nonlocal shard, shard_no
            if not shard:
                return
            path = os.path.join(base, f"shard-{shard_no:05d}.warc.gz")
            with gzip.open(path, "wb") as f:
                f.write(b"".join(shard))
            shard, shard_no = [], shard_no + 1

        for r in rows:
            payload = (r.text or "").encode("utf-8")
            rec = (
                b"WARC/1.0\r\n"
                b"WARC-Type: resource\r\n"
                + f"WARC-Record-ID: <urn:doc:{r.doc_id}>\r\n".encode()
                + f"WARC-Target-URI: https://{r.source}/doc/{r.doc_id}\r\n".encode()
                + f"Content-Length: {len(payload)}\r\n".encode()
                + b"\r\n" + payload + b"\r\n\r\n"
            )
            shard.append(rec)
            if len(shard) >= 50:
                flush()
        flush()
        return StagedDir(base)

    return session_stage(spark, sf_dir, "documents_as_warc", build)


@register("warc_ingest_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def warc_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC -- the container CommonCrawl actually ships -- parsed by the
    engine: the staged *.warc.gz shards are read whole-file through the
    binaryFile source (the production shape: a .gz WARC is unsplittable,
    so the unit of parallelism is the shard, exactly how CC jobs run) and
    parsed record-by-record in an Arrow-batched mapInPandas: gunzip,
    split on the record boundary, parse the WARC header block
    (Record-ID, Target-URI, Content-Length), and slice the payload by
    Content-Length -- the header fields, not guesswork, determine the
    payload extent, so embedded blank lines in a payload cannot desync
    the parser. Output hashes md5(text) per record against the parquet
    ground truth (the oracle never sees a WARC byte): a header parse
    slip, a CRLF off-by-one, or a Content-Length misread breaks the
    hash. Records with malformed headers are SKIPPED (per-record
    degradation), which the count-complete hash also catches.

    100 TB shape: one binaryFile scan, no shuffle; per-task memory is one
    shard (the reason real WARC shards are ~1 GB); everything after the
    gunzip is bytes arithmetic."""
    import gzip as gzmod
    import re as remod
    from typing import Iterator

    import pandas as pd

    src = _staged_warc_dir(spark, sf_dir)
    files = spark.read.format("binaryFile").load(
        str(src) + "/*.warc.gz"
    ).select("content")

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hdr_re = remod.compile(
            rb"WARC-Record-ID: <urn:doc:(\d+)>\r\n"
            rb"WARC-Target-URI: https://([^/]+)/doc/\d+\r\n"
            rb"Content-Length: (\d+)\r\n"
        )
        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                raw = gzmod.decompress(bytes(blob))
                pos = 0
                while True:
                    start = raw.find(b"WARC/1.0\r\n", pos)
                    if start < 0:
                        break
                    hdr_end = raw.find(b"\r\n\r\n", start)
                    if hdr_end < 0:
                        break
                    m = hdr_re.search(raw[start:hdr_end + 2])
                    if m is None:
                        pos = hdr_end + 4
                        continue  # malformed record: skip, keep walking
                    clen = int(m.group(3))
                    body = raw[hdr_end + 4 : hdr_end + 4 + clen]
                    out.append(
                        (int(m.group(1)), m.group(2).decode(),
                         body.decode("utf-8"))
                    )
                    pos = hdr_end + 4 + clen
            df = pd.DataFrame(
                out, columns=["doc_id", "source", "text"]
            )
            yield df

    parsed = files.mapInPandas(
        _parse, schema="doc_id bigint, source string, text string"
    )
    return parsed.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


# ---------------------------------------------------------------------------
# Composed crawl front door (VERDICT r14 #4): WARC -> HTML visible text ->
# canonical URL -> Gopher quality gate -> exact-dup drop, ONE lazy plan.
# Every stage reuses the exact column builders its standalone oracle-pinned
# entry runs (plans/cleaning.py), so this entry verifies the COMPOSITION,
# not re-implementations.


def _staged_crawl_warc_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as gzip'd WARC shards whose payloads are HTML pages
    (constant 'Crawl Page' title so cross-document duplicate BODIES share
    a dedup key) and whose Target-URIs are the messy-URL closed form the
    url_normalization fixture uses. Every doc_id % 7 == 0 page is emitted
    TWICE -- once more from a 'mirror' host with its own messy URI -- so
    the exact-dup drop has real work at every scale (the sf0.01 corpus
    itself is 100% distinct). The collect() is FIXTURE SYNTHESIS only,
    same bound as _staged_warc_dir above."""
    import atexit
    import gzip
    import hashlib
    import os
    import shutil
    import tempfile

    from sqldataintegrationfunctiontriggerapp_spark.plans._util import (
        StagedDir,
        session_stage,
    )

    def messy_url(d: int) -> str:
        scheme = "HTTP" if d % 2 == 0 else "https"
        u = f"{scheme}://WWW.ExAmple{d % 10}.COM/Articles/{d}"
        if d % 4 == 0:
            u += "/"
        u += f"?utm_source=feed&id={d}&utm_medium=rss"
        if d % 5 == 0:
            u += "&ref=home"
        return u + f"#Section{d % 7}"

    def mirror_url(d: int) -> str:
        return (
            f"https://MIRROR-{d % 10}.ExAmple.NET/Articles/{d}/"
            f"?id={d}&utm_campaign=x#frag"
        )

    def page_html(text: str) -> bytes:
        enc = (text or "").replace("&", "&amp;").replace(" ", "&nbsp;")
        return (
            "<html><head><title>Crawl Page</title>"
            "<script>var x = 1 &amp; 2; if (x<3) {}</script>"
            "<style>p { color: red; }</style></head>"
            "<body><h1>Crawl Page</h1><p>" + enc +
            "</p><!-- crawl noise &amp; <fake tags> --></body></html>"
        ).encode("utf-8")

    def build():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"crawlwarc_{tag}_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        rows = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .collect()
        )
        rows.sort(key=lambda r: r.doc_id)
        shard, shard_no = [], 0

        def rec(rid: str, uri: str, payload: bytes) -> bytes:
            return (
                b"WARC/1.0\r\n"
                b"WARC-Type: response\r\n"
                + f"WARC-Record-ID: <{rid}>\r\n".encode()
                + f"WARC-Target-URI: {uri}\r\n".encode()
                + f"Content-Length: {len(payload)}\r\n".encode()
                + b"\r\n" + payload + b"\r\n\r\n"
            )

        def flush():
            nonlocal shard, shard_no
            if not shard:
                return
            path = os.path.join(base, f"shard-{shard_no:05d}.warc.gz")
            with gzip.open(path, "wb") as f:
                f.write(b"".join(shard))
            shard, shard_no = [], shard_no + 1

        for r in rows:
            d = int(r.doc_id)
            payload = page_html(r.text)
            shard.append(rec(f"urn:doc:{d}", messy_url(d), payload))
            if d % 7 == 0:
                shard.append(rec(f"urn:doc:{d}.m1", mirror_url(d), payload))
            if len(shard) >= 50:
                flush()
        flush()
        return StagedDir(base)

    return session_stage(spark, sf_dir, "documents_as_crawl_warc", build)


_CRAWL_TOKS = "list_filter(regexp_split_to_array(extracted, '\\s+'), x -> x <> '')"


def _crawl_pipeline_oracle() -> str:
    from sqldataintegrationfunctiontriggerapp_spark.plans.cleaning import (
        gopher_metrics_sql,
        gopher_pass_sql,
    )

    return f"""
    WITH base AS (
        SELECT doc_id,
               'Crawl Page Crawl Page'
               || CASE WHEN TRIM(regexp_replace(text, '\\s+', ' ', 'g'))
                            = '' THEN ''
                       ELSE ' ' || TRIM(regexp_replace(text, '\\s+', ' ',
                                                       'g')) END AS extracted
        FROM documents
    ),
    urls AS (
        SELECT doc_id, extracted,
               (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
                   || '://example' || CAST(doc_id % 10 AS VARCHAR)
                   || '.com/Articles/' || CAST(doc_id AS VARCHAR)
                   || '?id=' || CAST(doc_id AS VARCHAR)
                   || CASE WHEN doc_id % 5 = 0 THEN '&ref=home' ELSE '' END
                   AS norm_url,
               'example' || CAST(doc_id % 10 AS VARCHAR) || '.com' AS domain
        FROM base
        UNION ALL
        SELECT doc_id, extracted,
               'https://mirror-' || CAST(doc_id % 10 AS VARCHAR)
                   || '.example.net/Articles/' || CAST(doc_id AS VARCHAR)
                   || '?id=' || CAST(doc_id AS VARCHAR) AS norm_url,
               'example.net' AS domain
        FROM base WHERE doc_id % 7 = 0
    ),
    m AS (
        SELECT doc_id, norm_url, domain, extracted,
               {gopher_metrics_sql(_CRAWL_TOKS)}
        FROM urls
    ),
    q AS (SELECT * FROM m WHERE {gopher_pass_sql()}),
    d AS (
        SELECT doc_id, norm_url, domain, n_words,
               md5(extracted) AS extracted_md5,
               ROW_NUMBER() OVER (PARTITION BY md5(extracted)
                                  ORDER BY doc_id, norm_url) AS rn,
               COUNT(*) OVER (PARTITION BY md5(extracted)) AS n_copies
        FROM q
    )
    SELECT doc_id, norm_url, domain, CAST(n_words AS BIGINT) AS n_words,
           extracted_md5, CAST(n_copies AS BIGINT) AS n_copies
    FROM d WHERE rn = 1
    """


@register("crawl_curation_pipeline", oracle=_crawl_pipeline_oracle())
def crawl_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB crawl front door as ONE lazy plan: *.warc.gz shards
    (binaryFile scan, unit of parallelism = shard, exactly how
    CommonCrawl jobs run) -> Arrow-batched WARC record parse -> HTML
    visible-text extraction (the plans/cleaning.py codegen regexp
    ladder, no parser UDF) -> URL canonicalization (parse_url builtin
    chain) -> Gopher quality gate (integer rule table) -> exact-dup
    drop on md5(extracted) keeping the (doc_id, norm_url)-min copy with
    its copy count. Every stage is the SAME column builder its
    standalone entry pins (visible_text_from_html / canonical_url_parts
    / gopher_metric_cols / gopher_rule_exprs), so this entry's hash
    proves the stages compose.

    THE ORACLE NEVER SEES A WARC OR HTML BYTE: it recomputes the
    expected survivors from the parquet ground truth with the same
    closed forms the per-stage oracles use, composed as CTEs.

    Scale shape: one binaryFile scan; parse is one mapInPandas pass
    (per-task memory = one shard, the reason real WARC shards are
    ~1 GB); extraction/canonicalization/gate are fused codegen column
    work with NO shuffle; the ONLY shuffle in the plan is the dedup-key
    window (row_number + count share one partitioning). Mirrored pages
    (doc_id % 7 == 0 staged twice from a mirror host) plus corpus-level
    duplicate bodies (present from sf0.1 up; the constant page title
    keeps their dedup keys equal) give the drop real work."""
    from pyspark.sql import Window

    from sqldataintegrationfunctiontriggerapp_spark.functions import text as TX
    from sqldataintegrationfunctiontriggerapp_spark.plans.cleaning import (
        canonical_url_parts,
        gopher_metric_cols,
        gopher_rule_exprs,
        visible_text_from_html,
    )

    src = _staged_crawl_warc_dir(spark, sf_dir)
    files = spark.read.format("binaryFile").load(
        str(src) + "/*.warc.gz"
    ).select("content")

    def _parse(batches):
        import gzip as gzmod
        import re as remod

        import pandas as pd

        hdr_re = remod.compile(
            rb"WARC-Record-ID: <urn:doc:(\d+)(?:\.m\d+)?>\r\n"
            rb"WARC-Target-URI: ([^\r]+)\r\n"
            rb"Content-Length: (\d+)\r\n"
        )
        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                raw = gzmod.decompress(bytes(blob))
                pos = 0
                while True:
                    start = raw.find(b"WARC/1.0\r\n", pos)
                    if start < 0:
                        break
                    hdr_end = raw.find(b"\r\n\r\n", start)
                    if hdr_end < 0:
                        break
                    m = hdr_re.search(raw[start:hdr_end + 2])
                    if m is None:
                        pos = hdr_end + 4
                        continue  # malformed record: skip, keep walking
                    clen = int(m.group(3))
                    body = raw[hdr_end + 4 : hdr_end + 4 + clen]
                    out.append(
                        (int(m.group(1)), m.group(2).decode(),
                         body.decode("utf-8"))
                    )
                    pos = hdr_end + 4 + clen
            yield pd.DataFrame(out, columns=["doc_id", "url", "html"])

    parsed = files.mapInPandas(
        _parse, schema="doc_id bigint, url string, html string"
    )
    norm, domain, _kept = canonical_url_parts(F.col("url"))
    enriched = parsed.select(
        "doc_id",
        norm.alias("norm_url"),
        domain.alias("domain"),
        visible_text_from_html(F.col("html")).alias("extracted"),
    )
    m = enriched.select(
        "doc_id", "norm_url", "domain", "extracted",
        *gopher_metric_cols(TX.tokens(F.col("extracted"))),
    )
    q = m.where(gopher_rule_exprs()["passes"]).withColumn(
        "extracted_md5", F.md5("extracted")
    )
    w = Window.partitionBy("extracted_md5").orderBy("doc_id", "norm_url")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        q.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(whole))
        .where(F.col("rn") == 1)
        .select(
            "doc_id", "norm_url", "domain",
            F.col("n_words").cast("long").alias("n_words"),
            "extracted_md5",
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )
