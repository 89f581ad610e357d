"""Keyed state table -- the engine's replacement for durable entities
(EntityFunctions.cs) and orchestration instance registries.

Schema: (entity_type, key, value, updated_at). The reference keeps two
entity families keyed by table name -- LastError {message, date}
(EntityFunctions.cs:8-27) and AllowedColumns {csv} (:32-47) -- plus
singleton orchestration instances keyed by table (RetryFunctions.cs:92).
All three map onto rows here.

Storage: a parquet directory laid out as
``entity_type=<t>/bucket=<md5(key) % N>/``; an upsert reads, merges, and
overwrites ONLY the one (entity_type, bucket) partition its key hashes to,
so concurrent upserts against different tables touch disjoint files and the
write cost is O(keys-in-bucket), never O(state). Point operations (`get`
and the read half of `upsert`) read that one partition directory on the
driver with pyarrow: no Spark job is planned or run, so the allowlist read
every micro-batch makes costs milliseconds, not a job launch. There is no
cache -- every call re-reads the directory, so a write between two batches
applies to the second. Only the analytic scan (`as_dataframe`) and the
partition rewrite go through Spark. On a cluster this layout maps 1:1 onto
a Delta table partitioned the same way with `MERGE INTO`; the API is shaped
so that swap is one method body. The md5 bucket (not Spark's hash()) keeps
the layout engine-portable and stable across versions.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

# data files inside a partition carry only the non-partition columns
_PART_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

N_BUCKETS = 16


def _local_df(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """createDataFrame over a SINGLE-slice RDD. The default createDataFrame
    path parallelizes local rows into defaultParallelism slices; any
    single-task consumer (coalesce(1) write, collect of a one-row frame)
    then pays one sequential Python-worker roundtrip PER SLICE -- measured
    ~5 s for a ONE-ROW frame at local[32]. One slice = one roundtrip, and
    state frames are tiny by construction. (Shared with the streaming-parity
    result frames in plans/windows.py, which are equally tiny.)"""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


LAST_ERROR = "LastError"          # EntityFunctions.cs:8
ALLOWED_COLUMNS = "AllowedColumns"  # EntityFunctions.cs:32


def key_bucket(key: str, n_buckets: int = N_BUCKETS) -> int:
    """Stable, engine-portable bucket id for a state key."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % n_buckets


def _read_rows(part_dir: str) -> list[tuple[str, str | None, datetime]]:
    """Every (key, value, updated_at) row of one partition directory, read
    on the driver. A missing directory or one without data files is empty;
    Spark's `_SUCCESS` and `.crc` side files are skipped, and a directory
    holding several part files is read whole. Spark stores updated_at as
    INT96, a naive stamp of the UTC instant; it is read at microsecond
    unit (Spark's precision; nanoseconds overflow past year 2262) and comes
    back as an aware UTC datetime, so a rewrite stores the same instant."""
    try:
        names = sorted(os.listdir(part_dir))
    except FileNotFoundError:
        return []
    rows: list[tuple[str, str | None, datetime]] = []
    for name in names:
        if name.startswith(("_", ".")):
            continue
        t = pq.read_table(os.path.join(part_dir, name),
                          columns=["key", "value", "updated_at"],
                          coerce_int96_timestamp_unit="us")
        ts = t.column("updated_at").cast(pa.timestamp("us", tz="UTC"))
        rows.extend(zip(t.column("key").to_pylist(),
                        t.column("value").to_pylist(), ts.to_pylist()))
    return rows


def _latest(rows: list[tuple[str, str | None, datetime]]) -> dict[str, tuple]:
    """key -> (value, updated_at) of its latest-stamped row. Only a crashed
    writer leaves two rows for one key; the latest stamp resolves them."""
    latest: dict[str, tuple] = {}
    for k, v, ts in sorted(rows, key=lambda r: r[2]):
        latest[k] = (v, ts)
    return latest


class StateStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _partition_dir(self, entity_type: str, key: str) -> str:
        return os.path.join(
            self.path,
            f"entity_type={entity_type}",
            f"bucket={key_bucket(key)}",
        )

    def _read(self) -> DataFrame:
        if not os.path.isdir(self.path) or not os.listdir(self.path):
            return _local_df(self.spark, [], STATE_SCHEMA)
        df = (
            self.spark.read.schema(_PART_SCHEMA)
            .option("basePath", self.path)
            .parquet(self.path)
        )
        # partition-dir columns come back from directory names; normalize
        # types/order to STATE_SCHEMA
        return df.select(
            F.col("entity_type").cast("string"),
            "key",
            "value",
            "updated_at",
        )

    def upsert(self, entity_type: str, key: str, value: str | None) -> None:
        """MERGE-style last-writer-wins upsert (EntityFunctions.cs Save ops),
        rewriting only the (entity_type, bucket) partition the key lives in --
        untouched keys' files are never rewritten (asserted in
        tests/test_state_retry.py).

        Last-writer-wins is defined by CALL order, not by stored timestamps:
        the incoming write replaces the key's row unconditionally, even if an
        existing row carries a LATER updated_at (clock skew between writers).
        That matches the reference's entity semantics -- a durable entity
        applies operations in arrival order, it never compares wall clocks
        (EntityFunctions.cs:17-21) -- and it makes the merge deterministic
        where a timestamp comparison would break ties by collect() order.
        Pinned by tests/test_state_retry.py (clock-skew case)."""
        now = datetime.now(timezone.utc)
        part_dir = self._partition_dir(entity_type, key)
        # The partition is tiny BY CONSTRUCTION (one row per table in this
        # bucket), so the last-writer-wins merge happens on the driver: one
        # read (_read_rows, no Spark job) + one single-file overwrite. A
        # Spark-side merge (union + row_number window) plans a shuffle for a
        # one-row merge. Cost is O(keys in this bucket), never O(state); a
        # Delta deployment swaps the body for MERGE INTO on the same
        # (entity_type, bucket) partition.
        latest = _latest(_read_rows(part_dir))
        latest[key] = (value, now)
        rows = [(k, v, ts) for k, (v, ts) in latest.items()]
        out = _local_df(self.spark, rows, _PART_SCHEMA)
        out.write.mode("overwrite").parquet(part_dir)

    def get(self, entity_type: str, key: str) -> str | None:
        """Keyed point lookup (ClientAllowedColumnsFunction.cs:47-56): reads
        exactly one partition directory on the driver, no Spark job."""
        hit = _latest(_read_rows(self._partition_dir(entity_type, key))).get(key)
        return hit[0] if hit else None

    def save_last_error(self, table: str, message: str) -> None:
        """A10: LastError upsert with UTC stamp (EntityFunctions.cs:17-21,
        signaled at ExecuteTriggerHelper.cs:129-131)."""
        self.upsert(LAST_ERROR, table, message)

    def save_allowed_columns(self, table: str, csv: str) -> None:
        """A11 (ClientAllowedColumnsFunction.cs:16-26)."""
        self.upsert(ALLOWED_COLUMNS, table, csv)

    def get_allowed_columns(self, table: str) -> str | None:
        return self.get(ALLOWED_COLUMNS, table)

    def as_dataframe(self) -> DataFrame:
        return self._read()
