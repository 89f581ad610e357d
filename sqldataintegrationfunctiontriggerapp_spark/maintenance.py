"""Retention GC -- the engine's CleanupFunction (CleanupFunction.cs:10-40).

The reference purges orchestration history weekly (cron 0 0 4 * * Sun):
Completed instances older than KeepInstanceCompletedHistoryDays, and
Terminated/Suspended/Failed older than a cutoff; then clears orphaned entity
state. (It also has a bug -- failedDays is read but completedDays is reused
at :26; the engine implements the *intended* behavior and documents the
divergence.)

Engine shape: a log table (status, created_at) is rewritten to its surviving
rows -- on Delta this is `DELETE WHERE` + VACUUM; on plain parquet a
filtered overwrite. Cost scales with the log table, never with data tables.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPLETED = "Completed"
FAILED_STATES = ("Failed", "Terminated", "Suspended")  # CleanupFunction.cs:28-33


def purge_predicate(now: datetime, completed_days: int, failed_days: int):
    """Rows to DELETE (CleanupFunction.cs:13-34, intended semantics)."""
    completed_cutoff = now - timedelta(days=completed_days)
    failed_cutoff = now - timedelta(days=failed_days)
    return (
        (F.col("status") == COMPLETED) & (F.col("created_at") < F.lit(completed_cutoff))
    ) | (
        F.col("status").isin(*FAILED_STATES) & (F.col("created_at") < F.lit(failed_cutoff))
    )


def purge_history(log: DataFrame, now: datetime, completed_days: int = 7,
                  failed_days: int = 30) -> DataFrame:
    """Return the surviving rows (A24). Caller overwrites the log table with
    the result (or issues a Delta DELETE from purge_predicate)."""
    return log.where(~purge_predicate(now, completed_days, failed_days))


def clean_orphan_state(state: DataFrame, live_keys: DataFrame,
                       key_col: str = "key") -> DataFrame:
    """Entity-storage cleanup (CleanupFunction.cs:36-40): drop state rows
    whose key no longer corresponds to a live table/orchestration -- the
    set-difference the reference does via the management API, as a
    semi-join on the live keys (duplicate live keys never duplicate a
    state row)."""
    return state.join(live_keys, state[key_col] == live_keys[key_col], "left_semi")
