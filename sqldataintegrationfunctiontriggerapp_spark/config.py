"""Typed engine settings -- the analog of the reference's options pattern
(Models/AppSettings.cs:1-8, Program.cs:34-42) plus the SqlTrigger tuning
knobs (local.settings.json:8-16) mapped onto their Spark equivalents.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineSettings:
    """Reference knob -> engine knob mapping (README.md:50-52, :95-98).

    Bound here:
    - TotalRetryTimeOutHours        -> total_retry_timeout_hours (A19)
    - RetryIntervalMinutesFirst/Max -> capped-linear backoff (A12)
    - NotifyOnRetryCount            -> notify_on_retry_count (A20)
    - HttpPostBaseUrl               -> http_base_url
    - AllowedColumns_{table}        -> allowed_columns (A2)

    Taken as an argument where the knob acts, not carried here:
    - Sql_Trigger_MaxBatchSize      -> sources/changefeed.py
      stream_changes(max_files_per_trigger=)
    - Sql_Trigger_PollingIntervalMs -> the caller's
      writeStream.trigger(processingTime=...)
    - POST timeout (HttpPostAction.cs:39) -> HttpSink(timeout_seconds=)
    - notify throttle (A22)         -> retry.Notifier(throttle_minutes=)
    - KeepInstance*HistoryDays      -> maintenance.purge_history(
      completed_days=, failed_days=) (A24)
    """

    total_retry_timeout_hours: int = 168
    retry_interval_minutes_first: int = 6
    retry_interval_minutes_max: int = 12
    notify_on_retry_count: int = 4
    http_base_url: str = ""
    # Per-table config allowlists: AllowedColumns_{table} (local.settings.json:14)
    allowed_columns: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "EngineSettings":
        """Bind from environment, mirroring Program.cs:34-42; allowlist keys
        follow the reference's AllowedColumns_{table} convention
        (ExecuteTriggerHelper.cs:57)."""
        e = dict(os.environ if env is None else env)
        allow = {
            k[len("AllowedColumns_"):]: v
            for k, v in e.items()
            if k.startswith("AllowedColumns_")
        }
        return cls(
            total_retry_timeout_hours=int(e.get("TotalRetryTimeOutHours", 168)),
            retry_interval_minutes_first=int(e.get("RetryIntervalMinutesFirst", 6)),
            retry_interval_minutes_max=int(e.get("RetryIntervalMinutesMax", 12)),
            notify_on_retry_count=int(e.get("NotifyOnRetryCount", 4)),
            http_base_url=e.get("HttpPostBaseUrl", ""),
            allowed_columns=allow,
        )

    def backoff_minutes(self, retry_count: int) -> int:
        """A12: capped linear backoff (RetryFunctions.cs:30-33)."""
        return min(self.retry_interval_minutes_first + retry_count,
                   self.retry_interval_minutes_max)
