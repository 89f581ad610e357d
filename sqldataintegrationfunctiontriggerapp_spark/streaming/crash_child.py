"""Host-death half of the A25 lease/redelivery evidence (VERDICT r10 #4).

This module is launched AS ITS OWN PROCESS (own Python driver, own JVM) by
`plans/windows.py::streaming_crash_recovery_parity`. It replays the staged
2-file events feed through the DEPLOYED pipeline wrapper
(`streaming/pipeline.py::ChangePipeline.foreach_batch` — the code a user
ships, reference `ExecuteTriggerHelper.cs:28-158`) against the parent's
HTTP receiver, lets micro-batch 1 commit, and then DIES ABRUPTLY the moment
the engine hands it micro-batch 2: `Runtime.getRuntime().halt()` on the JVM
(no shutdown hooks — nothing gets a chance to flush or clean up) followed by
`os._exit` on the Python driver. The durable state left behind is exactly
what a host crash between two micro-batches leaves: a checkpoint whose
commit log ends at epoch 0 and a receiver that holds batch 1's payloads.

The parent then resumes the SAME checkpoint in a DIFFERENT process (its own
SparkSession) and proves batch 1 is not redelivered and batch 2 arrives
exactly once — the host-restart lease semantics of the reference
(`README.md:19-23`) that in-session redelivery (streaming_pipeline_parity)
cannot witness.

Why halt-then-exit rather than SIGKILL from the parent: a kill arrives at a
nondeterministic instant, so the durable state would be batch-1-committed
only on lucky timing. Dying at the START of foreachBatch invocation 2 pins
the crash point precisely between "epoch 0 committed" and "epoch 1 did any
work", which is the state a deterministic hash row needs; the halt itself is
as abrupt as a kill (no hooks, no flush).

Usage (spawned, not imported):
    python -m sqldataintegrationfunctiontriggerapp_spark.streaming.crash_child \
        SRC_DIR CKPT_DIR STATE_DIR RECEIVER_URL
Exit code 137 = died as scripted (the parent asserts it).
"""

from __future__ import annotations

import os
import sys

EXIT_CODE = 137


def main(argv: list[str]) -> int:
    src_dir, ckpt_dir, state_dir, receiver_url = argv

    from pyspark.sql import SparkSession

    from sqldataintegrationfunctiontriggerapp_spark.config import EngineSettings
    from sqldataintegrationfunctiontriggerapp_spark.session import (
        use_filesystem_checkpoints,
    )
    from sqldataintegrationfunctiontriggerapp_spark.sinks.http_sink import HttpSink
    from sqldataintegrationfunctiontriggerapp_spark.sources.changefeed import (
        with_operation,
    )
    from sqldataintegrationfunctiontriggerapp_spark.state import StateStore
    from sqldataintegrationfunctiontriggerapp_spark.streaming.pipeline import (
        ChangePipeline,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("crash-child")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # C1-only JIT (OPTIMIZATION r15): this JVM lives for ONE micro-batch
        # and then halts -- C2 compilation never pays for itself here, it
        # only burns CPU during boot alongside 4 executor threads. Measured
        # on the parent's full parity query (child boot + batch + resume),
        # same-minute A/B pairs at local[4]: 25.7/20.1 s -> 24.0/17.2 s.
        # The flag affects ONLY this scripted-death child; the engine's
        # real sessions keep full tiered JIT.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+TieredCompilation -XX:TieredStopAtLevel=1",
        )
        .getOrCreate()
    )
    # checkpoint writes go through the same manager as get_session's
    use_filesystem_checkpoints(spark)
    schema = spark.read.parquet(src_dir).schema

    settings = EngineSettings(
        http_base_url=receiver_url,
        allowed_columns={"events": "Event_Type,Value"},
    )
    # client allowlist was saved by the PARENT session; reading it here is
    # itself cross-process A11 evidence (state written by process A, read by
    # process B)
    pipe = ChangePipeline(
        settings=settings,
        state=StateStore(spark, state_dir),
        sink=HttpSink(base_url=receiver_url, max_attempts=2,
                      sleeper=lambda _s: None),
    )
    inner = pipe.foreach_batch("events")
    seen_epochs: list[int] = []

    def fb(batch_df, epoch_id: int) -> None:
        seen_epochs.append(epoch_id)
        if len(seen_epochs) >= 2:
            # epoch 0 is committed (its foreachBatch returned and the commit
            # log advanced before the engine scheduled this invocation);
            # epoch 1 has done nothing. Die NOW, abruptly: halt() skips every
            # JVM shutdown hook, so no stream teardown or checkpoint write
            # can tidy up after us — the on-disk state is what a host crash
            # leaves. The py4j call never returns; the except below catches
            # the dropped connection and kills the Python driver too.
            try:
                spark._jvm.java.lang.Runtime.getRuntime().halt(EXIT_CODE)
            except Exception:
                pass
            os._exit(EXIT_CODE)
        inner(batch_df, epoch_id)

    q = (
        with_operation(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception:
        # once the crash is armed, the halt can reach this thread first:
        # py4j's connection to the dead JVM is refused before the batch
        # thread gets to os._exit, and a raise here would exit 1
        if len(seen_epochs) >= 2:
            os._exit(EXIT_CODE)
        raise
    # reaching here means the crash never fired (staging produced < 2
    # micro-batches) — exit 0 so the parent's returncode assert fails loudly
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
