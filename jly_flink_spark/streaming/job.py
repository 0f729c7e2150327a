"""The streaming archival job: file-source envelope stream → one
flagged parse with the guard counters → per epoch (foreachBatch): the
optional quarantine of malformed lines, then filter/project/enrich
(the batch pipeline, reused verbatim) → dual sink.

Maps the reference's runtime controls onto the micro-batch engine
(SURVEY.md §3.3):
- flushIntervalMs (T9, timer thread)  → trigger(processingTime=...)
- batchSize (T8, count trigger)       → maxFilesPerTrigger + sink chunking
- enableCheckpointing 60s (K5)        → checkpointLocation (offset log)
- snapshot/restore buffer state (K5)  → unnecessary: replayable source
                                        offsets + idempotent labels
- close/final flush (K6)              → query.stop() + epoch commit
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import TaskConfig
from ..pipeline import build_pipeline, observe_guard_drops
from ..sources.envelopes import (
    parse_envelope_json,
    read_envelope_stream,
    well_formed,
)
from .sinks import DualSink


def streaming_pipeline_binlogs(
    spark: SparkSession,
    instance_logs: dict[str, str],
    cfg: TaskConfig,
) -> DataFrame:
    """Target-row stream from one NATIVE binlog tailer per instance
    (`sources/binlog_source.py`) — the closest Spark shape to the
    reference's per-instance `MySqlSource` list unioned into one
    dataflow (StartJob.java:52-92, T5): each source keeps its own
    byte-position offset in the shared checkpoint, the union happens
    BEFORE the one parse/filter/enrich plan, and recovery resumes
    every instance at its committed position independently."""
    from functools import reduce

    from ..sources.binlog_source import read_binlog_stream

    if not instance_logs:
        raise ValueError("instance_logs must be non-empty")
    streams = [
        read_binlog_stream(spark, path).select(
            F.lit(instance).alias("instance_name"), "value"
        )
        for instance, path in sorted(instance_logs.items())
    ]
    raw = reduce(lambda a, b: a.unionByName(b), streams)
    parsed = observe_guard_drops(parse_envelope_json(raw))
    return build_pipeline(spark, well_formed(parsed), cfg)


def start_archival_stream(
    spark: SparkSession,
    envelope_dir: str,
    cfg: TaskConfig,
    sink: DualSink,
    checkpoint_dir: str,
    trigger_seconds: float = 5.0,
    max_files_per_trigger: int = 1,
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """Start the delete-archival stream (the Spark analog of
    StartJob.main wiring + env.execute, StartJob.java:36-108).

    Each line is parsed once, in the streaming projection; the T2
    guard counters (malformed lines included) ride the stream via
    observe() and surface in StreamingQueryProgress
    .observedMetrics["guards"]. Each epoch drops the malformed rows
    before T1-T7 and hands the target rows to `sink`.

    With `quarantine_dir`, the malformed lines of epoch n are also
    written, raw line kept for replay after a fix, to
    `quarantine_dir/epoch_id=<n>` in overwrite mode — the contract of
    `AdbStyleSink` — so a replayed epoch rewrites its own partition
    instead of appending its poison lines twice."""
    parsed = observe_guard_drops(
        parse_envelope_json(
            read_envelope_stream(
                spark, envelope_dir,
                max_files_per_trigger=max_files_per_trigger,
            )
        )
    )

    def archive(batch_df: DataFrame, epoch_id: int) -> None:
        sink(build_pipeline(spark, well_formed(batch_df), cfg), epoch_id)

    def archive_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if quarantine_dir is None:
            archive(batch_df, epoch_id)
            return
        # The quarantine probe, its write and the sinks all read the
        # batch: cache it so it is computed, and counted, once.
        batch_df.persist()
        try:
            bad = batch_df.filter(F.col("_is_bad")).select(
                "instance_name", "raw_value"
            )
            # isEmpty is one executeTake job; limit(1).count() costs
            # three (limit, SinglePartition exchange, count).
            if not bad.isEmpty():
                bad.write.mode("overwrite").parquet(
                    os.path.join(quarantine_dir, f"epoch_id={int(epoch_id)}")
                )
            archive(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    return (
        parsed.writeStream.foreachBatch(archive_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def run_archival_once(
    spark: SparkSession,
    envelope_dir: str,
    cfg: TaskConfig,
    sink: DualSink,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    quarantine_dir: str | None = None,
) -> None:
    """Drain everything currently in the source and stop — the
    harness/run-to-completion mode (processAllAvailable ≈ the
    reference's graceful close K6: flush all, then shut down)."""
    q = start_archival_stream(
        spark,
        envelope_dir,
        cfg,
        sink,
        checkpoint_dir,
        trigger_seconds=0.5,
        max_files_per_trigger=max_files_per_trigger,
        quarantine_dir=quarantine_dir,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def replay_quarantine(
    spark: SparkSession,
    quarantine_dir: str,
    cfg: TaskConfig,
    sink: DualSink,
    epoch_id: int,
) -> tuple[int, int]:
    """Re-run quarantined envelopes through the pipeline after a
    parser/producer fix — the operational closing of the quarantine
    loop: rows that now parse are archived through the SAME sink
    (under the caller-chosen replay epoch, so the labels/cleanup keys
    are idempotent like any other epoch), rows that still fail stay
    quarantined for the next fix. Returns (n_archived, n_still_bad).

    This is a BATCH job over the quarantine parquet (raw lines were
    preserved verbatim for exactly this), so it can run any time
    without touching the live stream or its checkpoint; remove or
    archive the quarantine dir afterwards to avoid re-replaying the
    same rows.

    The stream writes one `epoch_id=<n>` directory per epoch; older
    quarantine dirs hold flat parquet files. Partition discovery would
    silently skip flat files next to partition directories, so the
    files are listed recursively and both layouts replay."""
    raw = spark.read.option("recursiveFileLookup", "true").parquet(
        quarantine_dir
    ).select(
        "instance_name", F.col("raw_value").alias("value")
    )
    parsed = parse_envelope_json(raw).persist()
    try:
        still_bad = parsed.filter(F.col("_is_bad")).count()
        target = build_pipeline(spark, well_formed(parsed), cfg).persist()
        try:
            n_archived = target.count()
            if n_archived:
                sink(target, epoch_id)
        finally:
            target.unpersist()
    finally:
        parsed.unpersist()
    return n_archived, still_bad
