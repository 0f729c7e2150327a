"""archive_bulk and archive_trickle: the delete-archival stream driven
closed loop through `streaming.job.start_archival_stream` into a
`DualSink` of the ADB-style parquet sink and the Stream-Load-style sink
on a `LocalDirTransport`.

One envelope file is one epoch (`max_files_per_trigger=1`). The loop
moves the next file into the watched directory and waits in
`processAllAvailable` until its epoch has committed, so the next epoch
starts when the previous one commits. Files are generated between
epochs, outside the timed span.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import checks
import gen_envelopes
import procstat
import tracing

# Lines per epoch, poison share, quarantine on/off, and the warm-up
# epochs counted as set-up.
PROFILES = {
    "archive_bulk": {"lines": 40_000, "poison": 0.001, "quarantine": False,
                     "warmup_epochs": 1},
    "archive_trickle": {"lines": 500, "poison": 0.005, "quarantine": True,
                        "warmup_epochs": 2},
}
QUERY_ID = "perfbench"
MIN_EPOCHS = 5  # timed epochs, at least, whatever --seconds says
SR_BATCH_SIZE = 100
PROGRESS_KEYS = (
    "latestOffset", "getBatch", "queryPlanning", "walCommit",
    "commitOffsets", "addBatch", "triggerExecution",
)


def run(ctx, workload: str) -> dict:
    from jly_flink_spark.config import demo_task_config
    from jly_flink_spark.streaming import job
    from jly_flink_spark.streaming.sinks import (
        AdbStyleSink,
        DualSink,
        LocalDirTransport,
        SrStyleSink,
    )

    prof = PROFILES[workload]
    rng = random.Random(ctx.seed)
    work = ctx.work
    stage, watched = os.path.join(work, "stage"), os.path.join(work, "in")
    adb_dir, sr_dir = os.path.join(work, "adb"), os.path.join(work, "sr")
    q_dir = os.path.join(work, "quarantine") if prof["quarantine"] else None
    os.makedirs(stage)
    os.makedirs(watched)

    manifests: dict[int, gen_envelopes.Manifest] = {}

    def next_file(batch_id: int) -> str:
        lines, m = gen_envelopes.generate(
            rng, prof["lines"], batch_id * prof["lines"], prof["poison"]
        )
        manifests[batch_id] = m
        path = os.path.join(stage, f"env-{batch_id:06d}.txt")
        gen_envelopes.write_file(path, lines)
        return path

    # The warm-up epochs' files are written before set-up starts, so
    # set-up measures only the session, the stream start and the epochs.
    n_warm = prof["warmup_epochs"]
    warm_files = [next_file(b) for b in range(n_warm)]

    c0 = procstat.tree_cpu_s()
    spark = ctx.start_session()
    adb = AdbStyleSink(adb_dir)
    sr = SrStyleSink(LocalDirTransport(sr_dir), batch_size=SR_BATCH_SIZE)
    timing = None
    if ctx.trace:
        timing = tracing.TimingTransport(
            LocalDirTransport(sr_dir), spark.sparkContext)
        adb = tracing.TracedAdb(adb, ctx.spans)
        sr = tracing.TracedSr(
            SrStyleSink(timing, batch_size=SR_BATCH_SIZE), ctx.spans)
        sink = tracing.TracedDual(DualSink(adb, sr, query_id=QUERY_ID), ctx.spans)
        # With a quarantine dir the job builds T1-T7 inside every epoch's
        # foreach-batch function: time that call into `pipeline`.
        job.build_pipeline = tracing.traced(
            job.build_pipeline, ctx.spans, "pipeline.build")
    else:
        sink = DualSink(adb, sr, query_id=QUERY_ID)

    # Set-up: stream start plus the warm-up epochs.
    t0 = time.perf_counter()
    q = job.start_archival_stream(
        spark, watched, demo_task_config(3, gen_envelopes.DB_ALIAS), sink,
        os.path.join(work, "checkpoint"), trigger_seconds=0.0,
        max_files_per_trigger=1, quarantine_dir=q_dir,
    )
    progress: dict[int, dict] = {}
    try:
        for batch_id, path in enumerate(warm_files):
            _drain(q, path, watched, batch_id, progress)
        ctx.setup["warmup_s"] = time.perf_counter() - t0
        ctx.setup["cpu_s"] = procstat.tree_cpu_s() - c0
        timed_from = timing.totals() if timing else None

        ops = []
        measured = 0.0
        batch_id = n_warm
        while measured < ctx.seconds or len(ops) < MIN_EPOCHS:
            path = next_file(batch_id)
            c0, j0 = procstat.tree_cpu_s(), procstat.jit_cpu_s()
            t = time.perf_counter()
            with ctx.spans.span("op.epoch", epoch=batch_id):
                _drain(q, path, watched, batch_id, progress)
            wall = time.perf_counter() - t
            c1, j1 = procstat.tree_cpu_s(), procstat.jit_cpu_s()
            ops.append({
                "id": batch_id,
                "wall_s": wall,
                "cpu_s": (c1 - c0) - (j1 - j0),
                "jit_s": j1 - j0,
                "lines": prof["lines"],
                "problems": [],
            })
            measured += wall
            batch_id += 1
        ctx.mark_peak_rss()
    finally:
        q.stop()

    n_checked = _check(ops, manifests, adb_dir, sr_dir, q_dir, n_warm)
    for op in ops:
        p = progress[op["id"]]
        op["epoch_s"] = p["durationMs"]["triggerExecution"] / 1000.0
    out = {
        "ops": ops,
        "op_latency": [op["epoch_s"] for op in ops],
        "detail": _detail(ops, progress, manifests, prof) | {
            "checks.self_tested_comparisons": n_checked,
        },
    }
    if ctx.trace:
        out["layers"] = lambda log: _layers(
            ctx, log, ops, progress, adb, timing, timed_from
        )
    return out


def _drain(q, path: str, watched: str, batch_id: int, progress: dict) -> None:
    """Move one file into the watched dir and wait until its epoch has
    committed. A no-data trigger already in flight when the file lands
    can end `processAllAvailable` early, so wait until the epoch's own
    progress is there."""
    os.rename(path, os.path.join(watched, os.path.basename(path)))
    deadline = time.monotonic() + 120
    while True:
        q.processAllAvailable()
        for p in q.recentProgress:
            if p.batchId == batch_id and p.numInputRows > 0:
                progress[batch_id] = {
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                    "observed": {
                        k: v.asDict() for k, v in p.observedMetrics.items()
                    },
                }
                return
        if time.monotonic() > deadline:
            raise RuntimeError(f"epoch {batch_id} did not commit")
        time.sleep(0.01)


def _check(ops, manifests, adb_dir, sr_dir, q_dir, n_warm) -> int:
    """Per-epoch sink checks; a problem marks that epoch's op failed.
    The warm-up epochs are checked too and charged to the first timed
    op. Returns how many epoch x sink comparisons ran, each with its
    self-test."""
    adb = checks.read_adb(adb_dir)
    sr_rows, sr_sizes = checks.read_sr(sr_dir, QUERY_ID)
    quarantine = checks.read_quarantine(q_dir) if q_dir else []
    owner = {b: ops[0] for b in range(n_warm)} | {op["id"]: op for op in ops}
    for batch_id, op in owner.items():
        m = manifests[batch_id]
        for sink, got in (("adb", adb), ("sr", sr_rows)):
            observed = got.get(batch_id, {})
            op["problems"] += [
                f"epoch {batch_id} {sink} {p}"
                for p in checks.diff_rows(m.expected, observed)
            ]
            op["problems"] += [
                f"epoch {batch_id} {sink} self-test: {p}"
                for p in checks.self_test(m.expected, observed)
            ]
        big = [n for n in sr_sizes.get(batch_id, ()) if n > SR_BATCH_SIZE]
        if big:
            op["problems"].append(
                f"epoch {batch_id}: {len(big)} SR chunks over {SR_BATCH_SIZE}"
            )
    stray = set(adb) | set(sr_rows)
    stray -= set(owner)
    if stray:
        ops[0]["problems"].append(f"rows for unknown epochs {sorted(stray)}")
    if q_dir:
        expected = [ln for b in owner for ln in manifests[b].poison]
        problems = checks.diff_rows({"q": expected}, {"q": quarantine})
        # The quarantine is one append-only table with no epoch column,
        # so a mismatch is charged to every timed epoch.
        if problems:
            for op in ops:
                op["problems"] += [f"quarantine {p}" for p in problems]
    return 2 * len(owner)


def _detail(ops, progress, manifests, prof) -> dict:
    """Report-only figures: the guard counters next to the generator's
    truth (n_not_delete also counts malformed lines today)."""
    ids = [op["id"] for op in ops]
    guards: dict[str, int] = {}
    quarantined = 0
    for b in ids:
        obs = progress[b]["observed"]
        for k, v in obs.get("guards", {}).items():
            guards[k] = guards.get(k, 0) + v
        quarantined += obs.get("quarantine", {}).get("n_quarantined", 0)
    return {
        "lines_per_epoch": prof["lines"],
        "pipeline.guards": guards,
        "pipeline.quarantined": quarantined,
        "generator.true_not_delete": sum(manifests[b].n_not_delete for b in ids),
        "generator.poison": sum(len(manifests[b].poison) for b in ids),
        "generator.archived": sum(manifests[b].n_archived for b in ids),
        "epoch_ms": {
            k: statistics.median(progress[b]["durationMs"].get(k, 0) for b in ids)
            for k in PROGRESS_KEYS
        },
    }


def _layers(ctx, log, ops, progress, adb, timing, timed_from) -> dict:
    """Per-layer split from the traced run: progress durations, sink
    spans, the timing transport and the event log."""
    by_batch = tracing.jobs_by_prop(log, "streaming.sql.batchId")
    spans = ctx.spans
    ids = [op["id"] for op in ops]
    wall = {op["id"]: op["wall_s"] for op in ops}
    per: dict[int, dict] = {}
    for b in ids:
        d = progress[b]["durationMs"]
        (dual,) = spans.matching("sinks.dual", epoch=b)
        (ep,) = spans.matching("op.epoch", epoch=b)
        (sr_span,) = spans.matching("sinks.sr_write", epoch=b)
        jids = by_batch.get(str(b), [])
        # SQL executions the epoch ran outside the dual-sink call: the
        # quarantine probe and write with their planning and commit.
        # The micro-batch's own root execution encloses the dual span
        # and is skipped with everything else that overlaps it.
        outside = [
            (x["start_ms"] / 1000.0, x["end_ms"] / 1000.0)
            for x in log["sql"].values()
            if x["end_ms"] is not None
            and x["start_ms"] >= ep["start"] * 1000
            and x["end_ms"] <= ep["end"] * 1000
            and (x["end_ms"] <= dual["start"] * 1000
                 or x["start_ms"] >= dual["end"] * 1000)
        ]
        outside_s = tracing.busy_s(outside)
        # The micro-batch's own execution spans addBatch; it is the one
        # running when the dual sink call starts. From its start to the
        # first thing the foreach-batch function does (the dual sink
        # call, or the quarantine probe before it), Spark turns the
        # micro-batch plan into an RDD and calls into Python.
        (root,) = [
            x for x in log["sql"].values()
            if x["end_ms"] is not None
            and x["start_ms"] <= dual["start"] * 1000 <= x["end_ms"]
        ]
        first = min([dual["start"]] + [a for a, _ in outside])
        prepare_s = first - root["start_ms"] / 1000.0
        build_s = spans.total_within("pipeline.build", ep)
        add_batch = d.get("addBatch", 0) / 1000.0
        dual_s = dual["end"] - dual["start"]
        adb_s = spans.total("sinks.adb_write", epoch=b)
        mat_s = spans.total("pipeline.materialize", epoch=b)
        sr_s = sr_span["end"] - sr_span["start"]
        covered_s = prepare_s + outside_s + build_s + dual_s
        spark = tracing.spark_totals(log, jids)
        per[b] = {
            "job.offsets_s": (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0,
            "job.planning_s": d.get("queryPlanning", 0) / 1000.0,
            "job.wal_s": d.get("walCommit", 0) / 1000.0,
            "job.commit_s": d.get("commitOffsets", 0) / 1000.0,
            "job.add_batch_s": add_batch,
            "job.foreach_other_s": add_batch - adb_s - sr_s,
            "job.foreach_sql_s": outside_s,
            "job.batch_prepare_s": prepare_s,
            "sinks.dual_self_s": dual_s - adb_s - sr_s,
            "sinks.adb_write_s": adb_s - mat_s,
            "sinks.sr_write_s": sr_s,
            "pipeline.materialize_s": mat_s,
            "pipeline.build_s": build_s,
            "coverage.covered_s": covered_s,
            "coverage.unattributed_s": add_batch - covered_s,
            "coverage.share": covered_s / add_batch,
            "coordination_s": (d["triggerExecution"] - d.get("addBatch", 0)) / 1000.0,
            "core_busy_share": spark["task_s"] / (ctx.cpus * wall[b]),
            # The foreachPartition stage is the result stage of the
            # last job the SR write runs; the jobs before it are AQE's
            # shuffle-map stages.
            "sinks.sr_tasks_per_epoch": tracing.result_tasks(
                log, tracing.jobs_within(log, jids, sr_span)[-1:]),
        } | {f"spark.{k}": v for k, v in spark.items()}

    def med(key):
        return statistics.median(per[b][key] for b in ids)

    sr = {k: v - timed_from[k] for k, v in timing.totals().items()}
    detail = {k: med(k) for k in per[ids[0]]}
    detail.update({
        "job.spark_jobs_per_epoch": detail["spark.jobs"],
        "sinks.sr_put_s": sr["put_s"] / len(ids),
        "sinks.sr_puts": sr["puts"] / len(ids),
        "sinks.sr_label_skips": sr["label_skips"],
        "sinks.sr_rows_per_put": sr["rows"] / sr["puts"] if sr["puts"] else 0.0,
        "pipeline.rows_in": statistics.median(
            progress[b]["numInputRows"] for b in ids),
        "pipeline.rows_out": statistics.median(adb.rows_out[b] for b in ids),
    })
    generic = {
        "spark.jobs_per_op": detail["spark.jobs"],
        "spark.stages_per_op": detail["spark.stages"],
        "spark.tasks_per_op": detail["spark.tasks"],
        "spark.task_s_per_op": detail["spark.task_s"],
        "spark.shuffle_write_mb_per_op": detail["spark.shuffle_write_mb"],
        "spark.gc_s": sum(per[b]["spark.gc_s"] for b in ids),
        "spark.core_busy_share": detail["core_busy_share"],
        "layer.coordination_s_per_op": detail["coordination_s"],
        "layer.action_s_per_op": detail["job.add_batch_s"],
    }
    return {"generic": generic, "detail": detail}

