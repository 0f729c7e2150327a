"""Tracing for the traced run: in-memory spans, wrapper sinks that
time the calls into each layer, a timing Stream-Load transport, and a
Spark event-log reader.

Spans wrap calls made from the benchmark's own code; nothing inside
the package is instrumented. The event-log reader follows the same
job -> stage -> task aggregation as `tools/profile_stages.py`, read
from `spark.eventLog` files instead of the live UI.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Spans:
    """Spans kept in memory: name, start, end, parent (by index).

    Foreach-batch callbacks run on a Spark callback thread while the
    main thread waits in `processAllAvailable`, so one shared stack
    links a sink's spans to the epoch span that caused them."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def matching(self, name: str, **match) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and all(s.get(k) == v for k, v in match.items())
        ]

    def total(self, name: str, **match) -> float:
        return sum(s["end"] - s["start"] for s in self.matching(name, **match))

    def total_within(self, name: str, outer: dict) -> float:
        """Summed length of the `name` spans inside the span `outer`."""
        return sum(
            s["end"] - s["start"] for s in self.matching(name)
            if s["start"] >= outer["start"] and s["end"] <= outer["end"]
        )

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


class TimingTransport:
    """Stream-Load transport wrapper: times each `put` of the wrapped
    transport into Spark accumulators, so executor-side sends add up on
    the driver."""

    def __init__(self, inner, sc) -> None:
        self.inner = inner
        self.put_s = sc.accumulator(0.0)
        self.puts = sc.accumulator(0)
        self.label_skips = sc.accumulator(0)
        self.rows = sc.accumulator(0)

    def totals(self) -> dict:
        """The accumulators' current values, read on the driver."""
        return {
            "put_s": self.put_s.value,
            "puts": self.puts.value,
            "label_skips": self.label_skips.value,
            "rows": self.rows.value,
        }

    def put(self, db_tb_name: str, label: str, payload: str) -> dict:
        t = time.perf_counter()
        resp = self.inner.put(db_tb_name, label, payload)
        self.put_s.add(time.perf_counter() - t)
        self.puts.add(1)
        if resp.get("Status") == "Label Already Exists":
            self.label_skips.add(1)
        else:
            self.rows.add(int(resp.get("NumberLoadedRows", 0)))
        return resp


class TracedAdb:
    """Duck-typed `AdbStyleSink`: a span around the write and, inside
    it, a count of the persisted batch first, which splits the pipeline
    compute (parse, T1-T7) from the parquet write."""

    def __init__(self, inner, spans: Spans) -> None:
        self.inner, self.spans = inner, spans
        self.rows_out: dict[int, int] = {}

    def write(self, batch_df, epoch_id: int, query_id: str = "q") -> None:
        with self.spans.span("sinks.adb_write", epoch=epoch_id):
            with self.spans.span("pipeline.materialize", epoch=epoch_id):
                self.rows_out[epoch_id] = batch_df.count()
            self.inner.write(batch_df, epoch_id, query_id)


class TracedSr:
    """Duck-typed `SrStyleSink`: a span around the write of the wrapped
    sink (which sends through a `TimingTransport`)."""

    def __init__(self, inner, spans: Spans) -> None:
        self.inner, self.spans = inner, spans
        self.batch_size = inner.batch_size

    def write(self, batch_df, epoch_id: int, query_id: str = "q") -> None:
        with self.spans.span("sinks.sr_write", epoch=epoch_id):
            self.inner.write(batch_df, epoch_id, query_id)


def traced(fn, spans: Spans, name: str):
    """`fn` with a span around every call."""

    def wrapper(*args, **kwargs):
        with spans.span(name):
            return fn(*args, **kwargs)

    return wrapper


class TracedDual:
    """The foreach-batch callable: a span around the whole dual-sink
    call, so `addBatch` minus this span is the job's own work."""

    def __init__(self, inner, spans: Spans) -> None:
        self.inner, self.spans = inner, spans

    def __call__(self, batch_df, epoch_id: int) -> None:
        with self.spans.span("sinks.dual", epoch=epoch_id):
            self.inner(batch_df, epoch_id)


def read_event_log(log_dir: str) -> dict:
    """Aggregate the one event log under `log_dir` into jobs (with
    their local properties and wall interval) and completed stages
    (with task count, task seconds, GC seconds, shuffle bytes)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    with open(os.path.join(log_dir, files[0]), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "props": ev.get("Properties") or {},
                    "stage_ids": ev.get("Stage IDs", []),
                    "start_ms": ev.get("Submission Time"),
                    "end_ms": None,
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.setdefault(info["Stage ID"], _new_stage())["completed"] = True
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[ev["executionId"]] = {"start_ms": ev["time"], "end_ms": None}
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]]["end_ms"] = ev["time"]
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
    return {"jobs": jobs, "stages": stages, "sql": sql}


def _new_stage() -> dict:
    return {
        "completed": False,
        "tasks": 0,
        "task_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
    }


def spark_totals(log: dict, job_ids: list[int]) -> dict:
    """Jobs, completed stages, tasks, task seconds, GC seconds and
    shuffle-write MB of a set of jobs."""
    out = {
        "jobs": len(job_ids),
        "stages": 0,
        "tasks": 0,
        "task_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
    }
    seen: set[int] = set()
    for jid in job_ids:
        for sid in log["jobs"][jid]["stage_ids"]:
            st = log["stages"].get(sid)
            if st is None or not st["completed"] or sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            out["task_s"] += st["task_s"]
            out["gc_s"] += st["gc_s"]
            out["shuffle_write_mb"] += st["shuffle_write_bytes"] / 1e6
    return out


def jobs_within(log: dict, job_ids: list[int], span: dict) -> list[int]:
    """The jobs of `job_ids` that ran inside a span."""
    lo, hi = span["start"] * 1000, span["end"] * 1000
    return [
        j for j in job_ids
        if log["jobs"][j]["start_ms"] >= lo
        and (log["jobs"][j]["end_ms"] or hi + 1) <= hi
    ]


def result_tasks(log: dict, job_ids: list[int]) -> int:
    """Tasks of the final (result) stage of each job."""
    return sum(
        log["stages"].get(max(log["jobs"][j]["stage_ids"]), {}).get("tasks", 0)
        for j in job_ids
        if log["jobs"][j]["stage_ids"]
    )


def busy_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_by_prop(log: dict, key: str) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for jid, job in sorted(log["jobs"].items()):
        val = job["props"].get(key)
        if val is not None:
            out.setdefault(val, []).append(jid)
    return out
