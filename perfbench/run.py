#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the archival stream and the
query registry.

    python3 perfbench/run.py --workload archive_trickle --seed 1 \
        --seconds 5 --trace 0

Workloads: archive_bulk, archive_trickle, registry_mix (see
perfbench/README.md). The run prints a human-readable report and, as
its last line, one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. It reads and writes only under the
repository root it lives in (`.perfbench_work/`).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("archive_bulk", "archive_trickle", "registry_mix")
CPUS = 4
DRIVER_MEM = "2g"
# JVM scratch stays in the work dir: temp files, and no hsperfdata file
# under /tmp.
_JVM_SCRATCH_OPTS = "-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}
# Printed and saved but not in BENCHMARK.json. The wall-clock figures:
# on a VM whose hypervisor steals CPU in bursts lasting minutes, their
# ten-run spread (0.16-0.24 of the median) tracks the host, not the
# program, and can exceed any allowed bound. The JIT compiler threads'
# CPU per operation, left out of cpu_s_per_op.
REPORTED = {
    "op_p50_s": "s",
    "lines_per_s": "1/s",
    "jit_s_per_op": "s",
}
PER_LAYER = {
    "setup.session_s": "s",
    "setup.warmup_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_s_per_op": "s",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.gc_s": "s",
    "spark.core_busy_share": "share",
    "layer.coordination_s_per_op": "s",
    "layer.action_s_per_op": "s",
    "trace.overhead_share": "share",
}


class Context:
    """What a workload needs from the harness: its seed and window, a
    private work dir, the session factory, and the span recorder."""

    def __init__(self, args, work: str) -> None:
        import tracing

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = CPUS
        self.work = work
        self.spans = tracing.Spans()
        self.setup: dict[str, float] = {}
        self.event_log = os.path.join(work, "eventlog")
        self.spark = None
        self.peak_rss_mb = 0.0

    def start_session(self):
        from jly_flink_spark.session import get_spark

        conf = {
            # The heap is allocated and touched in full at start, so
            # the peak resident memory does not depend on which regions
            # G1 happened to use. The JIT compiler threads stay alive,
            # so procstat.jit_cpu_s sees all their CPU.
            "spark.driver.extraJavaOptions":
                _JVM_SCRATCH_OPTS.format(work=self.work)
                + f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
                " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            os.makedirs(self.event_log)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        t = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session_s"] = time.perf_counter() - t
        return self.spark

    def mark_peak_rss(self) -> None:
        """Record the peak resident memory of the driver JVM plus this
        process; called when the timed operations end, before the
        output checks load anything."""
        import procstat

        me = os.getpid()
        self.peak_rss_mb = procstat.hwm_mb(me) + sum(
            procstat.hwm_mb(p) for p in procstat.java_pids(me)
        )


def _prepare_env(work: str) -> None:
    """Before the JVM starts: Python workers import the package and the
    benchmark's own modules from this checkout whatever the cwd, and
    every scratch file lands in the work dir."""
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    sys.path[:0] = [ROOT, HERE]
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # A 2 GB driver heap keeps the run small on a shared host.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for sub, var in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
        os.environ[var] = os.path.join(work, sub)
    # The short-lived launcher JVM that spark-submit starts first.
    os.environ["SPARK_LAUNCHER_OPTS"] = _JVM_SCRATCH_OPTS.format(work=work)


def _stop_spark(ctx: Context) -> None:
    """Stop the session and the gateway JVM, then wait until every
    process the run started (JVM, Python daemon and workers) has ended;
    any still there after 20 s is killed."""
    import procstat

    me = os.getpid()
    started = [p for p in procstat.descendants(me) if p != me]
    if ctx.spark is not None:
        from pyspark import SparkContext

        ctx.spark.stop()
        gw = SparkContext._gateway
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gw.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
    deadline = time.monotonic() + 20
    while alive := [p for p in started if procstat.is_running(p)]:
        if time.monotonic() > deadline + 5:
            raise RuntimeError(f"processes {alive} did not end")
        if time.monotonic() > deadline:
            for pid in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


def _end_to_end(ctx: Context, out: dict) -> dict:
    units = out.get("units") or out["ops"]
    wall = sum(u["wall_s"] for u in units)
    return {
        "setup_s": ctx.setup["cpu_s"],
        "op_p50_s": statistics.median(out["op_latency"]),
        "lines_per_s": sum(u["lines"] for u in units) / wall,
        "cpu_s_per_op": statistics.median(u["cpu_s"] for u in units),
        "jit_s_per_op": statistics.median(u["jit_s"] for u in units),
        "peak_rss_mb": ctx.peak_rss_mb,
    }


def _untraced_cpu_s_per_op(args, base: str) -> tuple[float, str]:
    """`cpu_s_per_op` of an untraced run of the same workload, the
    baseline of the tracing overhead: the saved report of the same seed
    if there is one, else the median over the saved reports of other
    seeds, else that of an untraced run made now."""
    reports = os.path.join(base, "reports")

    def saved() -> dict[int, float]:
        out = {}
        for name in sorted(os.listdir(reports)):
            if name.startswith(f"{args.workload}-s") and "-t0-" in name:
                with open(os.path.join(reports, name), encoding="utf-8") as f:
                    rep = json.load(f)
                out[rep["seed"]] = rep["metrics"]["cpu_s_per_op"]
        return out

    runs = saved()
    if not runs:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.DEVNULL, check=True,
        )
        runs = saved()
    if args.seed in runs:
        return runs[args.seed], f"untraced run, seed {args.seed}"
    return statistics.median(runs.values()), f"median of {len(runs)} untraced runs"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "jly_flink_spark", "__init__.py")):
        print(f"perfbench: no jly_flink_spark package under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(os.path.join(base, "reports"), exist_ok=True)
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    import procstat

    load_start = procstat.host_load()
    ctx = Context(args, work)
    if args.workload == "registry_mix":
        import registry_mix as mod
    else:
        import archive as mod
    try:
        out = mod.run(ctx, args.workload)
    finally:
        _stop_spark(ctx)
    load_end = procstat.host_load()

    ops = out["ops"]
    failed = [op for op in ops if op["problems"]]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host_start": load_start,
        "host_end": load_end,
        "host_steal_share": procstat.steal_share(load_start, load_end),
        "setup": ctx.setup,
        "detail": out["detail"],
        "units": [
            {k: u[k] for k in ("id", "wall_s", "cpu_s", "jit_s", "epoch_s") if k in u}
            for u in out.get("units") or ops
        ],
        "problems": [p for op in failed for p in op["problems"]][:50],
        "failed_share": len(failed) / len(ops),
    }
    if args.trace:
        import tracing

        layers = out["layers"](tracing.read_event_log(ctx.event_log))
        traced_cpu = _end_to_end(ctx, out)["cpu_s_per_op"]
        plain_cpu, report["overhead_baseline"] = _untraced_cpu_s_per_op(args, base)
        metrics = {
            "setup.session_s": ctx.setup["session_s"],
            "setup.warmup_s": ctx.setup["warmup_s"],
            **layers["generic"],
            "trace.overhead_share": traced_cpu / plain_cpu - 1.0,
        }
        report["layers"] = layers["detail"]
        units = PER_LAYER
    else:
        metrics = _end_to_end(ctx, out)
        units = END_TO_END | REPORTED
    report["metrics"] = metrics

    stem = os.path.join(base, "reports", os.path.basename(work))
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        ctx.spans.dump(stem + ".spans.json")
    shutil.rmtree(work, ignore_errors=True)

    _print_report(report, units)
    listed = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in listed.items()},
    }))
    return 0


def _print_report(report: dict, units: dict) -> None:
    print(f"# {report['workload']} seed={report['seed']} trace={report['trace']}")
    print(f"# host at start {report['host_start']}")
    print(f"# host at end   {report['host_end']}")
    print(f"# host CPU stolen during the run: {report['host_steal_share']:.3f}")
    print(f"# set-up {report['setup']}")
    if "overhead_baseline" in report:
        print(f"# tracing overhead against: {report['overhead_baseline']}")
    for k, u in units.items():
        print(f"{k:32s} {report['metrics'][k]:14.4f} {u}")
    print(f"{'failed_share':32s} {report['failed_share']:14.4f} share")
    for k, v in report["detail"].items():
        print(f"detail {k}: {v}")
    for k, v in report.get("layers", {}).items():
        print(f"layer {k:40s} {v:.4f}" if isinstance(v, float) else f"layer {k}: {v}")
    for p in report["problems"]:
        print(f"PROBLEM {p}")


if __name__ == "__main__":
    sys.exit(main())
