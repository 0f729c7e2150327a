"""registry_mix: six registry queries, each run once per pass through
`plans.REGISTRY[name].spark_fn` and forced through the `noop` sink.

The warm-up pass collects every result instead; after the timed passes
those results are compared with each query's DuckDB oracle
(`plans.oracle_sql_map()`) over the same generated tables, so the
check stays outside the timed window.
"""

from __future__ import annotations

import os
import statistics
import time

import gen_tables
import procstat
import tracing

# `ann_cosine_ivf` and `pipeline_training_corpus_v2` are left out: the
# cold first pass of the two costs ~15 s and corpus v2's DuckDB oracle
# alone ~20 s, which together do not fit the run's time budget.
QUERIES = (
    "cdc_delete_archive",
    "agg_q1_pricing_summary",
    "join_multiway_q5",
    "window_topk_per_group",
    "dedup_minhash_candidates",
    "graph_pagerank_dup_chunks",
)
TABLE_SCALE = 0.5  # lineitem 30k rows, about sf0.005: see README, table scale
OP_PROP = "perfbench.op"
# One timed pass: a second one would add ~10-15 s to a run, more than the
# run budget of two workloads leaves under host CPU steal.
MIN_PASSES = 1


def run(ctx, workload: str) -> dict:
    tables = os.path.join(ctx.work, "tables")
    rows_of = {
        f"{name}.parquet": n
        for name, n in gen_tables.generate(tables, ctx.seed, TABLE_SCALE).items()
    }

    c0 = procstat.tree_cpu_s()
    spark = ctx.start_session()
    sc = spark.sparkContext
    t0 = time.perf_counter()
    from jly_flink_spark.plans import REGISTRY

    results, scanned, raised = {}, {}, {}
    for name in QUERIES:
        sc.setLocalProperty(OP_PROP, f"warmup:{name}")
        try:
            df = REGISTRY[name].spark_fn(spark, tables)
            scanned[name] = sum(
                rows_of.get(os.path.basename(f.rstrip("/")), 0)
                for f in df.inputFiles()
            )
            results[name] = df.toPandas()
        except Exception as e:  # noqa: BLE001 - reported as a failed op
            raised[name] = f"{type(e).__name__}: {e}"[:300]
    ctx.setup["warmup_s"] = time.perf_counter() - t0
    ctx.setup["cpu_s"] = procstat.tree_cpu_s() - c0

    ops, passes = [], []
    measured, n = 0.0, 0
    while measured < ctx.seconds or n < MIN_PASSES:
        c0, j0 = procstat.tree_cpu_s(), procstat.jit_cpu_s()
        t = time.perf_counter()
        with ctx.spans.span("op.pass", n=n):
            for name in QUERIES:
                sc.setLocalProperty(OP_PROP, f"{n}:{name}")
                op = {"id": f"{n}:{name}", "query": name, "pass": n,
                      "problems": []}
                ops.append(op)
                q0 = time.perf_counter()
                try:
                    with ctx.spans.span("registry.build", query=name, n=n):
                        df = REGISTRY[name].spark_fn(spark, tables)
                    with ctx.spans.span("registry.noop_write", query=name, n=n):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001
                    op["problems"].append(f"raised {type(e).__name__}: {e}"[:300])
                op["wall_s"] = time.perf_counter() - q0
        sc.setLocalProperty(OP_PROP, None)
        wall = time.perf_counter() - t
        c1, j1 = procstat.tree_cpu_s(), procstat.jit_cpu_s()
        passes.append({
            "wall_s": wall,
            "cpu_s": (c1 - c0) - (j1 - j0),
            "jit_s": j1 - j0,
            "lines": sum(scanned.values()),
        })
        measured += wall
        n += 1

    ctx.mark_peak_rss()
    verdict = _oracle_check(results, raised, tables)
    for op in ops:
        if verdict[op["query"]]:
            op["problems"].append(verdict[op["query"]])
    out = {
        "ops": ops,
        "units": passes,
        "op_latency": [p["wall_s"] for p in passes],
        "detail": {
            "rows_scanned_per_pass": sum(scanned.values()),
            "table_rows": rows_of,
            "query_wall_s": {
                q: statistics.median(op["wall_s"] for op in ops if op["query"] == q)
                for q in QUERIES
            },
        },
    }
    if ctx.trace:
        out["layers"] = lambda log: _layers(ctx, log, ops, passes)
    return out


def _oracle_check(results, raised, tables) -> dict[str, str]:
    """Compare each warm-up result with its DuckDB oracle, with the
    project's oracle-gate canonicalization (`tests/oracle_harness.py`);
    returns a problem string per query, empty when it matches."""
    from jly_flink_spark.plans import oracle_sql_map
    from tests.oracle_harness import _frame_to_rows, duckdb_connect

    oracles = oracle_sql_map()
    con = duckdb_connect(tables)
    out = {}
    try:
        for name in QUERIES:
            if name in raised:
                out[name] = f"warm-up raised {raised[name]}"
                continue
            spark_pdf = results[name]
            oracle_pdf = con.execute(oracles[name]).fetchdf()
            cols = sorted(spark_pdf.columns)
            if cols != sorted(oracle_pdf.columns):
                out[name] = f"columns {cols} vs oracle {sorted(oracle_pdf.columns)}"
                continue
            got, _ = _frame_to_rows(spark_pdf, cols)
            want, _ = _frame_to_rows(oracle_pdf, cols)
            out[name] = "" if got == want else (
                f"{len(got)} rows vs oracle {len(want)}, "
                f"{sum(a != b for a, b in zip(got, want))} differ"
            )
    finally:
        con.close()
    return out


def _layers(ctx, log, ops, passes) -> dict:
    by_op = tracing.jobs_by_prop(log, OP_PROP)
    per_query: dict[str, dict] = {}
    pass_totals = []
    for n in range(len(passes)):
        tot = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
               "shuffle_write_mb": 0.0, "gc_s": 0.0}
        for name in QUERIES:
            s = tracing.spark_totals(log, by_op.get(f"{n}:{name}", []))
            for k in tot:
                tot[k] += s[k]
            if n == 0:
                per_query[name] = s
        pass_totals.append(tot)
    spans = ctx.spans
    detail = {}
    for name in QUERIES:
        s = per_query[name]
        detail[f"registry.{name}.wall_s"] = statistics.median(
            op["wall_s"] for op in ops if op["query"] == name)
        detail[f"registry.{name}.jobs"] = s["jobs"]
        detail[f"registry.{name}.task_s"] = s["task_s"]
        detail[f"registry.{name}.shuffle_mb"] = s["shuffle_write_mb"]
    build = spans.total("registry.build") / len(passes)
    action = spans.total("registry.noop_write") / len(passes)
    # Share of the pass during which some Spark job runs; the rest is
    # driver-side work (plan construction, analysis, optimisation).
    job_busy = []
    for n, p in enumerate(passes):
        jobs = [log["jobs"][j] for q in QUERIES for j in by_op.get(f"{n}:{q}", [])]
        job_busy.append(tracing.busy_s([
            (j["start_ms"] / 1000.0, j["end_ms"] / 1000.0)
            for j in jobs if j["end_ms"] is not None
        ]) / p["wall_s"])
    detail["registry.job_busy_share"] = statistics.median(job_busy)

    def med(key):
        return statistics.median(t[key] for t in pass_totals)

    generic = {
        "spark.jobs_per_op": med("jobs"),
        "spark.stages_per_op": med("stages"),
        "spark.tasks_per_op": med("tasks"),
        "spark.task_s_per_op": med("task_s"),
        "spark.shuffle_write_mb_per_op": med("shuffle_write_mb"),
        "spark.gc_s": sum(t["gc_s"] for t in pass_totals),
        "spark.core_busy_share": statistics.median(
            t["task_s"] / (ctx.cpus * p["wall_s"])
            for t, p in zip(pass_totals, passes)),
        "layer.coordination_s_per_op": build,
        "layer.action_s_per_op": action,
    }
    return {"generic": generic, "detail": detail}
