"""Per-layer metrics of a traced phase.

Layers are named after the modules the benchmark calls into:
session, catalog_cache, plans, closure, cache, insert_ignore,
json_export, sqldump, queries, plus spark (event-log task metrics),
driver (op time no Spark job covers) and pinning (cached storage held
after each op). Per-op figures are window totals divided by the number
of traced ops, so runs of different length compare.
"""

from __future__ import annotations

import statistics

from perfbench.tracing import covered, self_times


def compute(spans, jobs, phase, untraced, setups, facts, outputs):
    """Per-layer metrics as {name: (value, unit)}.

    ``spans``/``jobs``: the traced phase's spans and event-log jobs;
    ``phase``/``untraced``: the traced timed phase and the untraced
    one run after it;
    ``setups``: set-up timings; ``facts``: the workload's end-of-phase
    facts (target, cache); ``outputs``: op id -> output facts."""
    n = len(phase.ops)
    op_ids = {op for op, *_ in phase.ops}
    span_of = {s.id: s for s in spans if s.op in op_ids}
    by_name: dict[str, list] = {}
    for s in span_of.values():
        by_name.setdefault(s.name, []).append(s)
    selft = self_times(list(span_of.values()))

    def wall(name):
        return sum(s.end - s.start for s in by_name.get(name, [])) / n

    op_jobs = [j for j in jobs if j.span in span_of]

    def jobs_of(prefix):
        return sum(
            1 for j in op_jobs
            if span_of[j.span].name.split(".")[0] == prefix
        ) / n

    op_facts = [f for _, _, f, _ in phase.ops]

    def per_op(key):
        return sum(f.get(key, 0) for f in op_facts) / n

    lookups = [f["cache_hit"] for f in op_facts if "cache_hit" in f]
    offered = per_op("rows_offered")
    written = per_op("rows_written")
    plan_nodes = [s.facts["tree_nodes"] for s in by_name.get("plans", [])]
    out_facts = list(outputs.values())

    # driver self time: op wall not covered by any of the op's jobs
    jobs_by_op: dict[int, list] = {}
    for j in op_jobs:
        jobs_by_op.setdefault(span_of[j.span].op, []).append((j.start, j.end))
    roots = by_name.get("op", [])
    driver_self = sum(
        (s.end - s.start) - covered(jobs_by_op.get(s.op, []), s.start, s.end)
        for s in roots
    ) / n

    def spark_sum(attr):
        return sum(getattr(j, attr) for j in op_jobs) / n

    traced = phase.ops_per_s
    base = untraced.ops_per_s
    m = {
        "session.start_s": (statistics.median(s["session"] for s in setups), "s"),
        "session.first_start_s": (setups[0]["session"], "s"),
        "catalog_cache.load_s": (statistics.median(s["catalog"] for s in setups), "s"),
        "plans.build_s": (wall("plans"), "s/op"),
        "plans.tree_nodes": (
            statistics.mean(plan_nodes) if plan_nodes else 0.0, "1/plan"
        ),
        "closure.execute_s": (wall("closure"), "s/op"),
        "closure.jobs": (jobs_of("closure"), "1/op"),
        "closure.cut_rows": (per_op("closure_rows"), "rows/op"),
        "cache.hit_frac": (
            sum(lookups) / len(lookups) if lookups else 0.0, "ratio"
        ),
        "cache.save_s": (wall("cache.save"), "s/op"),
        "cache.load_s": (wall("cache.load"), "s/op"),
        "cache.written_mb": (facts.get("cache_mb", 0.0) / n, "MB/op"),
        "insert_ignore.write_s": (wall("insert_ignore"), "s/op"),
        "insert_ignore.jobs": (jobs_of("insert_ignore"), "1/op"),
        "insert_ignore.rows_offered": (offered, "rows/op"),
        "insert_ignore.rows_written": (written, "rows/op"),
        "insert_ignore.useful_frac": (written / offered if offered else 0.0, "ratio"),
        "insert_ignore.target_files": (facts.get("target_files", 0), "count"),
        "insert_ignore.target_mb": (facts.get("target_mb", 0.0), "MB"),
        "json_export.write_s": (wall("json_export"), "s/op"),
        "json_export.jobs": (jobs_of("json_export"), "1/op"),
        "json_export.docs": (sum(f.get("docs", 0) for f in out_facts) / n, "1/op"),
        "json_export.out_mb": (sum(f.get("json_mb", 0.0) for f in out_facts) / n, "MB/op"),
        "sqldump.render_s": (
            sum(selft[s.id] for s in by_name.get("sqldump", [])) / n, "s/op"
        ),
        "sqldump.statements": (per_op("statements"), "1/op"),
        "sqldump.out_mb": (sum(f.get("sql_mb", 0.0) for f in out_facts) / n, "MB/op"),
        "queries.build_s": (wall("queries.build"), "s/op"),
        "queries.action_s": (wall("queries.action"), "s/op"),
        "queries.jobs": (jobs_of("queries"), "1/op"),
        "spark.jobs": (len(op_jobs) / n, "1/op"),
        "spark.stages": (spark_sum("stages"), "1/op"),
        "spark.tasks": (spark_sum("tasks"), "1/op"),
        "spark.executor_run_s": (spark_sum("run_s"), "s/op"),
        "spark.executor_cpu_s": (spark_sum("cpu_s"), "s/op"),
        "spark.gc_s": (spark_sum("gc_s"), "s/op"),
        "spark.input_mb": (spark_sum("input_mb"), "MB/op"),
        "spark.output_mb": (spark_sum("output_mb"), "MB/op"),
        "spark.shuffle_read_mb": (spark_sum("shuffle_read_mb"), "MB/op"),
        "spark.shuffle_write_mb": (spark_sum("shuffle_write_mb"), "MB/op"),
        "spark.spill_mb": (spark_sum("spill_mb"), "MB/op"),
        "driver.self_s": (driver_self, "s/op"),
        "pinning.cached_mb_peak": (phase.cached_mb_peak, "MB"),
        "trace.ops_per_s": (traced, "1/s"),
        "trace.untraced_ops_per_s": (base, "1/s"),
        "trace.overhead_frac": (1.0 - traced / base, "ratio"),
    }
    return m
