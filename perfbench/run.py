"""Extraction-first benchmark of dbcut_spark.

    python3 perfbench/run.py --workload cut_mix --seed 1 --seconds 13 --trace 0

Run from the root of a source tree (the directory holding
``dbcut_spark/``). Workloads: ``cut_mix`` and ``query_mix`` (see
workloads.py). Work is fully materialized: a cut is
written to a parquet target, a JSON directory or a SQL file; a registry
query runs through the ``noop`` sink.

A run generates the sf0.1 source tables once per tree (kept under
``.perfbench_work/data``), sets up three times (SparkSession, catalog
reflection through ``catalog_cache``, footer warm-up), runs the first
ops (the cold ops) and the workload's untimed warm-up ops, runs ops in
a closed loop with one client thread for ``--seconds`` (whole rounds),
checks every op's output against the DuckDB oracle and prints one JSON
object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` then repeats
the timed phase on fresh state in a SparkContext with the event log on
and spans recorded, and reports the per-layer metrics and the tracing
overhead (traced against untraced ops/s of the same run); the spans go
to ``.perfbench_work/traces``.

Exit status: 0 when every output check passed, 1 when one failed (the
result line is still printed), 2 when the run could not start.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

SF = 0.1
SETUPS = 3
WORKLOAD_NAMES = ("cut_mix", "query_mix")


def commit() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(harness.ROOT))
    try:
        out = subprocess.run(
            ["git", "-C", harness.ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, env=env, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def end_to_end(setups, cold, lat, rss_mb: float):
    """``cold``: the workload's cold ops (each a first execution in the
    JVM); ``cold_op_s`` is their mean, not their median: a query's first
    execution also pays for warming what later queries share, so the
    cost moves between the cold ops with their seeded order. ``lat``:
    the timed phase's latencies as the workload reports them
    (``latencies``); ops/s is their count over their sum."""
    from perfbench.tracing import percentile, tail_percentile

    q = tail_percentile(len(lat))
    return {
        "setup_s": (statistics.median(s["total"] for s in setups), "s"),
        "cold_op_s": (statistics.mean(s for _, s, _, _ in cold), "s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (percentile(lat, q), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }, q


def traced_phase(args, work, source, setups, cls, op0):
    """Fresh state, a SparkContext with the event log on, spans on, the
    same requests as the untraced phase (cold ops untimed again, no
    warm-up ops: the untraced phase warmed the JVM); then the same once
    more untraced, as the base of the tracing overhead (both phases run
    in a JVM the first phase warmed).
    Returns (per-layer metrics, ops, failures)."""
    from perfbench import layers
    from perfbench.tracing import NullTracer, Tracer, parse_event_log

    event_dir = harness.mkdir(work, "eventlog")
    env, _ = harness.set_up(
        work, source, "traced", lambda spark: Tracer(spark.sparkContext),
        event_dir=event_dir,
    )
    wl = cls(env, args.seed, harness.mkdir(work, "state-traced"))
    wl.warmup_ops = 0  # the first phase warmed the JVM
    cold, warm, phase = harness.measure(env, wl, args.seconds, op0)
    facts = wl.layer_facts()
    outputs = {op: wl.output_facts(op) for op, *_ in phase.ops}
    failures = wl.check()
    env.spark.stop()  # closes the event log
    (log,) = glob.glob(os.path.join(event_dir, "*"))
    with open(log) as f:
        jobs = parse_event_log(f)
    traces = harness.mkdir(harness.ROOT, ".perfbench_work", "traces")
    env.tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))

    base_env, _ = harness.set_up(work, source, "base", lambda spark: NullTracer())
    base_wl = cls(base_env, args.seed, harness.mkdir(work, "state-base"))
    base_wl.warmup_ops = 0
    op0 += len(cold) + len(warm) + len(phase.ops)
    base_cold, base_warm, base = harness.measure(base_env, base_wl, args.seconds, op0)
    failures.update(base_wl.check())
    base_env.spark.stop()

    metrics = layers.compute(
        env.tracer.spans, jobs, phase, base, setups, facts, outputs
    )
    ops = [*cold, *warm, *phase.ops, *base_cold, *base_warm, *base.ops]
    return metrics, ops, failures


def run(args, work: str) -> int:
    from perfbench import datagen
    from perfbench.tracing import NullTracer
    from perfbench.workloads import WORKLOADS

    t_data = time.perf_counter()
    source = datagen.ensure_source(
        os.path.join(harness.ROOT, ".perfbench_work", "data"), SF
    )
    setups = []
    env = None
    for k in range(SETUPS):
        if env is not None:
            env.spark.stop()
        env, times = harness.set_up(work, source, str(k), lambda spark: NullTracer())
        setups.append(times)
    # the first set-up counts from process start (interpreter, imports)
    # but not the one-off generation of the source tables
    setups[0]["total"] += t_data - T_PROCESS
    sc = env.spark.sparkContext
    print(
        f"perfbench: workload={args.workload} seed={args.seed} sf={SF} "
        f"master={sc.master} parallelism={sc.defaultParallelism} "
        f"driver_memory={harness.DRIVER_MEMORY} client_threads=1 "
        f"commit={commit()} trace={args.trace}",
        flush=True,
    )

    cls = WORKLOADS[args.workload]
    wl = cls(env, args.seed, harness.mkdir(work, "state"))
    cold, warm, phase = harness.measure(env, wl, args.seconds)
    rss = harness.vm_hwm_mb(os.getpid()) + harness.vm_hwm_mb(
        env.spark._jvm.java.lang.ProcessHandle.current().pid()
    )
    t_check = time.perf_counter()
    failures = wl.check()
    t_check = time.perf_counter() - t_check
    ops = [*cold, *warm, *phase.ops]
    lat = wl.latencies(phase.ops)
    metrics, q = end_to_end(setups, cold, lat, rss)

    if args.trace:
        env.spark.stop()
        metrics, traced_ops, bad = traced_phase(
            args, work, source, setups, cls, len(ops)
        )
        failures.update(bad)
        ops += traced_ops

    print(
        "perfbench: set-ups " + " ".join(f"{s['total']:.2f}" for s in setups)
        + f" s, cold ops {sum(c[1] for c in cold):.2f} s, "
        f"warm-up {sum(w[1] for w in warm):.2f} s, timed {phase.elapsed:.2f} s, "
        f"checks {t_check:.2f} s, process {time.perf_counter() - T_PROCESS:.2f} s; "
        "op seconds: cold " + " ".join(f"{s:.2f}" for _, s, _, _ in cold)
        + ", warm-up " + " ".join(f"{s:.2f}" for _, s, _, _ in warm)
        + ", timed " + " ".join(f"{s:.2f}" for _, s, _, _ in phase.ops),
        file=sys.stderr, flush=True,
    )
    errors = {op: err for op, _, _, err in ops if err}
    failed = {**failures, **errors}
    for op in sorted(failed):
        print(f"perfbench: op {op} failed: {failed[op]}", file=sys.stderr)
    if not args.trace:
        shown = [f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items()]
        shown.append(f"failed_ops_frac={len(failed) / len(ops):.6g} ratio")
        print(
            f"perfbench: {' '.join(shown)} (latency_tail_s is p{q:g} of "
            f"{len(lat)} latencies from {len(phase.ops)} timed ops in "
            f"{phase.elapsed:.2f} s; {len(cold)} cold ops)",
            flush=True,
        )
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 1 if failed else 0


def stop_spark() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(harness.ROOT, "dbcut_spark", "__init__.py")):
        print(f"perfbench: no dbcut_spark package in {harness.ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(harness.ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp", "warehouse"):
        harness.mkdir(work, sub)
    # Python workers import dbcut_spark from the tree whatever their
    # cwd; Spark, JVM and Python scratch files stay inside the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (harness.ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.chdir(work)
    try:
        return run(args, work)
    finally:
        stop_spark()
        os.chdir(harness.ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
