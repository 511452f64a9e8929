"""Set-up and the timed closed loop, shared by the untraced and the
traced phase of a run."""

from __future__ import annotations

import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mkdir(*parts) -> str:
    path = os.path.join(*parts)
    os.makedirs(path, exist_ok=True)
    return path


class Env:
    """One SparkSession with its engine, source and tracer."""

    def __init__(self, spark, engine, source, tracer):
        self.spark = spark
        self.engine = engine
        self.source = source
        self.tracer = tracer


def set_up(work: str, source: str, name: str, tracer_factory, event_dir=None):
    """One set-up: session, catalog reflection into a fresh catalog
    cache, footer warm-up. Returns (env, {phase: seconds})."""
    from dbcut_spark.catalog import detect_catalog
    from dbcut_spark.catalog_cache import cached_catalog
    from dbcut_spark.session import get_spark

    from perfbench.workloads import TracedEngine

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap committed and touched at JVM start: a heap that
        # grows and is touched lazily reached a different peak RSS from
        # run to run (30% apart), whatever the program did
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp"
        ),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus(), extra_conf=conf)
    t1 = time.perf_counter()
    catalog = cached_catalog(
        source, os.path.join(work, f"catalog-cache-{name}"),
        lambda: detect_catalog(spark, source),
    )
    t2 = time.perf_counter()
    tracer = tracer_factory(spark)
    engine = TracedEngine(source, spark, catalog, tracer)
    for table in catalog.tables:
        engine.executor.load(table).schema  # file listing + footer
    t3 = time.perf_counter()
    return Env(spark, engine, source, tracer), {
        "session": t1 - t0, "catalog": t2 - t1, "warmup": t3 - t2, "total": t3 - t0,
    }


class Phase:
    """Ops of one timed phase as (op id, seconds, facts, error)."""

    def __init__(self):
        self.ops: list[tuple[int, float, dict, str | None]] = []
        self.elapsed = 0.0
        self.cached_mb_peak = 0.0

    @property
    def ops_per_s(self) -> float:
        return len(self.ops) / self.elapsed


def run_op(env, workload, op: int, request):
    from dbcut_spark.operators.pinning import release_pinned

    t = time.perf_counter()
    facts, err = {}, None
    with env.tracer.span("op", op=op):
        try:
            facts = workload.run(op, request)
        except Exception as e:  # the op counts as failed, the run goes on
            traceback.print_exc(file=sys.stderr)
            err = repr(e)[:300]
            release_pinned()
    return op, time.perf_counter() - t, facts, err


def measure(env, workload, seconds: float, op0: int = 0):
    """The workload's cold ops (its first requests, first executions in
    the JVM), its untimed warm-up ops, then the timed phase; op ids
    count from ``op0``. Returns (cold ops, warm-up ops, timed phase)."""
    requests = workload.requests()
    untimed = [
        run_op(env, workload, op0 + i, next(requests))
        for i in range(workload.cold_ops + workload.warmup_ops)
    ]
    cold, warm = untimed[:workload.cold_ops], untimed[workload.cold_ops:]
    phase = timed_phase(env, workload, requests, seconds, op0 + len(untimed))
    return cold, warm, phase


def timed_phase(env, workload, requests, seconds: float, op0: int) -> Phase:
    """Closed loop, one client: the next op starts when the last one
    ended. The phase ends at the first end of a round (``round_ops``
    consecutive requests, one of each kind the workload mixes) past
    ``seconds``, so every run times whole rounds of the same mix."""
    phase = Phase()
    t0 = time.perf_counter()
    op = op0
    while True:
        phase.ops.append(run_op(env, workload, op, next(requests)))
        if env.tracer.enabled:
            phase.cached_mb_peak = max(phase.cached_mb_peak, cached_mb(env.spark))
        op += 1
        if (
            time.perf_counter() - t0 >= seconds
            and len(phase.ops) % workload.round_ops == 0
        ):
            break
    phase.elapsed = time.perf_counter() - t0
    return phase


def cached_mb(spark) -> float:
    """Memory + disk held by cached RDDs, from the Spark status API."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
