"""The workloads: what one op does, and how its output is checked.

Each workload owns a state directory (target, result cache, output
files) and exposes ``requests()`` (an endless seeded stream),
``run(op, request)`` (one op, traced through ``env.tracer``) and
``check()`` (output checks after the timed phase; returns the ids of
ops whose output is wrong, with a reason each).
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import sqlite3
import statistics

import duckdb

from dbcut_spark.api import Engine
from dbcut_spark.cache import ResultCache, cache_key
from dbcut_spark.catalog import TPCH_TABLES, topo_order
from dbcut_spark.config import normalize_query
from dbcut_spark.graph import Direction
from dbcut_spark.operators.pinning import release_pinned
from dbcut_spark.plans.oracle import plan_oracle_sql
from dbcut_spark.sinks.insert_ignore import insert_ignore_parquet
from dbcut_spark.sinks.json_export import nested_export
from dbcut_spark.verify import compare_result_sets, register_parquet_views

from perfbench import inputs


class TracedExecutor:
    """Closure executor seen through a span per public call."""

    def __init__(self, inner, tracer):
        self._inner = inner
        self._tracer = tracer

    def execute(self, plan):
        with self._tracer.span("closure"):
            return self._inner.execute(plan)

    def execute_nodes(self, plan):
        with self._tracer.span("closure"):
            return self._inner.execute_nodes(plan)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class TracedEngine(Engine):
    """``Engine`` whose plan builder and closure executor record spans;
    with a ``NullTracer`` the spans are no-ops."""

    def __init__(self, source, spark, catalog, tracer):
        super().__init__(source, spark=spark, catalog=catalog)
        self.tracer = tracer
        self.executor = TracedExecutor(self.executor, tracer)

    def plan(self, query):
        with self.tracer.span("plans") as s:
            plan = super().plan(query)
        if s is not None:
            s.facts["tree_nodes"] = sum(1 for _ in plan.tree.root.walk())
        return plan


def _duck(source: str):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    register_parquet_views(con, source, TPCH_TABLES)
    return con


def _dir_stats(path: str) -> tuple[int, float]:
    """(data files, MB) under ``path``."""
    files, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size / (1024.0 * 1024.0)


def _cols(con, table: str) -> list[str]:
    return [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]


class CutLoad:
    """Load requests (the ``dbcut load`` path): cache lookup, closure +
    cache save on a miss, cache load on a hit, then insert-ignore of
    every table into one growing parquet target."""

    def __init__(self, env, state: str):
        self.env = env
        self.target = os.path.join(state, "target")
        self.cache = ResultCache(os.path.join(state, "cache"))
        self.catalog_info = json.loads(env.engine.catalog.to_json())
        self.topo = {t: i for i, t in enumerate(topo_order(env.engine.catalog))}
        self.issued: dict[int, dict] = {}  # pool index -> cut
        self.ops: dict[int, int] = {}  # op id -> pool index

    def run(self, op: int, request) -> dict:
        k, cut = request
        self.issued[k] = cut
        self.ops[op] = k
        eng, tr = self.env.engine, self.env.tracer
        facts: dict = {}
        with tr.span("cache.lookup"):
            key = cache_key(eng.source, normalize_query(cut), self.catalog_info)
            hit = self.cache.exists(key)
        facts["cache_hit"] = hit
        counts = None
        if hit:
            with tr.span("cache.load"):
                frames = self.cache.load(eng.spark, key)
        else:
            plan = eng.plan(cut)
            frames = eng.executor.execute(plan)
            with tr.span("cache.save"):
                counts = self.cache.save(key, frames)
            facts["closure_rows"] = sum(counts.values())
            release_pinned()
            with tr.span("cache.load"):
                frames = self.cache.load(eng.spark, key)
        counts = counts or self.cache.counts(key)
        written = 0
        os.makedirs(self.target, exist_ok=True)
        for table in sorted(frames, key=lambda t: self.topo.get(t, len(self.topo))):
            pk = list(eng.catalog.table(table).pk)
            with tr.span("insert_ignore"):
                written += insert_ignore_parquet(
                    eng.spark, frames[table],
                    os.path.join(self.target, f"{table}.parquet"), pk,
                )
        release_pinned()
        facts["rows_offered"] = sum(counts.values())
        facts["rows_written"] = written
        return facts

    def layer_facts(self) -> dict:
        files, mb = _dir_stats(self.target)
        cache_mb = _dir_stats(self.cache.cache_dir)[1]
        return {"target_files": files, "target_mb": mb, "cache_mb": cache_mb}

    def check(self) -> dict[int, str]:
        """Target == union of the issued cuts' oracle closures, table by
        table, and no dangling key on any FK edge of any issued cut."""
        eng = self.env.engine
        con = _duck(eng.source)
        bad_cut: dict[int, str] = {}
        per_table: dict[str, list[tuple[int, str]]] = {}
        plans = {k: eng.plan(cut) for k, cut in self.issued.items()}
        for k, plan in plans.items():
            for node in plan.tree.root.walk():
                per_table.setdefault(node.table, [])
                if all(kk != k for kk, _ in per_table[node.table]):
                    per_table[node.table].append((k, plan_oracle_sql(plan, node.table)))
        for table, sqls in per_table.items():
            path = os.path.join(self.target, f"{table}.parquet")
            if not os.path.isdir(path):
                for k, _ in sqls:
                    bad_cut.setdefault(k, f"{table}: target table missing")
                continue
            cols = ", ".join(_cols(con, table))
            con.execute(
                f"CREATE OR REPLACE TEMP VIEW tgt_{table} AS SELECT {cols} FROM "
                f"read_parquet('{path}/**/*.parquet')"
            )
            union = " UNION ".join(f"SELECT {cols} FROM ({sql})" for _, sql in sqls)
            extra = con.execute(
                f"SELECT count(*) FROM (SELECT * FROM tgt_{table} EXCEPT ({union}))"
            ).fetchone()[0]
            pk = ", ".join(eng.catalog.table(table).pk)
            dupes = con.execute(
                f"SELECT (SELECT count(*) FROM tgt_{table}) - "
                f"(SELECT count(*) FROM (SELECT DISTINCT {pk} FROM tgt_{table}))"
            ).fetchone()[0]
            for k, sql in sqls:
                missing = con.execute(
                    f"SELECT count(*) FROM (SELECT {cols} FROM ({sql}) "
                    f"EXCEPT SELECT * FROM tgt_{table})"
                ).fetchone()[0]
                if missing or extra or dupes:
                    bad_cut.setdefault(
                        k, f"{table}: {missing} missing, {extra} extra, "
                        f"{dupes} duplicate keys"
                    )
        for k, plan in plans.items():
            for node in plan.tree.root.walk():
                rel = node.relationship
                if rel is None:
                    continue
                many_to_one = rel.direction is Direction.MANYTOONE
                fk_table, fk_cols, ref_table, ref_cols = (
                    (rel.source, rel.source_cols, rel.target, rel.target_cols)
                    if many_to_one
                    else (rel.target, rel.target_cols, rel.source, rel.source_cols)
                )
                if not os.path.isdir(os.path.join(self.target, f"{ref_table}.parquet")):
                    continue  # already reported as a missing table
                fk = ", ".join(f"c.{c}" for c in fk_cols)
                ref = ", ".join(ref_cols)
                dangling = con.execute(
                    f"SELECT count(*) FROM ({plan_oracle_sql(plan, fk_table)}) c "
                    f"WHERE ({fk}) IS NOT NULL AND ({fk}) NOT IN "
                    f"(SELECT ({ref}) FROM tgt_{ref_table})"
                ).fetchone()[0]
                if dangling:
                    bad_cut.setdefault(
                        k, f"{fk_table}->{ref_table}: {dangling} dangling keys"
                    )
        con.close()
        return {op: bad_cut[k] for op, k in self.ops.items() if k in bad_cut}


class CutExport:
    """Export requests: a cut rendered as nested JSON (``nested_export``)
    or as a sqlite SQL dump (``Engine.sql_dump``) to a file; no cache,
    no target."""

    def __init__(self, env, state: str):
        self.env = env
        self.out = state
        self.outputs: dict[int, tuple[int, str, dict, str]] = {}

    def run(self, op: int, request) -> dict:
        k, fmt, cut = request
        eng, tr = self.env.engine, self.env.tracer
        facts: dict = {}
        if fmt == "json":
            path = os.path.join(self.out, f"op{op}.json")
            plan = eng.plan(cut)
            _, frontiers = eng.executor.execute_nodes(plan)
            with tr.span("json_export"):
                nested_export(plan, frontiers, path)
            release_pinned()
        else:
            path = os.path.join(self.out, f"op{op}.sql")
            with tr.span("sqldump"):
                n = inserts = 0
                with open(path, "w") as f:
                    for stmt in eng.sql_dump(cut, dialect="sqlite"):
                        f.write(stmt)
                        f.write("\n")
                        n += 1
                        inserts += stmt.startswith("INSERT")
            facts["statements"] = n
            facts["closure_rows"] = inserts
        self.outputs[op] = (k, fmt, cut, path)
        return facts

    def output_facts(self, op: int) -> dict:
        """Size of an op's output (traced runs only: reads the files)."""
        k, fmt, cut, path = self.outputs[op]
        if fmt == "json":
            return {"json_mb": _dir_stats(path)[1], "docs": sum(1 for _ in _json_lines(path))}
        return {"sql_mb": os.path.getsize(path) / 2**20}

    def check(self) -> dict[int, str]:
        """JSON: one document per oracle root row. SQL: the dump loads
        into sqlite3 and every table's rows equal the oracle's."""
        eng = self.env.engine
        con = _duck(eng.source)
        oracle: dict[tuple[int, str], tuple[list, list]] = {}

        def oracle_rows(k, plan, table):
            if (k, table) not in oracle:
                cur = con.execute(plan_oracle_sql(plan, table))
                # the sqlite dump stores timestamps as their text rendering
                rows = [
                    tuple(v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v for v in r)
                    for r in cur.fetchall()
                ]
                oracle[(k, table)] = ([d[0] for d in cur.description], rows)
            return oracle[(k, table)]

        bad: dict[int, str] = {}
        plans: dict[int, object] = {}
        for op, (k, fmt, cut, path) in sorted(self.outputs.items()):
            plan = plans.setdefault(k, eng.plan(cut))
            if fmt == "json":
                _, rows = oracle_rows(k, plan, plan.root_table)
                docs = sum(1 for _ in _json_lines(path))
                if docs != len(rows):
                    bad[op] = f"json: {docs} documents, oracle {len(rows)} roots"
                continue
            db = sqlite3.connect(":memory:")
            try:
                with open(path) as f:
                    db.executescript(f.read())
                tables = {node.table for node in plan.tree.root.walk()}
                for table in sorted(tables):
                    d_cols, d_rows = oracle_rows(k, plan, table)
                    cur = db.execute(f'SELECT * FROM "{table}"')
                    s_cols = [d[0] for d in cur.description]
                    problems = compare_result_sets(s_cols, cur.fetchall(), d_cols, d_rows)
                    if problems:
                        bad[op] = f"sql {table}: {problems[0][:200]}"
                        break
            except sqlite3.Error as e:
                bad[op] = f"sql: dump does not load: {e}"
            finally:
                db.close()
        con.close()
        return bad


def _json_lines(path: str):
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as f:
                for line in f:
                    if line.strip():
                        yield line


class CutMix:
    """The extraction workload: the seeded cut pool requested as loads
    (a skewed stream with repeats, so the result cache hits) interleaved
    with JSON and SQL exports of every cut."""

    name = "cut_mix"
    round_ops = 4  # two loads, one JSON and one SQL export
    cold_ops = 1
    warmup_ops = 0

    def __init__(self, env, seed: int, state: str):
        self.seed = seed
        self.load = CutLoad(env, os.path.join(state, "load"))
        self.export = CutExport(env, os.path.join(state, "export"))
        os.makedirs(self.export.out, exist_ok=True)

    def requests(self):
        return itertools.cycle(inputs.cut_stream(self.seed))

    def run(self, op: int, request) -> dict:
        kind, k, cut = request
        if kind == "load":
            return self.load.run(op, (k, cut))
        return self.export.run(op, (k, kind, cut))

    def latencies(self, ops) -> list[float]:
        """Every timed op's wall time."""
        return [s for _, s, _, _ in ops]

    def layer_facts(self) -> dict:
        return self.load.layer_facts()

    def output_facts(self, op: int) -> dict:
        return self.export.output_facts(op) if op in self.export.outputs else {}

    def check(self) -> dict[int, str]:
        return {**self.load.check(), **self.export.check()}


class QueryMix:
    """A sample of the analytics registry in seeded order
    (``inputs.query_sample``), run round-robin, each query materialized
    through the ``noop`` sink."""

    name = "query_mix"

    def __init__(self, env, seed: int, state: str):
        from dbcut_spark.queries import QUERIES

        with open(os.path.join(os.path.dirname(__file__), "query_pool.json")) as f:
            self.sample = inputs.query_sample(seed, json.load(f)["queries"])
        # the first pass is the cold ops: first executions in a JVM cost
        # several times a warm one and would dominate the timed phase
        self.cold_ops = len(self.sample)
        # a second pass runs untimed too: ops still speed up over the
        # first passes, by an amount that varies from run to run
        self.warmup_ops = len(self.sample)
        # three timed passes (~20 s, whatever --seconds below that): ops
        # still speed up from pass to pass, so every run times the same
        # passes; a query's time is its median over them
        self.round_ops = 3 * len(self.sample)
        self.queries = QUERIES
        self.env = env
        self.ran: dict[int, str] = {}

    def requests(self):
        return itertools.cycle(self.sample)

    def run(self, op: int, name: str) -> dict:
        spark, tr = self.env.engine.spark, self.env.tracer
        self.ran[op] = name
        with tr.span("queries.build"):
            df = self.queries[name](spark, self.env.source)
        with tr.span("queries.action"):
            df.write.format("noop").mode("overwrite").save()
        release_pinned()
        return {}

    def latencies(self, ops) -> list[float]:
        """Each query's median wall time over its timed ops (the phase
        runs whole passes, so every query has three): a pass's ops differ
        in cost, and a burst of load on the machine that slows one pass
        drops out of the median."""
        per: dict[str, list[float]] = {}
        for op, s, _, _ in ops:
            per.setdefault(self.ran[op], []).append(s)
        return [statistics.median(v) for v in per.values()]

    def layer_facts(self) -> dict:
        return {}

    def output_facts(self, op: int) -> dict:
        return {}

    def check(self) -> dict[int, str]:
        """Every query run matches its DuckDB oracle (re-executed with a
        collect, outside the timed phase). A query's result depends only
        on the program and the source, so a process checks each query
        once and later phases (a traced run has three) reuse the
        verdict."""
        from dbcut_spark.queries import ORACLES

        spark = self.env.engine.spark
        con = _duck(self.env.source)
        for name in sorted(set(self.ran.values())):
            if (self.env.source, name) in _QUERY_VERDICTS:
                continue
            try:
                df = self.queries[name](spark, self.env.source)
                s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
                release_pinned()
                cur = con.execute(ORACLES[name])
                d_rows = cur.fetchall()
                problems = compare_result_sets(
                    s_cols, s_rows, [d[0] for d in cur.description], d_rows
                )
            except Exception as e:  # a crashing check is a failed op
                problems = [f"check raised {e!r}"[:300]]
            _QUERY_VERDICTS[(self.env.source, name)] = (
                problems[0][:300] if problems else None
            )
        con.close()
        verdicts = {n: _QUERY_VERDICTS[(self.env.source, n)] for n in set(self.ran.values())}
        return {op: verdicts[n] for op, n in self.ran.items() if verdicts[n]}


# (source, query name) -> first problem found, or None when it matched
_QUERY_VERDICTS: dict[tuple[str, str], str | None] = {}


WORKLOADS = {w.name: w for w in (CutMix, QueryMix)}
