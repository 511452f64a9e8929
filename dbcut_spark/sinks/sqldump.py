"""SQL dump sink (reference K3/K4): emit CREATE TABLE + INSERT statements
for the extraction result instead of loading it.

The reference echoes every statement executed against the destination
(``/root/reference/dbcut/database.py:379-409``; sample output
``/root/reference/README.rst:363-399``): dialect-specific IGNORE inserts
(SQLite ``INSERT OR IGNORE``, MySQL ``INSERT IGNORE``, PG
``... ON CONFLICT DO NOTHING``).

Two modes:
- :func:`dump_sql` — driver-side statement iterator for human-sized
  dumps: every table is collected at once, one job per table, from
  driver threads (``sinks.insert_ignore.per_table``), so driver memory
  holds up to the whole dumped cut; each table's rows are dropped once
  rendered;
- :func:`dump_sql_distributed` — each partition renders its INSERTs in
  executors and writes text shards; at 100 TB the dump itself is
  embarrassingly parallel and never funnels through the driver. This
  is the bounded-memory path at scale.

Both render timestamps as session-time-zone wall clocks, as the JSON
export does.
"""

from __future__ import annotations

import datetime as _dt
import math as _math
import re as _re
from contextlib import closing
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbcut_spark.sinks.insert_ignore import per_table

DIALECTS = {
    "sqlite": {"insert": "INSERT OR IGNORE INTO", "quote": '"', "suffix": ""},
    "mysql": {"insert": "INSERT IGNORE INTO", "quote": "`", "suffix": ""},
    "postgresql": {
        "insert": "INSERT INTO",
        "quote": '"',
        "suffix": " ON CONFLICT DO NOTHING",
    },
}

_SPARK_TO_SQL = {
    T.StringType: "TEXT",
    T.BinaryType: "BLOB",
    T.BooleanType: "BOOLEAN",
    T.ByteType: "SMALLINT",
    T.ShortType: "SMALLINT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.FloatType: "REAL",
    T.DoubleType: "DOUBLE PRECISION",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
}

# dialect exceptions to the portable map (round-10 review): PG has no
# BLOB type (bytea); MySQL's TIMESTAMP is range-limited to 1970-2038
# and truncates fractional seconds at the default fsp=0 — DATETIME(6)
# carries the full Spark timestamp domain.
_DIALECT_TYPE_OVERRIDES: dict[str, dict] = {
    "postgresql": {T.BinaryType: "BYTEA"},
    "mysql": {
        T.TimestampType: "DATETIME(6)",
        T.TimestampNTZType: "DATETIME(6)",
    },
}


def sql_type(dt: T.DataType, dialect: str = "sqlite") -> str:
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    over = _DIALECT_TYPE_OVERRIDES.get(dialect, {})
    return over.get(type(dt), _SPARK_TO_SQL.get(type(dt), "TEXT"))


class _RawNum(str):
    """A pre-rendered numeric token (exact decimal digits) that must be
    emitted verbatim, unquoted. Used by the distributed dump to carry
    BIGINTs through Arrow→pandas, whose float64 widening of nullable
    int columns silently corrupts values above 2^53."""


def render_value(v, dialect: str = "sqlite") -> str:
    if v is None:
        return "NULL"
    if isinstance(v, _RawNum):
        return str(v)
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not _math.isfinite(v):
        # SQL has no portable NaN/Infinity literal — repr() would emit
        # `nan`/`inf` and abort the load mid-transaction. NULL matches
        # what the distributed path's notnull() rewrite already did for
        # NaN, so both dump modes now agree on all non-finite values.
        return "NULL"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return f"'{v.isoformat(sep=' ') if isinstance(v, _dt.datetime) else v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        if dialect == "postgresql":
            # X'...' is a BIT-STRING literal in PG (type error against
            # bytea); the hex-format bytea literal is '\x...'
            return "'\\x" + v.hex() + "'"
        return "X'" + v.hex() + "'"
    s = str(v).replace("'", "''")
    if dialect == "mysql":
        # MySQL's default sql_mode treats backslash as an escape
        # character inside string literals: an unescaped trailing \
        # would swallow the closing quote (the rest of the statement
        # then parses as SQL — corruption or injection), and \n, \t…
        # would be transformed on load. sqlite and modern postgres
        # (standard_conforming_strings=on) take backslash literally.
        s = s.replace("\\", "\\\\")
    return "'" + s + "'"


# Source-DBMS spellings of the "current timestamp" server default, all
# rewritten to the portable bare CURRENT_TIMESTAMP on every target —
# the reference's cross-dialect server_default rewrite
# (``/root/reference/dbcut/compiler.py:12-18,58-63`` rewrites MySQL's
# ``current_timestamp()`` default when compiling for sqlite). The
# optional parenthesized precision covers MySQL/MariaDB
# fractional-second forms (``current_timestamp(6)``, ``now(3)``).
# ``now``/``getdate`` REQUIRE parens: the bare words are plausible
# string literals (a column defaulting to the text 'now'), while
# current_timestamp/localtimestamp/sysdate are SQL keywords that are
# never bare literals by accident.
_CURRENT_TS_RE = _re.compile(
    r"^(current_timestamp|localtimestamp|sysdate)(\(\d*\))?$"
    r"|^(now|getdate)\(\d*\)$"
)


class RawDefault(str):
    """A server default that is ALREADY a SQL expression — the form
    reflection returns (sqlite ``dflt_value`` / information_schema
    ``column_default`` hand back e.g. ``'new'`` with its quotes, or
    ``CURRENT_TIMESTAMP``). Rendered verbatim after the cross-dialect
    current-timestamp rewrite, never re-quoted as a literal."""


def default_sql(value, dialect: str) -> str:
    """Render a column DEFAULT clause value. Strings spelling a
    current-timestamp function (any casing, with or without parens or a
    fractional-second precision suffix) are rewritten to the
    target-portable ``CURRENT_TIMESTAMP``; a :class:`RawDefault` passes
    through verbatim; everything else renders as a literal via
    :func:`render_value`."""
    if isinstance(value, str) and _CURRENT_TS_RE.match(value.strip().lower()):
        return "CURRENT_TIMESTAMP"
    if isinstance(value, RawDefault):
        return str(value)
    return render_value(value, dialect)


def catalog_raw_defaults(catalog, tables) -> dict[str, dict[str, "RawDefault"]]:
    """Per-table RawDefault maps from a catalog's reflected server
    defaults — the one shared bridge both dump front doors
    (``Engine.sql_dump`` and the CLI ``dumpsql`` command) use, so the
    expression handling can never diverge between them."""
    out: dict[str, dict[str, RawDefault]] = {}
    for t in tables:
        d = catalog.table(t).defaults
        if d:
            out[t] = {c: RawDefault(expr) for c, expr in d.items()}
    return out


def create_table_sql(
    table: str,
    df: DataFrame,
    pk: list[str],
    dialect: str = "sqlite",
    fks: list[tuple[list[str], str, list[str]]] | None = None,
    defaults: dict[str, object] | None = None,
) -> str:
    """CREATE TABLE with portable, target-unique constraint names.

    Cross-DBMS portability mutations mirror the reference's metadata
    rewrite on reflect (``/root/reference/dbcut/database.py:183-205``):
    every named constraint is renamed through a deterministic naming
    convention so a dump taken from one DBMS loads into another where
    constraint names must be schema-unique (PostgreSQL) — here
    ``pk_<table>`` / ``fk_<table>_<cols>_<i>``. ``fks`` entries are
    ``(child_cols, parent_table, parent_cols)``.

    Nullability carries over from the DataFrame schema (``NOT NULL``
    for non-nullable fields), and ``defaults`` maps column names to
    server defaults — literals, or a current-timestamp spelling that is
    rewritten cross-dialect (:func:`default_sql`) so a schema dumped
    from one DBMS reloads under another with the same DB-side defaults
    the application relies on."""
    q = DIALECTS[dialect]["quote"]
    cols = []
    for f in df.schema.fields:
        ftype = sql_type(f.dataType, dialect)
        col = f"{q}{f.name}{q} {ftype}"
        if not f.nullable:
            col += " NOT NULL"
        if defaults and f.name in defaults:
            rendered = default_sql(defaults[f.name], dialect)
            if dialect == "mysql" and ftype in ("TEXT", "BLOB"):
                # MySQL rejects ANY plain default on TEXT/BLOB (error
                # 1101 for literals, 1067 for CURRENT_TIMESTAMP on a
                # non-temporal column); 8.0.13+ accepts them as
                # parenthesized expression defaults — same portability
                # family as the TEXT(128) index-prefix cap below
                rendered = f"({rendered})"
            col += f" DEFAULT {rendered}"
        cols.append(col)
    if pk:
        cols.append(
            f"CONSTRAINT {q}pk_{table}{q} PRIMARY KEY "
            f"({', '.join(q + c + q for c in pk)})"
        )
    for i, (child_cols, parent, parent_cols) in enumerate(fks or [], start=1):
        cname = f"fk_{table}_{'_'.join(child_cols)}_{i}"
        cols.append(
            f"CONSTRAINT {q}{cname}{q} FOREIGN KEY "
            f"({', '.join(q + c + q for c in child_cols)}) REFERENCES "
            f"{q}{parent}{q} ({', '.join(q + c + q for c in parent_cols)})"
        )
    return f"CREATE TABLE IF NOT EXISTS {q}{table}{q} (\n  " + ",\n  ".join(cols) + "\n);"


# MySQL cannot index an unbounded TEXT/BLOB column without a prefix
# length; the reference caps those index columns at 128 chars when the
# TARGET dialect is mysql (``/root/reference/dbcut/database.py:196-205``,
# ``_MYSQL_LENGHT_TEXT_INDEX_COLUMN = 128`` at ``database.py:35``).
MYSQL_TEXT_INDEX_LENGTH = 128


def index_name(
    table: str, columns: list[str], unique: bool, exclude: set[str] | None = None
) -> str:
    """Deterministic target-unique index name: ``<table>_<cols>_idx_<i>``
    (``_unique_idx_`` when unique), first counter value not in
    ``exclude`` — the reference's ``generate_valid_index_name``
    (``/root/reference/dbcut/utils.py:155-166``), which renames every
    reflected index so a dump never trips over source-dialect name
    scoping or duplicates on the target."""
    import itertools

    stem = f"{table}_{'_'.join(columns)}" + ("_unique_idx" if unique else "_idx")
    for i in itertools.count(start=1):
        candidate = f"{stem}_{i}"
        if candidate not in (exclude or set()):
            return candidate


def create_index_sql(
    table: str,
    columns: list[str],
    df: DataFrame,
    dialect: str = "sqlite",
    unique: bool = False,
    exclude: set[str] | None = None,
    name: str | None = None,
) -> str:
    """CREATE INDEX with the portability mutations applied: renamed via
    :func:`index_name` (or the caller-assigned ``name``), and on mysql
    targets TEXT columns get the ``(128)`` prefix cap (an unbounded TEXT
    index is a hard error on MySQL — the dump would fail to load)."""
    q = DIALECTS[dialect]["quote"]
    name = name or index_name(table, columns, unique, exclude)
    text_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    }
    rendered = []
    for c in columns:
        if dialect == "mysql" and c in text_cols:
            rendered.append(f"{q}{c}{q}({MYSQL_TEXT_INDEX_LENGTH})")
        else:
            rendered.append(f"{q}{c}{q}")
    uq = "UNIQUE " if unique else ""
    return (
        f"CREATE {uq}INDEX {q}{name}{q} ON {q}{table}{q} "
        f"({', '.join(rendered)});"
    )


def _insert_stmt(table: str, columns: list[str], row, dialect: str) -> str:
    d = DIALECTS[dialect]
    q = d["quote"]
    cols = ", ".join(q + c + q for c in columns)
    vals = ", ".join(render_value(v, dialect) for v in row)
    return f"{d['insert']} {q}{table}{q} ({cols}) VALUES ({vals}){d['suffix']};"


def topo_frames(catalog, frames: dict) -> dict:
    """Reorder extraction frames parents-before-children — the INSERT
    order an FK-enforcing target needs. Dump statements previously
    flowed in closure/BFS order (root first), so a child table's
    INSERTs could precede the parent rows they reference: silently
    skipped rows under MySQL's INSERT IGNORE, an aborted transaction
    on sqlite/PG (round-10 review; catalog.topo_order already serves
    every LOAD path for the same reason). Tables unknown to the
    catalog keep their original relative order at the end."""
    from dbcut_spark.catalog import topo_order

    ordered = [t for t in topo_order(catalog) if t in frames]
    known = set(ordered)
    tail = [t for t in frames if t not in known]
    return {t: frames[t] for t in [*ordered, *tail]}


def dump_sql(
    tables: dict[str, DataFrame],
    pks: dict[str, list[str]],
    dialect: str = "sqlite",
    include_ddl: bool = True,
    indexes: dict[str, list[tuple[list[str], bool]]] | None = None,
    defaults: dict[str, dict[str, object]] | None = None,
) -> Iterator[str]:
    """Yield the dump statement-by-statement (reference output shape:
    BEGIN → DDL → INSERT... → COMMIT), tables in the given order.
    ``indexes`` maps table → ``[(columns, unique)]``; index names are
    regenerated target-unique across the whole dump (reference
    ``database.py:188-195``); ``defaults`` maps table → {column: server
    default} (see :func:`create_table_sql`).

    Every table's rows are collected at once, one job each, from driver
    threads; statements still come out table by table, and a table's
    rows are dropped once rendered. Driver memory therefore holds up
    to the whole dumped cut: this is the path for human-sized dumps,
    :func:`dump_sql_distributed` the one for dumps of any size.
    Closing the iterator early waits for the collects in flight and
    starts no more."""
    yield "BEGIN;"
    seen_index_names: set[str] = set()
    fetched = per_table(tables, lambda _t, df: _fetched(df).collect())
    with closing(fetched):
        for (table, df), rows in zip(tables.items(), fetched):
            if include_ddl:
                yield create_table_sql(
                    table,
                    df,
                    pks.get(table, []),
                    dialect,
                    defaults=(defaults or {}).get(table),
                )
                for cols, unique in (indexes or {}).get(table, []):
                    name = index_name(table, cols, unique, seen_index_names)
                    seen_index_names.add(name)
                    yield create_index_sql(
                        table, cols, df, dialect, unique, name=name
                    )
            columns = df.columns
            for row in rows:
                yield _insert_stmt(table, columns, row, dialect)
            del rows
    yield "COMMIT;"


def _fetched(df: DataFrame) -> DataFrame:
    """The projection :func:`dump_sql` collects. A collected
    ``TimestampType`` value is converted to the driver process's local
    time zone, so timestamp columns are fetched cast to
    ``timestamp_ntz``: the wall clock in the session time zone, the one
    the distributed dump and the JSON export render. The DDL keeps the
    frame's own types."""
    fields = df.schema.fields
    if not any(isinstance(f.dataType, T.TimestampType) for f in fields):
        return df

    def fetch(f: T.StructField):
        c = F.col("`" + f.name.replace("`", "``") + "`")
        if isinstance(f.dataType, T.TimestampType):
            return c.cast("timestamp_ntz").alias(f.name)
        return c

    return df.select([fetch(f) for f in fields])


def dump_sql_distributed(
    df: DataFrame, table: str, path: str, dialect: str = "sqlite"
) -> None:
    """Render INSERT statements executor-side and write text shards —
    the scale path: no driver funnel, one output file per partition."""
    columns = df.columns
    d = dialect
    from pyspark.sql import types as _T

    int_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(
            f.dataType, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)
        )
    ]

    # integer columns travel as exact decimal STRINGS: Arrow→pandas
    # widens nullable int columns to float64, which silently corrupts
    # BIGINTs above 2^53 (e.g. 2^53+1 → ...992.0) — Spark's cast to
    # string renders the exact digits, and _RawNum re-marks them as
    # unquoted numeric tokens for the renderer
    from pyspark.sql import functions as _F

    for c in int_cols:
        df = df.withColumn(c, _F.col(c).cast("string"))

    def render_partition(rows):
        import pandas as pd

        for pdf in rows:
            # NaN→None for the remaining (float/string/ts) columns
            pdf = pdf.astype(object).where(pd.notnull(pdf), None)
            for c in int_cols:
                pdf[c] = [None if v is None else _RawNum(v) for v in pdf[c]]
            stmts = [
                _insert_stmt(table, columns, tuple(rec), d)
                for rec in pdf.itertuples(index=False, name=None)
            ]
            yield pd.DataFrame({"stmt": stmts})

    from pyspark.sql import types as T2

    out = df.mapInPandas(render_partition, T2.StructType([T2.StructField("stmt", T2.StringType())]))
    out.write.mode("overwrite").text(path)
