"""Content-addressed result cache (reference D4/K7/S6).

The reference keys a pickled object-list cache by SHA-1 over the
canonically-sorted JSON of {engine URL, table info, query dict}
(``/root/reference/dbcut/query.py:61-118``, canonicalizer
``/root/reference/dbcut/utils.py:195-212``) with a ``.count`` JSON
sidecar, and loads it instead of touching the source DB
(``/root/reference/dbcut/query.py:125-131``).

Here: the same SHA-1 keying over {source identity, catalog table info,
normalized query dict}; the payload is one parquet directory per closure
table plus a ``meta.json`` sidecar. Parquet keeps the cache readable by
any engine and the load path fully parallel.

``meta.json`` is ``{"counts": {table: rows}, "schemas": {table:
StructType.jsonValue()}}``, written last (atomic tmp+replace) as the entry's
commit point. A save writes every table at once from driver threads
(``sinks.insert_ignore.per_table``) and commits ``meta.json`` only
after every write has finished, and only if all of them succeeded;
otherwise the first error is re-raised and the entry does not exist.
The counts ride the write jobs as ``observe`` metrics
(``sinks.insert_ignore._observed_write``), so a save runs exactly the
write jobs. The schemas are the written frames' schemas, so a load
passes them to ``spark.read.schema`` and runs no job (a schema-less
parquet read infers, one Spark job per table); a file source reads a
supplied schema as all-nullable, as a parquet write stores it. An
entry without ``schemas`` does not exist: the next save recomputes and
overwrites it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dbcut_spark.config import QuerySpec
from dbcut_spark.sinks.insert_ignore import _observed_write, per_table


def sorted_nested(value: Any) -> Any:
    """Canonicalize nested structures for stable hashing (mirrors the
    reference's ``sorted_nested_dict`` semantics)."""
    if isinstance(value, dict):
        return {k: sorted_nested(value[k]) for k in sorted(value)}
    if isinstance(value, (list, tuple)):
        return [sorted_nested(v) for v in value]
    return value


def cache_key(source_id: str, spec: QuerySpec, table_info: dict | None = None) -> str:
    payload = {
        "source": source_id,
        "query": sorted_nested(spec.cache_dict()),
        "tables": sorted_nested(table_info or {}),
    }
    blob = json.dumps(payload, sort_keys=True, default=str).encode()
    return hashlib.sha1(blob).hexdigest()


class ResultCache:
    def __init__(self, cache_dir: str):
        self.cache_dir = os.path.expanduser(cache_dir)

    def _dir(self, key: str) -> str:
        return os.path.join(self.cache_dir, key)

    def _meta(self, key: str) -> dict:
        with open(os.path.join(self._dir(key), "meta.json")) as f:
            return json.load(f)

    def exists(self, key: str) -> bool:
        try:
            return "schemas" in self._meta(key)
        except FileNotFoundError:
            return False

    def save(self, key: str, frames: dict[str, DataFrame]) -> dict[str, int]:
        d = self._dir(key)
        os.makedirs(d, exist_ok=True)

        def write(table: str, df: DataFrame) -> int:
            path = os.path.join(d, f"{table}.parquet")
            return _observed_write(
                df, lambda o: o.write.mode("overwrite").parquet(path)
            )

        # complete only once every write finished; a failed write
        # re-raises here, before meta.json
        counts = dict(zip(frames, per_table(frames, write)))
        schemas = {table: df.schema.jsonValue() for table, df in frames.items()}
        # atomic tmp+replace: meta.json is the entry's commit point —
        # exists() keys off it, so a torn write would make every later
        # run see exists()==True and crash in counts() forever, with
        # only a manual purge as the way out (round-10 review; same
        # pattern as record.py's manifest)
        mpath = os.path.join(d, "meta.json")
        tmp = f"{mpath}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(
                {"counts": counts, "schemas": schemas}, f, indent=1, sort_keys=True
            )
        os.replace(tmp, mpath)
        return counts

    def load(self, spark: SparkSession, key: str) -> dict[str, DataFrame]:
        d = self._dir(key)
        return {
            table: spark.read.schema(StructType.fromJson(schema)).parquet(
                os.path.join(d, f"{table}.parquet")
            )
            for table, schema in self._meta(key)["schemas"].items()
        }

    def counts(self, key: str) -> dict[str, int]:
        return self._meta(key)["counts"]

    def purge(self, key: str | None = None) -> None:
        """Remove one entry, or every RESULT entry. The all-entries
        form must not rmtree the whole cache_dir: the catalog
        reflection cache (catalog_cache.py) lives under the same root
        in ``catalog/`` and belongs to a different layer — purging
        results used to wipe it too, silently re-paying reflection on
        the next run (round-8 review fix). Result entries are the
        40-hex-dir children; anything else is left alone."""
        if key is not None:
            target = self._dir(key)
            if os.path.exists(target):
                shutil.rmtree(target)
            return
        if not os.path.isdir(self.cache_dir):
            return
        for e in os.scandir(self.cache_dir):
            if e.is_dir() and len(e.name) == 40 and all(
                c in "0123456789abcdef" for c in e.name
            ):
                shutil.rmtree(e.path)
