"""Pluggable table-catalog seam — the Iceberg integration boundary.

The north rule stores transcripts, violations, checkpoints and metrics in
Iceberg tables. This sandbox has no iceberg-spark-runtime jars and no
network to fetch them (re-verified round 3: no jar anywhere on disk, DNS
to Maven Central fails), so every storage operation the engine needs goes
through one small ``TableCatalog`` interface with two implementations:

* :class:`SnapshotParquetCatalog` — the local backend: Iceberg's STORAGE
  MODEL rebuilt on parquet + JSON manifests. A commit publishes a
  complete manifest with one atomic create-if-absent (``os.link``), the
  commit Iceberg's Hadoop tables use; footer-stats manifests,
  metadata-only retention deletes, snapshot isolation / time travel,
  snapshot expiry with data-unit GC.
* :class:`IcebergCatalog` — the real thing: ``MERGE INTO``, ``DELETE
  FROM``, ``CALL <cat>.system.expire_snapshots`` issued via ``spark.sql``
  against a configured catalog. Statement *generation* is deterministic
  and unit-tested here; *execution* is covered by
  ``tests/test_catalog.py::test_iceberg_catalog_execution``, which
  auto-activates the moment an ``iceberg-spark-runtime`` jar appears on
  the pyspark classpath (or via ``ICEBERG_JAR``) and otherwise skips.
  Required session config::

      spark.sql.catalog.local = org.apache.iceberg.spark.SparkCatalog
      spark.sql.catalog.local.type = hadoop
      spark.sql.catalog.local.warehouse = /path/to/warehouse
      spark.sql.extensions =
          org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions

The contract test (`tests/test_catalog.py`) runs the SAME scenario —
checkpoint round-trip, MERGE idempotence, retention delete — against any
``TableCatalog``, so swapping the local backend for Iceberg cannot change
engine semantics, only the physical write path.

Reference analog: the Postgres store + scheduler retention
(`app/models/database.py:22-249`, `app/utils/scheduler.py:51-71`).
"""

from __future__ import annotations

import os
import re
from typing import Optional, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

_MANIFEST_RE = re.compile(r"v(\d+)\.json")
# a writer's unpublished manifest: v<N>.json.<writer uuid>.tmp
_TEMP_MANIFEST_RE = re.compile(r"v\d+\.json\.[0-9a-f]{32}\.tmp")


class TableCatalog:
    """Minimal storage interface the engine relies on. Implementations
    must make ``merge`` idempotent on ``keys`` and ``append`` atomic per
    call — that pair is what checkpoint/resume correctness rests on."""

    def append(self, table: str, df: DataFrame) -> None:
        raise NotImplementedError

    def overwrite(self, table: str, df: DataFrame) -> None:
        raise NotImplementedError

    def read(self, table: str) -> Optional[DataFrame]:
        """DataFrame, or None if the table does not exist yet."""
        raise NotImplementedError

    def merge(self, table: str, updates: DataFrame, keys: Sequence[str]) -> None:
        """Upsert keyed by ``keys``: matching rows replaced, others
        inserted. Re-merging the same batch is a no-op (idempotent)."""
        raise NotImplementedError

    def delete_older_than(self, table: str, ts_col: str, cutoff) -> int:
        """Retention sweep: remove rows with ts_col < cutoff; returns the
        number removed (or -1 when the backend cannot count cheaply)."""
        raise NotImplementedError


class IcebergCatalog(TableCatalog):
    """Iceberg-native implementation. Each operation is one metadata
    transaction — no read-union-rewrite. SQL builders are pure (tested
    without jars); execution goes through ``spark.sql``."""

    def __init__(self, spark: SparkSession, catalog: str = "local",
                 namespace: str = "dce"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace

    def qualified(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # -- SQL builders (pure, deterministic, unit-tested) -----------------

    def merge_sql(self, table: str, source_view: str,
                  keys: Sequence[str], columns: Sequence[str]) -> str:
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        sets = ", ".join(f"t.{c} = s.{c}" for c in columns if c not in keys)
        cols = ", ".join(columns)
        vals = ", ".join(f"s.{c}" for c in columns)
        # every column a key → nothing to update; a bare "UPDATE SET"
        # clause would be a parse error, and insert-if-absent is the
        # correct upsert semantics for a key-presence table
        matched = f"WHEN MATCHED THEN UPDATE SET {sets}\n" if sets else ""
        return (
            f"MERGE INTO {self.qualified(table)} t\n"
            f"USING {source_view} s\n"
            f"ON {on}\n"
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )

    def delete_sql(self, table: str, ts_col: str, cutoff_literal: str) -> str:
        return (
            f"DELETE FROM {self.qualified(table)} "
            f"WHERE {ts_col} < TIMESTAMP '{cutoff_literal}'"
        )

    def expire_snapshots_sql(self, table: str, older_than_literal: str,
                             retain_last: int = 5) -> str:
        return (
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{table}', "
            f"older_than => TIMESTAMP '{older_than_literal}', "
            f"retain_last => {retain_last})"
        )

    # -- execution (requires iceberg-spark-runtime on the classpath) -----

    def append(self, table: str, df: DataFrame) -> None:
        df.writeTo(self.qualified(table)).append()

    def overwrite(self, table: str, df: DataFrame) -> None:
        df.writeTo(self.qualified(table)).createOrReplace()

    def read(self, table: str) -> Optional[DataFrame]:
        """The table, or None when it does not exist (any other failure
        raises)."""
        try:
            return self.spark.table(self.qualified(table))
        except AnalysisException as e:
            if e.getCondition() == "TABLE_OR_VIEW_NOT_FOUND":
                return None
            raise

    def merge(self, table: str, updates: DataFrame, keys: Sequence[str]) -> None:
        view = f"__merge_src_{table.replace('.', '_')}"
        updates.createOrReplaceTempView(view)
        self.spark.sql(self.merge_sql(table, view, keys, updates.columns))

    def delete_older_than(self, table: str, ts_col: str, cutoff) -> int:
        self.spark.sql(
            self.delete_sql(table, ts_col, cutoff.strftime("%Y-%m-%d %H:%M:%S"))
        )
        return -1  # Iceberg DELETE is metadata-only; no cheap removed-count


class SnapshotParquetCatalog(TableCatalog):
    """Transactional parquet catalog: Iceberg's storage model rebuilt
    from scratch on plain parquet + JSON manifests (log-structured
    snapshot pattern — no runtime jars needed).

    Layout per table::

        <root>/<table>/
          data/<uuid>/part-*.parquet   one immutable "unit" per committed write
          snapshots/v<N>.json          manifest: unit list + footer stats + schema

    The current version is the largest ``N`` with a ``v<N>.json``; the
    listing is the version of record, there is no pointer file.

    * **atomic commits** — data lands invisible under ``data/``; the
      complete manifest is written to a writer-private temp file and
      published with ``os.link(tmp, v<N+1>.json)``: an atomic
      create-if-absent, the commit Iceberg's Hadoop tables use. A
      manifest can only appear complete, so a crash at ANY point leaves
      the previous snapshot fully readable (at worst an orphaned data
      unit and temp manifest, both reclaimed by
      :meth:`expire_snapshots`), and of two writers racing from the same
      parent exactly one link succeeds — the other raises
      ``ConcurrentWriteError``. ``root`` must be a local POSIX
      filesystem (hard links, atomic ``link``).
    * **metadata-only retention** — per-unit min/max column stats are
      harvested from the parquet FOOTERS at commit (zero data scan);
      ``delete_older_than`` drops wholly-expired units from the manifest
      without touching data, rewrites only straddling units.
    * **snapshot isolation + time travel** — ``read(table, version=N)``
      reads any retained snapshot; readers of version N are unaffected
      by concurrent commits of N+1.
    * **snapshot expiry** — ``expire_snapshots`` prunes old manifests and
      garbage-collects data units no retained snapshot references. It
      must not run concurrently with a writer (it may GC a unit or temp
      manifest the in-flight commit references).

    Optimistic concurrency: every write reads its parent version and
    commits ``parent + 1``; a writer whose parent is no longer current
    raises ``ConcurrentWriteError`` and nothing it wrote becomes visible.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- snapshot bookkeeping ---------------------------------------------

    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table.replace(".", "/"))

    def _version(self, table: str) -> int:
        """Largest published manifest version; 0 when the table is absent."""
        try:
            names = os.listdir(os.path.join(self._dir(table), "snapshots"))
        except FileNotFoundError:
            return 0
        return max(
            (int(m.group(1)) for m in map(_MANIFEST_RE.fullmatch, names) if m),
            default=0,
        )

    def _snapshot(self, table: str, version: Optional[int] = None) -> Optional[dict]:
        import json

        v = self._version(table) if version is None else version
        if v <= 0:
            return None
        path = os.path.join(self._dir(table), "snapshots", f"v{v}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_unit(self, table: str, df: DataFrame) -> dict:
        """Write one immutable data unit; stats come from parquet footers
        (no extra scan of the data)."""
        import uuid as _uuid

        rel = os.path.join("data", _uuid.uuid4().hex)
        path = os.path.join(self._dir(table), rel)
        df.write.parquet(path)
        rows, stats = _parquet_footer_stats(path)
        return {"path": rel, "rows": rows, "stats": stats}

    def _commit(self, table: str, parent: int, units, op: str,
                schema_json: str) -> None:
        import datetime as _dt
        import json
        import uuid as _uuid

        sdir = os.path.join(self._dir(table), "snapshots")
        os.makedirs(sdir, exist_ok=True)
        # cheap pre-check; the link below is what actually decides
        if self._version(table) != parent:
            raise ConcurrentWriteError(
                f"table {table!r}: version moved past {parent} during commit"
            )
        new_v = parent + 1
        snap = {
            "version": new_v,
            "parent": parent or None,
            "ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "operation": op,
            "schema": schema_json,
            "units": list(units),
        }
        tmp = os.path.join(sdir, f"v{new_v}.json.{_uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            # THE commit: atomic create-if-absent of a complete manifest
            os.link(tmp, os.path.join(sdir, f"v{new_v}.json"))
        except FileExistsError:
            raise ConcurrentWriteError(
                f"table {table!r}: another writer already committed "
                f"version {new_v}"
            ) from None
        finally:
            os.unlink(tmp)

    # -- TableCatalog interface -------------------------------------------

    def append(self, table: str, df: DataFrame) -> None:
        parent = self._version(table)
        prev = self._snapshot(table, parent)
        units = list(prev["units"]) if prev else []
        schema_json = df.schema.json()
        if prev is not None:
            # reads use the MANIFEST schema, so recording the latest
            # write's schema verbatim would silently hide columns present
            # only in earlier units (round-3 advice). Iceberg-style
            # evolution instead: the incoming schema must contain every
            # manifest field at the same type; NEW fields append to the
            # manifest schema (earlier units read them as NULL).
            schema_json = self._evolve_schema(table, prev["schema"], df)
        units.append(self._write_unit(table, df))
        self._commit(table, parent, units, "append", schema_json)

    @staticmethod
    def _evolve_schema(table: str, manifest_schema_json: str, df) -> str:
        import json

        from pyspark.sql import types as T

        old = T.StructType.fromJson(json.loads(manifest_schema_json))
        new_fields = {f.name: f for f in df.schema.fields}
        for f in old.fields:
            got = new_fields.get(f.name)
            if got is None:
                raise SchemaMismatchError(
                    f"table {table!r}: append is missing column "
                    f"{f.name!r} present in the table schema; appends "
                    "must not narrow the schema"
                )
            if got.dataType != f.dataType:
                raise SchemaMismatchError(
                    f"table {table!r}: append changes column {f.name!r} "
                    f"type {f.dataType.simpleString()} -> "
                    f"{got.dataType.simpleString()}"
                )
        evolved = list(old.fields) + [
            f for f in df.schema.fields
            if f.name not in {g.name for g in old.fields}
        ]
        return T.StructType(evolved).json()

    def overwrite(self, table: str, df: DataFrame) -> None:
        parent = self._version(table)
        self._commit(
            table, parent, [self._write_unit(table, df)], "overwrite",
            df.schema.json(),
        )

    def read(self, table: str, version: Optional[int] = None) -> Optional[DataFrame]:
        import json

        from pyspark.sql import types as T

        snap = self._snapshot(table, version)
        if snap is None:
            return None
        paths = [os.path.join(self._dir(table), u["path"]) for u in snap["units"]]
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        if not paths:
            return self.spark.createDataFrame([], schema)
        # read with the MANIFEST's recorded schema (Iceberg semantics):
        # an inferred read would sample footers, so a schema-evolved
        # append (new column in later units) could silently drop the
        # column depending on which footer wins
        return self.spark.read.schema(schema).parquet(*paths)

    def merge(self, table: str, updates: DataFrame, keys: Sequence[str]) -> None:
        parent = self._version(table)
        existing = self.read(table, version=parent)
        if existing is None:
            merged = updates
        else:
            merged = existing.join(
                updates.select(*keys).distinct(), on=list(keys), how="left_anti"
            ).unionByName(updates)
        # single new unit; the old snapshot stays readable until the link
        unit = self._write_unit(table, merged)
        self._commit(table, parent, [unit], "merge", updates.schema.json())

    def delete_older_than(self, table: str, ts_col: str, cutoff) -> int:
        """Metadata-first retention: units whose footer max(ts) < cutoff
        are DROPPED from the manifest (no data read); units with
        min(ts) >= cutoff are kept untouched; only straddling units (or
        ones without footer stats) are rewritten."""
        from pyspark.sql import functions as F

        snap = self._snapshot(table)
        if snap is None:
            return 0
        # manifest stats are stored tz-naive (UTC) — normalize an aware
        # cutoff the same way, or naive-vs-aware comparison raises
        if getattr(cutoff, "tzinfo", None) is not None:
            import datetime as _dt

            cutoff = cutoff.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        parent = snap["version"]
        kept_units, removed = [], 0
        for unit in snap["units"]:
            st = (unit.get("stats") or {}).get(ts_col)
            lo = _parse_stat(st and st.get("min"))
            hi = _parse_stat(st and st.get("max"))
            if hi is not None and hi < cutoff:
                removed += unit["rows"]          # whole unit expired: drop
                continue
            if lo is not None and lo >= cutoff:
                kept_units.append(unit)          # untouched
                continue
            # straddling (or statless): rewrite just this unit
            df = self.spark.read.parquet(
                os.path.join(self._dir(table), unit["path"])
            ).filter(F.col(ts_col) >= F.lit(cutoff))
            new_unit = self._write_unit(table, df)
            removed += unit["rows"] - new_unit["rows"]
            if new_unit["rows"]:
                kept_units.append(new_unit)
        self._commit(table, parent, kept_units, "delete", snap["schema"])
        return removed

    # -- maintenance --------------------------------------------------------

    def expire_snapshots(self, table: str, retain_last: int = 5) -> dict:
        """Prune manifests beyond the newest ``retain_last`` and
        garbage-collect data units no retained snapshot references —
        the vacuum that bounds storage growth from merge/delete rewrites.
        Also removes temp manifests crashed writers left behind.
        Returns {'snapshots': n_removed, 'units': n_removed}."""
        import shutil

        if retain_last < 1:
            # the manifest listing IS the current version: expiring every
            # manifest would silently reset the table to absent
            raise ValueError(f"retain_last must be >= 1, got {retain_last}")
        tdir = self._dir(table)
        current = self._version(table)
        if current == 0:
            return {"snapshots": 0, "units": 0}
        keep_versions = set(range(max(1, current - retain_last + 1), current + 1))
        sdir = os.path.join(tdir, "snapshots")
        removed_snaps = 0
        for name in os.listdir(sdir):
            # only touch files we own — a stray editor backup must not
            # abort the maintenance
            m = _MANIFEST_RE.fullmatch(name)
            if m and int(m.group(1)) not in keep_versions:
                os.remove(os.path.join(sdir, name))
                removed_snaps += 1
            elif _TEMP_MANIFEST_RE.fullmatch(name):
                os.remove(os.path.join(sdir, name))
        referenced = set()
        for v in keep_versions:
            snap = self._snapshot(table, v)
            if snap:
                referenced.update(u["path"] for u in snap["units"])
        ddir = os.path.join(tdir, "data")
        removed_units = 0
        for name in os.listdir(ddir) if os.path.isdir(ddir) else []:
            rel = os.path.join("data", name)
            if rel not in referenced:
                shutil.rmtree(os.path.join(ddir, name), ignore_errors=True)
                removed_units += 1
        return {"snapshots": removed_snaps, "units": removed_units}


class ConcurrentWriteError(RuntimeError):
    """Optimistic-concurrency failure: the table version advanced between
    the read of the parent snapshot and the commit attempt."""


class SchemaMismatchError(ValueError):
    """An append's schema narrows or retypes the table schema (Iceberg
    semantics: appends may ADD columns, never drop or retype them)."""


def _parquet_footer_stats(path: str):
    """(row_count, {col: {'min': iso/val, 'max': iso/val}}) from parquet
    FOOTER metadata only — the manifest-stats harvest, zero data read.
    Columns without usable footer stats are omitted (treated as
    unknown → conservatively rewritten on delete)."""
    import datetime as _dt
    import glob

    import pyarrow.parquet as pq

    rows = 0
    mins: dict = {}
    maxs: dict = {}
    seen_nostat = set()
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaves: not prunable top-level
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    seen_nostat.add(name)
                    continue
                lo, hi = st.min, st.max
                if name not in mins or lo < mins[name]:
                    mins[name] = lo
                if name not in maxs or hi > maxs[name]:
                    maxs[name] = hi

    def enc(v):
        if isinstance(v, (_dt.datetime, _dt.date)):
            return {"t": "ts", "v": v.isoformat()}
        if isinstance(v, (int, float)):
            return {"t": "num", "v": v}
        if isinstance(v, str):
            return {"t": "str", "v": v}
        if isinstance(v, bytes):
            return None
        return None

    stats = {}
    for name in mins:
        if name in seen_nostat:
            continue  # some row group lacked stats: unknown overall
        lo, hi = enc(mins[name]), enc(maxs[name])
        if lo is not None and hi is not None:
            stats[name] = {"min": lo, "max": hi}
    return rows, stats


def _parse_stat(v):
    """Decode a manifest stat value back to a comparable Python object."""
    import datetime as _dt

    if not v:
        return None
    if v["t"] == "ts":
        parsed = _dt.datetime.fromisoformat(v["v"])
        return parsed.replace(tzinfo=None) if parsed.tzinfo else parsed
    return v["v"]


def catalog_checkpoint_store(catalog: TableCatalog, table: str):
    """A :class:`~data_contract_engine_spark.checkpoint.CheckpointStore`
    backed by a catalog: completion rows land via idempotent MERGE keyed
    by (run_id, partition_key, lineage_hash) — re-running a crashed
    partition replaces its row exactly once, on ANY backend."""
    from ..checkpoint import CheckpointStore

    class _CatalogStore(CheckpointStore):
        def __init__(self):
            self.catalog = catalog
            self.table = table
            self.spark = getattr(catalog, "spark", None)

        def _read(self):
            return self.catalog.read(self.table)

        def write_done(self, rows_df: DataFrame) -> None:
            self.catalog.merge(
                self.table, rows_df,
                keys=("run_id", "partition_key", "lineage_hash"),
            )

    return _CatalogStore()
