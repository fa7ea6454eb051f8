"""DuckDBStateStore — the lifecycle sink contract on a real ACID SQL
database (SURVEY §2.A A11; the reference's EntityFramework/Postgres
deployment shape, src/Argus.Sync.EntityFramework/EfBlockUnitOfWork.cs:94-121).

ParquetStateStore proves the engine's snapshot-isolation semantics
dependency-free; this backend proves the *same driver* commits into an
external transactional database unchanged — the portability the
reference ships (Postgres + Mongo backends behind one IBlockUnitOfWork):

  * one SQL transaction per epoch covers every reducer's rows AND every
    reducer's checkpoint row (atomic data+checkpoint, A11) — BEGIN,
    INSERT data, UPSERT ``_reducer_states``, COMMIT; a crash anywhere
    before COMMIT rolls the whole epoch back (A18 fail-fast)
  * rollback = ``DELETE FROM t WHERE slot >= X`` per table, in the same
    transaction as the checkpoint rewind (A12 = B6) — the literal
    EfBlockUnitOfWork retraction
  * keyed upserts append version-stamped rows (``_v``) resolved
    latest-per-key on read, so slot-range retraction *resurrects* the
    prior version (B7) with semantics identical to ParquetStateStore

Data path at scale — symmetric staging in BOTH directions, so no row
ever transits the driver as a Python object:

  * writes: Spark stages each epoch's rows DISTRIBUTED to parquet; the
    transaction ingests them with DuckDB's ``read_parquet`` (the
    COPY-from-staging pattern every warehouse load uses)
  * reads: the database ``COPY``s the resolved committed state (keyed
    tables latest-per-key server-side) to a versioned parquet export,
    and Spark reads it DISTRIBUTED with ``spark.read.parquet`` —
    slot predicates push into the parquet scan (row-group pruning),
    columns prune, and the scan parallelizes across executors. Exports
    are cached per commit version, so N reads of one committed state
    export once. This is the reference's pushdown boundary
    (EfBlockUnitOfWork.cs:124-140) re-expressed for a cluster: in a
    JDBC deployment the same method is ``spark.read.jdbc`` partitioned
    on slot; against a warehouse, its native parquet/object-store
    export. What it is NOT is an ``.arrow() -> pandas`` driver funnel —
    at 100 TB the committed UTxO set cannot fit the driver.

No snapshot reads: a live database has one current state, so the
``manifest=`` argument of :meth:`read_table` / :meth:`table_groups` is
accepted and ignored. The driver commits each epoch synchronously before
building the next, so live state is the state every epoch started on —
the reference's EF per-batch transaction shape.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from argus_spark.lifecycle.store import FileGroup, ReducerStateRow


def _q(name: str) -> str:
    """Quote an identifier (table names come from reducer registrations,
    but defense-in-depth costs one line)."""
    return '"' + name.replace('"', '""') + '"'


class DuckDBStateStore:
    def __init__(self, db_path: str, staging_dir: str | None = None) -> None:
        import duckdb

        self.db_path = db_path
        self.staging_dir = staging_dir or tempfile.mkdtemp(prefix="argus_duck_stage_")
        os.makedirs(self.staging_dir, exist_ok=True)
        self._con = duckdb.connect(db_path)
        # one writer at a time — DuckDB connections are not thread-safe
        # and the single-writer contract (A19) is per-store anyway.
        # REENTRANT: commit() holds it across the transaction and its
        # ``states`` callback reads reducer_states() on the same thread.
        self._lock = threading.RLock()
        # write-staging batches currently being written by a commit's
        # phase 1 (which runs OUTSIDE self._lock so distributed writes
        # overlap): vacuum must never sweep these — with concurrent
        # per-root drivers sharing one store, another driver's vacuum
        # could otherwise delete a just-staged, not-yet-ingested batch.
        self._stage_lock = threading.Lock()
        self._inflight_stages: set[str] = set()
        self._con.execute(
            """CREATE TABLE IF NOT EXISTS _reducer_states(
                 name TEXT PRIMARY KEY, created_at DOUBLE,
                 start_point TEXT, latest_points TEXT,
                 resume_slot BIGINT)"""
        )
        self._con.execute(
            """CREATE TABLE IF NOT EXISTS _catalog(
                 name TEXT PRIMARY KEY, keyed TEXT)"""
        )
        self._con.execute(
            """CREATE TABLE IF NOT EXISTS _commits(
                 id BIGINT PRIMARY KEY, ts DOUBLE, meta TEXT)"""
        )

    # ---------------- catalog / manifest facade ----------------

    def _tables(self) -> dict[str, list[str] | None]:
        return {
            r[0]: (json.loads(r[1]) if r[1] else None)
            for r in self._con.execute("SELECT name, keyed FROM _catalog").fetchall()
        }

    def _version(self) -> int:
        v = self._con.execute("SELECT coalesce(max(id), 0) FROM _commits").fetchone()
        return int(v[0])

    def current_manifest(self) -> dict:
        """Manifest facade over live catalog state, so IndexDriver's
        manifest pinning and table tips work unchanged. ``tables`` maps
        each known table to its synthetic single group."""
        with self._lock:
            tables = {
                name: [g.as_dict() for g in self._groups_unlocked(name)]
                for name in self._tables()
            }
            return {
                "id": self._version(),
                "tables": tables,
                "keyed_tables": {
                    n: k for n, k in self._tables().items() if k
                },
                "reducer_states": {
                    name: {
                        "created_at": created_at,
                        "start_point": json.loads(sp) if sp else None,
                        "latest_points": json.loads(lp) if lp else [],
                        "resume_slot": resume,
                    }
                    for name, created_at, sp, lp, resume in self._con.execute(
                        "SELECT * FROM _reducer_states"
                    ).fetchall()
                },
            }

    def _groups_unlocked(self, name: str) -> list[FileGroup]:
        row = self._con.execute(
            f"SELECT min(slot), max(slot), count(*) FROM {_q(name)}"
        ).fetchone()
        if not row or row[2] == 0:
            return []
        return [FileGroup(path=name, min_slot=row[0], max_slot=row[1], rows=row[2])]

    def table_groups(
        self, name: str, min_slot: int | None = None, manifest: dict | None = None
    ) -> list[FileGroup]:
        with self._lock:
            if name not in self._tables():
                return []
            groups = self._groups_unlocked(name)
        if min_slot is not None:
            groups = [g for g in groups if g.max_slot >= min_slot]
        return groups

    def reducer_states(self) -> dict[str, ReducerStateRow]:
        with self._lock:
            return {
                name: ReducerStateRow(
                    name=name,
                    created_at=created_at,
                    start_point=json.loads(sp) if sp else None,
                    latest_points=json.loads(lp) if lp else [],
                    resume_slot=resume,
                )
                for name, created_at, sp, lp, resume in self._con.execute(
                    "SELECT * FROM _reducer_states"
                ).fetchall()
            }

    # ---------------- reads ----------------

    def _export_unlocked(self, name: str, keyed: list[str] | None) -> str | None:
        """COPY the resolved committed state of ``name`` to a versioned
        parquet export (cached per commit version) and return its
        directory, or None when the table is empty. Keyed tables
        resolve latest-per-key server-side before export — the
        database-side work; slicing/pruning happens Spark-side on the
        export. Runs under the store lock (single DuckDB connection)."""
        version = self._version()
        path = os.path.join(self.staging_dir, "_reads", f"{name}-v{version}")
        ok = os.path.join(path, "_argus_export_ok")  # _-prefixed: Spark ignores it
        empty = path + ".empty"
        if os.path.exists(ok):
            return path
        if os.path.exists(empty):
            return None
        if keyed:
            keys = ", ".join(_q(k) for k in keyed)
            sql = (
                f"SELECT * EXCLUDE (_v, _rn) FROM ("
                f"  SELECT *, row_number() OVER ("
                f"    PARTITION BY {keys} ORDER BY _v DESC, slot DESC"
                f"  ) AS _rn FROM {_q(name)}) WHERE _rn = 1"
            )
        else:
            sql = f"SELECT * FROM {_q(name)}"
        n = self._con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if n == 0:
            os.makedirs(os.path.dirname(empty), exist_ok=True)
            open(empty, "w").close()
            return None
        os.makedirs(path, exist_ok=True)
        out = os.path.join(path, "part-0.parquet").replace("'", "''")
        self._con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        open(ok, "w").close()
        # bound export accumulation: reap this table's exports ≥2
        # versions old. Safe because the driver commits synchronously:
        # plans built against older exports were fully evaluated when
        # their epoch's commit returned, so nothing lazy references
        # them anymore.
        reads_dir = os.path.dirname(path)
        for e in os.listdir(reads_dir):
            stem = e[: -len(".empty")] if e.endswith(".empty") else e
            base, sep, vtxt = stem.rpartition("-v")
            if base != name or not sep:
                continue
            try:
                v = int(vtxt)
            except ValueError:
                continue
            if v < version - 1:
                target = os.path.join(reads_dir, e)
                if os.path.isdir(target):
                    shutil.rmtree(target, ignore_errors=True)
                else:
                    os.remove(target)
        return path

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        min_slot: int | None = None,
        manifest: dict | None = None,
    ) -> DataFrame | None:
        """Committed state back into Spark DISTRIBUTED: the database
        exports its resolved state to parquet staging once per commit
        version, Spark scans the export in parallel with the
        ``min_slot`` predicate pushed into the parquet scan. No
        ``.arrow()``/pandas driver funnel on the committed-read path
        (production: ``spark.read.jdbc`` partitioned on slot — the
        reference's pushdown boundary, EfBlockUnitOfWork.cs:124-140)."""
        with self._lock:
            if name not in self._tables():
                return None
            export = self._export_unlocked(name, self._tables().get(name))
        if export is None:
            # ReducerContext.table treats None as "no committed rows"
            return None
        df = spark.read.parquet(export)
        if min_slot is not None:
            df = df.where(f"slot >= {int(min_slot)}")
        return df

    # ---------------- transactional commit (A11) ----------------

    def commit(
        self,
        appends: dict[str, tuple[DataFrame, int, int]],
        states: Callable[[], dict[str, ReducerStateRow]] | None = None,
        retract_from: dict[str, int] | None = None,
        spark: SparkSession | None = None,
        meta: dict[str, Any] | None = None,
        upserts: dict[str, tuple[DataFrame, list[str], int, int]] | None = None,
        write_parts: int | None = None,
        write_shuffle: bool = False,
    ) -> dict:
        """One database transaction: retraction + appends + upserts +
        checkpoint rows, all-or-nothing. Spark stages each table's rows
        as parquet (distributed write), the transaction ingests the
        staged files; a crash before COMMIT leaves only orphaned
        staging files (swept on the next commit)."""
        # Phase 1 — distributed staging writes (outside the db tx),
        # registered in-flight so a concurrent vacuum can't sweep them.
        staged: dict[str, tuple[str, bool, list[str] | None]] = {}
        stage_batch = os.path.join(self.staging_dir, f"e-{uuid.uuid4().hex}")
        with self._stage_lock:
            self._inflight_stages.add(stage_batch)
        try:
            for name, (df, lo, hi) in appends.items():
                path = os.path.join(stage_batch, name)
                d = df.coalesce(write_parts) if write_parts else df
                d.write.mode("overwrite").parquet(path)
                staged[name] = (path, False, None)
            for name, (df, keys, lo, hi) in (upserts or {}).items():
                path = os.path.join(stage_batch, name)
                d = df.coalesce(write_parts) if write_parts else df
                d.write.mode("overwrite").parquet(path)
                staged[name] = (path, True, list(keys))
            return self._ingest_staged(
                staged, stage_batch, retract_from, states, meta
            )
        finally:
            with self._stage_lock:
                self._inflight_stages.discard(stage_batch)

    def _ingest_staged(self, staged, stage_batch, retract_from, states, meta) -> dict:
        with self._lock:
            catalog = self._tables()
            version = self._version() + 1
            self._con.execute("BEGIN")
            try:
                for name, cut in (retract_from or {}).items():
                    if name in catalog:
                        self._con.execute(
                            f"DELETE FROM {_q(name)} WHERE slot >= {int(cut)}"
                        )
                import glob as globmod

                for name, (path, is_upsert, keys) in staged.items():
                    glob = os.path.join(path, "*.parquet")
                    if not globmod.glob(glob):
                        continue  # empty epoch output — nothing staged
                    prev_keys = catalog.get(name)
                    if is_upsert and prev_keys is not None and prev_keys != keys:
                        raise ValueError(
                            f"upsert keys for {name!r} changed: {prev_keys} -> {keys}"
                        )
                    sel = f"SELECT * FROM read_parquet('{glob}')"
                    if is_upsert:
                        sel = (
                            f"SELECT *, {version} AS _v"
                            f" FROM read_parquet('{glob}')"
                        )
                    if name not in catalog:
                        self._con.execute(
                            f"CREATE TABLE {_q(name)} AS {sel}"
                        )
                        self._con.execute(
                            "INSERT INTO _catalog VALUES (?, ?)",
                            [name, json.dumps(keys) if is_upsert else None],
                        )
                        catalog[name] = keys if is_upsert else None
                    else:
                        self._con.execute(f"INSERT INTO {_q(name)} {sel}")
                for name, st in (states() if states else {}).items():
                    self._con.execute(
                        "INSERT OR REPLACE INTO _reducer_states VALUES (?,?,?,?,?)",
                        [
                            name,
                            st.created_at,
                            json.dumps(st.start_point) if st.start_point else None,
                            json.dumps(st.latest_points),
                            st.resume_slot,
                        ],
                    )
                self._con.execute(
                    "INSERT INTO _commits VALUES (?, ?, ?)",
                    [version, time.time(), json.dumps(meta or {})],
                )
                self._con.execute("COMMIT")
            except Exception:
                self._con.execute("ROLLBACK")
                raise
            finally:
                shutil.rmtree(stage_batch, ignore_errors=True)
        return {"id": version, "meta": meta or {}}

    # ---------------- maintenance (db-native no-ops) ----------------

    def compact(self, spark: SparkSession, name: str, upto_slot: int | None = None):
        return self.current_manifest()  # the database maintains its own layout

    def vacuum(self) -> int:
        """Sweep orphaned write-staging batches (crashes before COMMIT)
        and read exports older than the current commit version. Only
        safe when no epoch plans still lazily reference old exports —
        the driver calls this between epochs, after a commit returned.
        In-flight staging batches (registered by a concurrent commit's
        phase 1) are never touched."""
        removed = 0
        with self._stage_lock:
            inflight = set(self._inflight_stages)
        with self._lock:
            version = self._version()
            for d in os.listdir(self.staging_dir):
                p = os.path.join(self.staging_dir, d)
                if d == "_reads":
                    for e in os.listdir(p):
                        stem = e[: -len(".empty")] if e.endswith(".empty") else e
                        try:
                            v = int(stem.rsplit("-v", 1)[1])
                        except (IndexError, ValueError):
                            v = -1
                        if v < version:
                            target = os.path.join(p, e)
                            if os.path.isdir(target):
                                shutil.rmtree(target, ignore_errors=True)
                            else:
                                os.remove(target)
                            removed += 1
                    continue
                if p in inflight:
                    continue
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return removed

    def fsck(self, spark: SparkSession | None = None) -> dict:
        """Integrity audit — the DB-backend twin of
        ``ParquetStateStore.fsck`` (same report shape, same exit-gate
        contract in scripts/example_indexer.py):

          * every cataloged sink table exists as a real database table;
          * checkpoint invariants per reducer: window slots strictly
            descending/distinct, resume cursor at or past the newest
            window point (A13's normal form);
          * commit log non-empty ⇒ version = max id (monotone by PK);
          * staging-dir entries owned by no in-flight commit are
            REPORTED as orphans (vacuum candidates, never read).

        With ``spark``, deep verify reads each table through the
        distributed export path and checks it is scannable (count ≥ 0)
        — a read-path audit, not a hot-path cost."""
        errors: list[str] = []
        checked = 0
        with self._lock:
            real = {
                r[0]
                for r in self._con.execute(
                    "SELECT table_name FROM information_schema.tables"
                ).fetchall()
            }
            for name in self._tables():
                checked += 1
                if name not in real:
                    errors.append(f"cataloged table missing from db: {name}")
        for name, st in self.reducer_states().items():
            slots = [p.slot for p in st.window()]
            if any(a <= b for a, b in zip(slots, slots[1:])):
                errors.append(f"state {name}: window not strictly descending")
            if slots and st.resume_slot < slots[0]:
                errors.append(
                    f"state {name}: resume {st.resume_slot} behind newest "
                    f"window point {slots[0]}"
                )
        with self._stage_lock:
            inflight = set(self._inflight_stages)
        orphans: list[str] = []
        for d in os.listdir(self.staging_dir):
            p = os.path.join(self.staging_dir, d)
            if d == "_reads" or p in inflight:
                continue
            orphans.append(d)
        if spark is not None:
            for name in self._tables():
                df = self.read_table(spark, name)
                if df is not None and df.count() < 0:  # pragma: no cover
                    errors.append(f"{name}: unreadable")
        return {
            "ok": not errors,
            "errors": errors,
            "orphans": sorted(orphans),
            "groups_checked": checked,
        }

    def close(self) -> None:
        self._con.close()
