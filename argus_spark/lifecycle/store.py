"""ParquetStateStore — transactional multi-table sink with snapshot
manifests (SURVEY §2.A A11: atomic data+checkpoint commit).

The reference commits every reducer's rows AND its checkpoint in one
Postgres/Mongo transaction (EfBlockUnitOfWork.cs:94-121). Plain parquet
has no transactions, so the store provides Delta-style snapshot
isolation itself:

  * every epoch writes fresh immutable parquet file-groups per table
  * one JSON **manifest** lists, per table, the live file-groups (with
    their slot ranges) plus every reducer's checkpoint window
  * publishing = write-temp + atomic ``os.rename`` of the manifest —
    a crash leaves the previous manifest intact; data files not yet
    referenced are invisible garbage (A18 fail-fast: the whole open
    batch vanishes)

Retraction (A12 = B6/B7) exploits slot locality: rollback deletes
``slot >= X``, and X is always near the tip, so file-groups entirely
above X are dropped from the manifest (O(1)), groups straddling X are
rewritten filtered (copy-on-write), and the bulk of the table — groups
below X — is untouched. Retraction cost scales with reorg depth, not
table size: the property that survives at 100 TB. In-place updates are
re-architected as appends (spend marks live in their own slot-keyed
table) so this holds for every mutation.

At deployment scale the same contract maps 1:1 onto Delta/Iceberg
(transactional snapshot + MERGE/DELETE); this store keeps v1 dependency-
free while preserving identical crash semantics.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession

from argus_spark.lifecycle.state import Point

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"


@dataclass
class FileGroup:
    path: str
    min_slot: int
    max_slot: int
    rows: int

    def as_dict(self) -> dict:
        return {
            "path": self.path,
            "min_slot": self.min_slot,
            "max_slot": self.max_slot,
            "rows": self.rows,
        }

    @staticmethod
    def from_dict(d: dict) -> "FileGroup":
        # manifests written by older versions may carry "bucketed": true
        # on a group; it is ignored and the group reads whole
        return FileGroup(d["path"], d["min_slot"], d["max_slot"], d["rows"])


@dataclass
class ReducerStateRow:
    name: str
    created_at: float
    start_point: dict | None
    latest_points: list[dict] = field(default_factory=list)
    # exact committed floor (slot of the last applied block). The rolling
    # window serves provider intersection negotiation; resume_slot is the
    # engine's own precise replay cursor — it survives rollbacks deeper
    # than the window (where the reference must hard-error,
    # N2CProvider.cs:77-83, our manifest still knows the exact floor).
    resume_slot: int = -1

    def window(self) -> list[Point]:
        return [Point.from_dict(p) for p in self.latest_points]


class ParquetStateStore:
    def __init__(self, root: str) -> None:
        self.root = root
        # table -> StructType, learned from our own writes/reads this
        # process. Passing an explicit schema to spark.read skips the
        # per-epoch parquet footer sampling job in read_table (measured
        # ~0.1s per table per epoch on the lifecycle critical path).
        self._schemas: dict[str, Any] = {}
        # serializes manifest read→assemble→publish across threads of
        # one process (MultiRootDriver runs one driver per root on a
        # shared store; compaction publishes through the same step);
        # the cross-process story stays the advisory SingleInstanceLock
        self._publish_lock = threading.Lock()
        os.makedirs(os.path.join(root, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, DATA_DIR), exist_ok=True)
        # group paths being written by commits that have not published
        # yet: vacuum must never sweep these. Commits write data files
        # BEFORE the manifest rename, so "absent from the current
        # manifest" alone cannot distinguish garbage from another
        # driver's in-flight epoch (MultiRootDriver shares one store).
        self._inflight_lock = threading.Lock()
        self._inflight_groups: set[str] = set()

    # ---------------- manifest plumbing ----------------

    def _manifest_files(self) -> list[str]:
        d = os.path.join(self.root, MANIFEST_DIR)
        return sorted(f for f in os.listdir(d) if f.endswith(".json"))

    def current_manifest(self) -> dict:
        files = self._manifest_files()
        if not files:
            return {"id": 0, "tables": {}, "reducer_states": {}}
        with open(os.path.join(self.root, MANIFEST_DIR, files[-1])) as fh:
            return json.load(fh)

    def _publish(self, manifest: dict) -> None:
        mid = manifest["id"]
        path = os.path.join(self.root, MANIFEST_DIR, f"{mid:012d}.json")
        if os.path.exists(path):
            # a lost-update would silently drop the earlier commit's
            # file-groups; two writers racing one version must fail
            # loudly instead (single-writer is the contract — A19)
            raise RuntimeError(f"manifest {mid} already published (lost update?)")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, path)  # the commit point — atomic on POSIX
        # groups referenced by a published manifest are no longer
        # in-flight (vacuum protects them via the manifest instead).
        # Groups of a FAILED commit stay registered for the process
        # lifetime — a bounded leak, swept by the next process's vacuum.
        with self._inflight_lock:
            self._inflight_groups -= {
                g["path"]
                for groups in manifest["tables"].values()
                for g in groups
            }

    # ---------------- reads ----------------

    def table_groups(
        self,
        name: str,
        min_slot: int | None = None,
        manifest: dict | None = None,
    ) -> list[FileGroup]:
        if manifest is None:
            manifest = self.current_manifest()
        groups = [
            FileGroup.from_dict(g) for g in manifest["tables"].get(name, [])
        ]
        if min_slot is not None:
            groups = [g for g in groups if g.max_slot >= min_slot]
        return groups

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        min_slot: int | None = None,
        manifest: dict | None = None,
    ) -> DataFrame | None:
        """Snapshot read. ``min_slot`` prunes file-groups by their slot
        range before Spark ever lists them (manifest-level partition
        pruning). Keyed tables (see :meth:`commit` ``upserts``) resolve
        merge-on-read: latest version per key wins.

        ``manifest`` pins the read to an explicit snapshot (time-travel
        — the driver reads every epoch against the manifest it started
        on, so another root's publish can't shift committed state
        mid-epoch). Default: the latest published manifest.

        For a KEYED table, group pruning happens after latest-per-key
        resolution (as a row filter), never before: a pruned group
        (max_slot < min_slot) can hold a key's newest ``_v`` while an
        older version survives in a wide-slot-range group — pre-pruning
        would resurrect the stale version as "latest"."""
        if manifest is None:
            manifest = self.current_manifest()
        keys = manifest.get("keyed_tables", {}).get(name)
        groups = self.table_groups(name, None if keys else min_slot, manifest)
        if not groups:
            return None
        paths = [os.path.join(self.root, g.path) for g in groups]
        reader = spark.read
        known = self._schemas.get(name)
        if known is not None:
            # learned from our own writes (keyed groups carry _v there,
            # so it matches the on-disk files either way)
            reader = reader.schema(known)
        df = reader.parquet(*paths)
        if keys:
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            w = Window.partitionBy(*keys).orderBy(F.desc("_v"), F.desc("slot"))
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_v")
            )
            if min_slot is not None:
                df = df.filter(F.col("slot") >= min_slot)
        return df

    def reducer_states(self) -> dict[str, ReducerStateRow]:
        out = {}
        for name, d in self.current_manifest()["reducer_states"].items():
            out[name] = ReducerStateRow(
                name=name,
                created_at=d.get("created_at", 0.0),
                start_point=d.get("start_point"),
                latest_points=d.get("latest_points", []),
                resume_slot=d.get("resume_slot", -1),
            )
        return out

    # ---------------- writes ----------------

    def _write_group(
        self,
        name: str,
        df: DataFrame,
        lo: int,
        hi: int,
        parts: int | None = None,
        shuffle: bool = False,
    ) -> FileGroup | None:
        rel = os.path.join(DATA_DIR, name, f"g-{uuid.uuid4().hex}")
        full = os.path.join(self.root, rel)
        with self._inflight_lock:
            self._inflight_groups.add(rel)
        if parts is not None and parts > 0:
            # Write-width control (driver-sized per epoch, see _flush):
            # ``coalesce`` for small epochs — free, but it PROPAGATES UP
            # a narrow lineage, so a compute-heavy epoch would run its
            # whole explode/join pipeline at the write width (measured
            # 4x knee-throughput collapse). Large epochs therefore use
            # ``repartition`` — one small shuffle decouples lineage
            # parallelism (full) from output width (few files).
            df = df.repartition(parts) if shuffle else df.coalesce(parts)
        df.write.mode("overwrite").parquet(full)
        self._schemas[name] = df.schema
        rows = pads.dataset(full, format="parquet").count_rows()
        if rows == 0:
            shutil.rmtree(full, ignore_errors=True)
            with self._inflight_lock:
                self._inflight_groups.discard(rel)
            return None
        return FileGroup(path=rel, min_slot=lo, max_slot=hi, rows=rows)

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
        """One atomic transaction: optional slot-range retraction,
        appends + keyed upserts for any number of tables, and
        checkpoint upserts.

        ``appends[table] = (df, min_slot, max_slot)`` — the epoch's slot
        range is known to the driver, so no extra jobs to discover it.
        Appends are written first, outside ``_publish_lock`` (file-
        groups stay invisible until the manifest rename, so another
        root may publish meanwhile). Then, under the lock: read the
        current manifest, retract, write upserts, call ``states``,
        assemble and publish — the rename publishes everything at once.

        ALL of a commit's table writes run concurrently regardless of
        DAG level. Dependents referencing a parent's cached epoch
        output are safe to write concurrently with the parent — Spark's
        block manager takes a per-block write lock in getOrElseUpdate,
        so a cached parent partition is computed exactly once no matter
        how many concurrent jobs demand it (the rest block until it
        lands). The epoch critical path is ~max(single write), not
        Σ(level waves).

        ``retract_from[table] = slot`` deletes ``slot >= slot`` from each
        listed table (A12 reorg retraction, A17 per-reducer rewind
        overrides); unlisted tables are untouched.

        ``upserts[table] = (df, keys, lo, hi)`` — B5 keyed MERGE as
        merge-on-read: the new rows are appended stamped with the commit
        version; :meth:`read_table` resolves latest-per-key. Writes stay
        O(delta) at any table size (the Delta/Iceberg MERGE-on-read
        strategy), :meth:`compact` bounds read amplification, and slot-
        range retraction automatically *resurrects* the previous version
        of a key (the reference's spent-slot un-update, B7) because the
        newer version lives in a newer slot range. Upserts write under
        the lock: their version stamp is the manifest id being
        published.

        ``states`` — optional zero-arg callable returning the checkpoint
        rows, called after the data writes finish but before the
        manifest is assembled. Lets the driver overlap control-plane
        work (the tip-points collect) with the epoch's data writes
        instead of serializing it in front of them.
        """
        appended = self._write_groups_parallel(
            [(n, df, lo, hi) for n, (df, lo, hi) in appends.items()],
            write_parts, write_shuffle,
        )
        with self._publish_lock:
            manifest = self.current_manifest()
            tables: dict[str, list[dict]] = {
                k: list(v) for k, v in manifest["tables"].items()
            }
            keyed: dict[str, list[str]] = dict(manifest.get("keyed_tables", {}))
            if retract_from:
                assert spark is not None, "retraction needs a SparkSession"
                tables = self._retract_groups(spark, tables, retract_from)

            version = manifest["id"] + 1
            upsert_tasks: list[tuple[str, DataFrame, int, int]] = []
            for name, (df, keys, lo, hi) in (upserts or {}).items():
                prev = keyed.get(name)
                if prev is not None and prev != list(keys):
                    raise ValueError(
                        f"upsert keys for {name!r} changed: {prev} -> {list(keys)}"
                    )
                keyed[name] = list(keys)
                from pyspark.sql import functions as F

                upsert_tasks.append(
                    (name, df.withColumn("_v", F.lit(version)), lo, hi)
                )

            for name, group in appended + self._write_groups_parallel(
                upsert_tasks, write_parts, write_shuffle
            ):
                if group is not None:
                    tables.setdefault(name, []).append(group.as_dict())

            new_manifest = self._assemble(
                manifest, tables, keyed, states() if states else None, meta
            )
            self._publish(new_manifest)
        return new_manifest

    def _write_groups_parallel(
        self,
        write_tasks: list[tuple],
        write_parts: int | None,
        write_shuffle: bool = False,
    ) -> list[tuple[str, FileGroup | None]]:
        """ALL tables write concurrently (see commit docstring:
        block-manager write locks make cross-level concurrency safe and
        dedupe any cached parent computation). Nothing is visible until
        the manifest rename."""
        from concurrent.futures import ThreadPoolExecutor

        if len(write_tasks) > 1:
            with ThreadPoolExecutor(max_workers=min(8, len(write_tasks))) as ex:
                return list(
                    ex.map(
                        lambda t: (
                            t[0],
                            self._write_group(
                                *t, parts=write_parts, shuffle=write_shuffle
                            ),
                        ),
                        write_tasks,
                    )
                )
        return [
            (t[0], self._write_group(*t, parts=write_parts, shuffle=write_shuffle))
            for t in write_tasks
        ]

    def _assemble(
        self,
        manifest: dict,
        tables: dict[str, list[dict]],
        keyed: dict[str, list[str]],
        states: dict[str, ReducerStateRow] | None,
        meta: dict[str, Any] | None,
    ) -> dict:
        new_states = dict(manifest["reducer_states"])
        if states:
            for name, st in states.items():
                new_states[name] = {
                    "created_at": st.created_at,
                    "start_point": st.start_point,
                    "latest_points": st.latest_points,
                    "resume_slot": st.resume_slot,
                }
        return {
            "id": manifest["id"] + 1,
            "ts": time.time(),
            "tables": tables,
            "keyed_tables": keyed,
            "reducer_states": new_states,
            "meta": meta or {},
        }

    def _retract_groups(
        self,
        spark: SparkSession,
        tables: dict[str, list[dict]],
        cuts: dict[str, int],
    ) -> dict[str, list[dict]]:
        """B6 as file-group surgery on each table in ``cuts``: drop
        groups fully ≥ its cut, rewrite straddling groups filtered to
        ``slot < cut``, keep groups fully below untouched. Tables not in
        ``cuts`` are untouched — per-root processors share a store but
        roll back independently (the reference's one-chain-connection-
        per-root shape), and per-reducer rewind overrides
        (CardanoIndexWorker.cs:181-202) give each table its own cut."""
        out: dict[str, list[dict]] = {}
        for name, groups in tables.items():
            if name not in cuts:
                out[name] = list(groups)
                continue
            cut = cuts[name]
            kept: list[dict] = []
            for gd in groups:
                g = FileGroup.from_dict(gd)
                if g.min_slot >= cut:
                    continue  # fully rolled back — drop
                if g.max_slot < cut:
                    kept.append(gd)  # fully retained — untouched
                    continue
                # straddles the fork — copy-on-write rewrite
                df = spark.read.parquet(os.path.join(self.root, g.path)).filter(
                    f"slot < {cut}"
                )
                ng = self._write_group(name, df, g.min_slot, cut - 1)
                if ng is not None:
                    kept.append(ng.as_dict())
            out[name] = kept
        return out

    def compact(
        self, spark: SparkSession, name: str, upto_slot: int | None = None
    ) -> dict:
        """Bound read amplification (keyed tables) and group fan-out
        (append tables) by merging file-groups. Publishes a new
        manifest; old groups become vacuum-able garbage.

        ``upto_slot=None`` — full compaction: rewrite the whole table as
        one *resolved* group (latest-per-key for keyed tables).

        ``upto_slot=X`` — frozen-zone compaction, the form the driver
        schedules: merge only groups wholly at or below ``X`` (the
        rollback horizon, tip − max_rollback_slots) into one group by
        RAW file concatenation — per-row ``_v`` stamps are preserved, so
        merge-on-read semantics are untouched, and groups above the
        horizon keep their boundaries, so retraction cost stays
        O(reorg depth). At 100 TB this runs per slot-range partition,
        not whole-table."""
        from pyspark.sql import functions as F

        # the whole read→write→publish runs under the publish lock: the
        # merged group replaces groups chosen from THIS manifest, so a
        # concurrent commit must not publish between the read and the
        # rename
        with self._publish_lock:
            manifest = self.current_manifest()
            version = manifest["id"] + 1
            groups = self.table_groups(name, manifest=manifest)
            if upto_slot is not None:
                frozen = [g for g in groups if g.max_slot <= upto_slot]
                live = [g for g in groups if g.max_slot > upto_slot]
                if len(frozen) < 2:
                    return manifest
                raw = spark.read.parquet(
                    *[os.path.join(self.root, g.path) for g in frozen]
                )
                lo = min(g.min_slot for g in frozen)
                hi = max(g.max_slot for g in frozen)
                group = self._write_group(name, raw, lo, hi)
                merged = ([group.as_dict()] if group else []) + [
                    g.as_dict() for g in live
                ]
            else:
                if not groups:
                    return manifest
                resolved = self.read_table(spark, name, manifest=manifest)
                keys = manifest.get("keyed_tables", {}).get(name)
                if keys:
                    resolved = resolved.withColumn("_v", F.lit(version))
                lo = min(g.min_slot for g in groups)
                hi = max(g.max_slot for g in groups)
                group = self._write_group(name, resolved, lo, hi)
                merged = [group.as_dict()] if group else []
            tables = {k: list(v) for k, v in manifest["tables"].items()}
            tables[name] = merged
            new_manifest = self._assemble(
                manifest, tables, dict(manifest.get("keyed_tables", {})), None,
                {"compacted": name, "upto_slot": upto_slot},
            )
            self._publish(new_manifest)
        return new_manifest

    def fsck(self, spark: SparkSession | None = None) -> dict:
        """Offline integrity audit of committed state — the operational
        complement to ``compact``/``vacuum`` (what a table-format
        maintenance suite ships as its consistency checker):

          * every manifest-referenced file-group directory exists and
            contains data files (a missing group means reads will fail
            — the invariant vacuum's in-flight guard protects);
          * group metadata is coherent (min_slot ≤ max_slot, rows ≥ 0);
          * checkpoint invariants per reducer: window slots strictly
            descending and distinct (A13's normal form), resume cursor
            at or past the newest window point;
          * orphan group directories (on disk, referenced by neither
            the manifest nor an in-flight commit) are REPORTED, not
            errors — they are vacuum candidates (failed/superseded
            commits), never read.

        With ``spark``, additionally DEEP-verifies every referenced
        group: recorded row count matches an actual count and every
        ``slot`` lies inside the recorded [min_slot, max_slot] (one
        small agg job per group — an offline audit pass, not a hot-path
        cost). Returns ``{"ok", "errors", "orphans", "groups_checked"}``;
        ``ok`` is False only on real errors."""
        errors: list[str] = []
        manifest = self.current_manifest()
        checked = 0
        for table, groups in manifest["tables"].items():
            for gd in groups:
                g = FileGroup.from_dict(gd)
                checked += 1
                full = os.path.join(self.root, g.path)
                if not os.path.isdir(full):
                    errors.append(f"{table}: missing group dir {g.path}")
                    continue
                if not any(
                    f.endswith(".parquet") or f.startswith("part-")
                    for f in os.listdir(full)
                ):
                    errors.append(f"{table}: group {g.path} has no data files")
                    continue
                if g.min_slot > g.max_slot or g.rows < 0:
                    errors.append(
                        f"{table}: incoherent metadata in {g.path} "
                        f"(slots [{g.min_slot},{g.max_slot}], rows {g.rows})"
                    )
                    continue
                if spark is not None:
                    from pyspark.sql import functions as F

                    stat = (
                        spark.read.parquet(full)
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.min("slot").alias("lo"),
                            F.max("slot").alias("hi"),
                        )
                        .first()
                    )
                    if stat["n"] != g.rows:
                        errors.append(
                            f"{table}: {g.path} rows {stat['n']} != "
                            f"recorded {g.rows}"
                        )
                    elif stat["n"] > 0 and (
                        stat["lo"] < g.min_slot or stat["hi"] > g.max_slot
                    ):
                        errors.append(
                            f"{table}: {g.path} slots [{stat['lo']},{stat['hi']}]"
                            f" outside recorded [{g.min_slot},{g.max_slot}]"
                        )
        for name, st in self.reducer_states().items():
            slots = [p.slot for p in st.window()]
            if any(a <= b for a, b in zip(slots, slots[1:])):
                errors.append(f"state {name}: window not strictly descending")
            if slots and st.resume_slot < slots[0]:
                errors.append(
                    f"state {name}: resume {st.resume_slot} behind newest "
                    f"window point {slots[0]}"
                )
        live = {
            g["path"] for groups in manifest["tables"].values() for g in groups
        }
        with self._inflight_lock:
            live |= self._inflight_groups
        orphans: list[str] = []
        data_root = os.path.join(self.root, DATA_DIR)
        if os.path.isdir(data_root):
            for table in os.listdir(data_root):
                tdir = os.path.join(data_root, table)
                if not os.path.isdir(tdir):
                    # A stray plain file under data/ is an integrity
                    # FINDING, not a crash (fsck must degrade to a
                    # report on any filesystem state it meets).
                    errors.append(
                        f"non-directory entry in data root: {os.path.join(DATA_DIR, table)}"
                    )
                    continue
                for group in os.listdir(tdir):
                    rel = os.path.join(DATA_DIR, table, group)
                    if rel not in live:
                        orphans.append(rel)
        return {
            "ok": not errors,
            "errors": errors,
            "orphans": sorted(orphans),
            "groups_checked": checked,
        }

    def vacuum(self) -> int:
        """Remove data file-groups that are neither referenced by the
        current manifest nor being written by an in-flight commit
        (commits write file-groups BEFORE publishing, so manifest
        absence alone doesn't mean garbage — with concurrent per-root
        drivers sharing one store, sweeping those would delete another
        driver's just-staged epoch and its subsequent publish would
        reference missing paths). Returns count removed."""
        live = {
            g["path"]
            for groups in self.current_manifest()["tables"].values()
            for g in groups
        }
        with self._inflight_lock:
            live |= self._inflight_groups
        removed = 0
        data_root = os.path.join(self.root, DATA_DIR)
        for table in os.listdir(data_root):
            tdir = os.path.join(data_root, table)
            if not os.path.isdir(tdir):
                continue  # stray plain file: fsck reports it, vacuum skips it
            for group in os.listdir(tdir):
                rel = os.path.join(DATA_DIR, table, group)
                if rel not in live:
                    shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
                    removed += 1
        return removed
