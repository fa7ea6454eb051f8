"""ParquetStateStore — transactional multi-table sink with snapshot
manifests (SURVEY §2.A A11: atomic data+checkpoint commit).

The reference commits every reducer's rows AND its checkpoint in one
Postgres/Mongo transaction (EfBlockUnitOfWork.cs:94-121). Plain parquet
has no transactions, so the store provides Delta-style snapshot
isolation itself:

  * every epoch writes fresh immutable parquet file-groups per table
  * one JSON **manifest** lists, per table, the live file-groups (with
    their slot ranges) plus every reducer's checkpoint window
  * publishing = write-temp + atomic ``os.link`` of the manifest —
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
table), so every committed table is a slot-keyed append table and this
holds for every mutation. Only appends run Spark jobs: the rewrite
and compaction copy rows in-process (``ParquetStateStore._rewrite``).

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

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from argus_spark.lifecycle.state import Point

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"


def write_width(df: DataFrame, parts: int | None, shuffle: bool) -> DataFrame:
    """Apply the driver's per-epoch write width (see ``IndexDriver._flush``)
    to ``df`` before a store writes it; both stores call this.
    ``coalesce`` is free but PROPAGATES UP a narrow lineage, so a
    compute-heavy epoch would run its whole explode/join pipeline at the
    write width (measured 4x knee-throughput collapse); ``shuffle``
    epochs therefore ``repartition`` — one small shuffle decouples
    lineage parallelism (full) from output width (few files)."""
    if not parts or parts <= 0:
        return df
    return df.repartition(parts) if shuffle else df.coalesce(parts)


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
    created_at: float | None
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


def checkpoint_errors(states: dict[str, ReducerStateRow]) -> list[str]:
    """The checkpoint invariants both stores' ``fsck`` audits, per
    reducer: window slots strictly descending, resume cursor at or past
    the newest window point (A13's normal form)."""
    errors = []
    for name, st in states.items():
        slots = [p.slot for p in st.window()]
        if any(a <= b for a, b in zip(slots, slots[1:])):
            errors.append(f"state {name}: window not strictly descending")
        if slots and st.resume_slot < slots[0]:
            errors.append(
                f"state {name}: resume {st.resume_slot} behind newest "
                f"window point {slots[0]}"
            )
    return errors


def group_paths(manifest: dict) -> set[str]:
    """The paths of every file-group ``manifest`` references."""
    return {g["path"] for groups in manifest["tables"].values() for g in groups}


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
        # BEFORE the manifest publish, so "absent from the current
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
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # the commit point. A hard link is atomic and, unlike a
            # rename, never replaces an existing file: a lost update
            # would silently drop the earlier commit's file-groups, so
            # two writers racing one version must fail loudly instead
            # (single-writer is the contract — A19)
            os.link(tmp, path)
        except FileExistsError:
            raise RuntimeError(
                f"manifest {mid} already published (lost update?)"
            ) from None
        finally:
            os.remove(tmp)
        # groups referenced by a published manifest are no longer
        # in-flight (vacuum protects them via the manifest instead);
        # a commit that fails before this point releases its own
        self._release(group_paths(manifest))

    def _claim(self, name: str, claimed: list[str] | None = None) -> str:
        """A new group path for ``name``, registered in-flight before
        anything is written there (and appended to ``claimed``)."""
        rel = os.path.join(DATA_DIR, name, f"g-{uuid.uuid4().hex}")
        with self._inflight_lock:
            self._inflight_groups.add(rel)
        if claimed is not None:
            claimed.append(rel)
        return rel

    def _release(self, rels) -> None:
        with self._inflight_lock:
            self._inflight_groups.difference_update(rels)

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
        pruning); a group reaching ``min_slot`` is read whole, so rows
        below it may come back.

        ``manifest`` pins the read to an explicit snapshot (time-travel
        — the driver reads every epoch against the manifest it started
        on, so another root's publish can't shift committed state
        mid-epoch). Default: the latest published manifest."""
        groups = self.table_groups(name, min_slot, manifest)
        if not groups:
            return None
        paths = [os.path.join(self.root, g.path) for g in groups]
        reader = spark.read
        known = self._schemas.get(name)
        if known is not None:
            reader = reader.schema(known)  # learned from our own writes
        return reader.parquet(*paths)

    def read_arrow(
        self,
        name: str,
        min_slot: int | None = None,
        manifest: dict | None = None,
    ) -> pa.Table | None:
        """In-process snapshot read for bounded serving reads (see
        ``reducers.examples.current_balances``): the file-groups
        :meth:`read_table` would scan for the same ``min_slot`` and
        ``manifest``, read by ``pyarrow.dataset`` on the calling thread
        as one Arrow table, with no Spark job. Returns None when no
        group is left."""
        groups = self.table_groups(name, min_slot, manifest)
        if not groups:
            return None
        return self._dataset(groups).to_table()

    def _dataset(self, groups: list[FileGroup]) -> pads.Dataset:
        """One dataset over the data files of ``groups``: a file list, not
        the group directories, because pyarrow takes a list of files only
        and the files' schemas may differ in nullability (a rewritten
        group is all nullable); the first file's schema wins. A missing
        group directory raises ``FileNotFoundError``."""
        return pads.dataset(
            [
                f
                for g in groups
                for f in pads.dataset(
                    os.path.join(self.root, g.path), format="parquet"
                ).files
            ],
            format="parquet",
        )

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
        claimed: list[str] | None = None,
    ) -> FileGroup | None:
        """The append path: one Spark write of an epoch's rows."""
        rel = self._claim(name, claimed)
        full = os.path.join(self.root, rel)
        df = write_width(df, parts, shuffle)
        df.write.mode("overwrite").parquet(full)
        self._schemas[name] = df.schema
        rows = pads.dataset(full, format="parquet").count_rows()
        if rows == 0:
            shutil.rmtree(full, ignore_errors=True)
            self._release([rel])
            return None
        return FileGroup(path=rel, min_slot=lo, max_slot=hi, rows=rows)

    def _rewrite(
        self, name: str, groups: list[FileGroup], cut: int | None = None,
        claimed: list[str] | None = None,
    ) -> FileGroup | None:
        """Stream the rows of ``groups`` (``slot < cut`` only, if given)
        into one new group in-process, recording their slot range; None
        when no row is left. Written nullable (a non-null schema turns
        another file's null into 0) and with INT96 timestamps, as Spark
        writes them (INT64 nanos read back as bigint under nanosAsLong)."""
        rel = self._claim(name, claimed)
        full = os.path.join(self.root, rel)
        ds = self._dataset(groups)
        schema = pa.schema([f.with_nullable(True) for f in ds.schema], ds.schema.metadata)
        rows, lo, hi = 0, float("inf"), float("-inf")
        os.makedirs(full)
        with pq.ParquetWriter(
            os.path.join(full, "part-0.parquet"), schema,
            use_deprecated_int96_timestamps=True,
        ) as writer:
            for batch in ds.replace_schema(schema).to_batches(
                filter=None if cut is None else pc.field("slot") < cut
            ):
                if batch.num_rows:
                    writer.write_batch(batch)
                    mm = pc.min_max(batch["slot"])
                    rows += batch.num_rows
                    lo, hi = min(lo, mm["min"].as_py()), max(hi, mm["max"].as_py())
        if not rows:
            shutil.rmtree(full, ignore_errors=True)
            self._release([rel])
            return None
        return FileGroup(path=rel, min_slot=lo, max_slot=hi, rows=rows)

    def commit(
        self,
        appends: dict[str, tuple[DataFrame, int, int]],
        states: Callable[[], dict[str, ReducerStateRow]] | None = None,
        retract_from: dict[str, int] | None = None,
        meta: dict[str, Any] | None = None,
        write_parts: int | None = None,
        write_shuffle: bool = False,
    ) -> dict:
        """One atomic transaction: optional slot-range retraction,
        appends for any number of tables, and the checkpoint rows.

        ``appends[table] = (df, min_slot, max_slot)`` — the epoch's slot
        range is known to the driver, so no extra jobs to discover it.
        Appends are written first, outside ``_publish_lock`` (file-
        groups stay invisible until the manifest is published, so another
        root may publish meanwhile). Then, under the lock: read the
        current manifest, retract, call ``states``, assemble and
        publish — one manifest publishes everything at once.

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
        overrides); unlisted tables are untouched. Only appends start
        Spark jobs: a straddling group is rewritten by ``_rewrite``.

        ``states`` — optional zero-arg callable returning the checkpoint
        rows, called after the data writes finish but before the
        manifest is assembled. Lets the driver overlap control-plane
        work (the tip-points collect) with the epoch's data writes
        instead of serializing it in front of them.

        A commit that raises before its publish releases the groups it
        wrote from the in-flight set, so the next ``vacuum`` sweeps them.
        """
        claimed: list[str] = []
        try:
            appended = self._write_groups_parallel(
                [(n, df, lo, hi) for n, (df, lo, hi) in appends.items()],
                write_parts, write_shuffle, claimed,
            )
            with self._publish_lock:
                manifest = self.current_manifest()
                tables: dict[str, list[dict]] = {
                    k: list(v) for k, v in manifest["tables"].items()
                }
                if retract_from:
                    self._retract_groups(tables, retract_from, claimed)
                for name, group in appended:
                    if group is not None:
                        tables.setdefault(name, []).append(group.as_dict())
                new_manifest = self._assemble(
                    manifest, tables, states() if states else None, meta
                )
                self._publish(new_manifest)
        except BaseException:
            self._release(claimed)
            raise
        return new_manifest

    def _write_groups_parallel(
        self,
        write_tasks: list[tuple],
        write_parts: int | None,
        write_shuffle: bool,
        claimed: list[str],
    ) -> list[tuple[str, FileGroup | None]]:
        """ALL tables write concurrently (see commit docstring:
        block-manager write locks make cross-level concurrency safe and
        dedupe any cached parent computation). Nothing is visible until
        the manifest publish."""
        from concurrent.futures import ThreadPoolExecutor

        def write(t: tuple) -> tuple[str, FileGroup | None]:
            return t[0], self._write_group(*t, write_parts, write_shuffle, claimed)

        if len(write_tasks) <= 1:
            return [write(t) for t in write_tasks]
        with ThreadPoolExecutor(max_workers=min(8, len(write_tasks))) as ex:
            return list(ex.map(write, write_tasks))

    def _assemble(
        self,
        manifest: dict,
        tables: dict[str, list[dict]],
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
            "reducer_states": new_states,
            "meta": meta or {},
        }

    def _retract_groups(
        self,
        tables: dict[str, list[dict]],
        cuts: dict[str, int],
        claimed: list[str],
    ) -> None:
        """B6 as file-group surgery on each table in ``cuts``, in place:
        drop groups fully ≥ its cut, rewrite straddling groups filtered to
        ``slot < cut``, keep groups fully below untouched. Tables not in
        ``cuts`` are untouched — per-root processors share a store but
        roll back independently (the reference's one-chain-connection-
        per-root shape), and per-reducer rewind overrides
        (CardanoIndexWorker.cs:181-202) give each table its own cut."""
        for name in cuts.keys() & tables.keys():
            cut, kept = cuts[name], []
            for gd in tables[name]:
                g = FileGroup.from_dict(gd)
                if g.max_slot < cut:
                    kept.append(gd)  # fully retained — untouched
                elif g.min_slot < cut:
                    # straddles the fork — copy-on-write rewrite, which
                    # records the range of the rows kept, not [min_slot,
                    # cut - 1]: a compacted balance group cut between two
                    # snapshots would otherwise claim a tip no snapshot
                    # sits at (see ReducerContext.table_tip)
                    ng = self._rewrite(name, [g], cut, claimed)
                    if ng is not None:
                        kept.append(ng.as_dict())
                # else fully rolled back — dropped
            tables[name] = kept

    def compact(self, name: str, upto_slot: int) -> dict:
        """Frozen-zone compaction, bounding group fan-out: merge the
        groups of ``name`` wholly at or below ``upto_slot`` (the driver
        passes the rollback horizon, tip − max_rollback_slots) into one
        group by ``_rewrite``, recording the union of their slot ranges,
        and publish a new manifest; the old groups become vacuum-able
        garbage. Groups above the horizon keep their boundaries, so
        retraction cost stays O(reorg depth). At 100 TB this runs per
        slot-range partition, not whole-table."""
        # the whole read→write→publish runs under the publish lock: the
        # merged group replaces groups chosen from THIS manifest, so a
        # concurrent commit must not publish between the read and this
        # publish
        with self._publish_lock:
            manifest = self.current_manifest()
            groups = self.table_groups(name, manifest=manifest)
            frozen = [g for g in groups if g.max_slot <= upto_slot]
            live = [g for g in groups if g.max_slot > upto_slot]
            if len(frozen) < 2:
                return manifest
            claimed: list[str] = []
            try:
                group = self._rewrite(name, frozen, claimed=claimed)
                if group is not None:
                    group.min_slot = min(g.min_slot for g in frozen)
                    group.max_slot = max(g.max_slot for g in frozen)
                tables = {k: list(v) for k, v in manifest["tables"].items()}
                tables[name] = ([group.as_dict()] if group else []) + [
                    g.as_dict() for g in live
                ]
                new_manifest = self._assemble(
                    manifest, tables, None,
                    {"compacted": name, "upto_slot": upto_slot},
                )
                self._publish(new_manifest)
            except BaseException:
                self._release(claimed)
                raise
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
        errors += checkpoint_errors(self.reducer_states())
        with self._inflight_lock:
            orphans, strays = self._unreferenced(manifest)
        # a stray plain file under data/ is an integrity FINDING, not a
        # crash (fsck must degrade to a report on any filesystem state)
        errors += [f"non-directory entry in data root: {p}" for p in strays]
        return {
            "ok": not errors,
            "errors": errors,
            "orphans": sorted(orphans),
            "groups_checked": checked,
        }

    def _unreferenced(self, manifest: dict) -> tuple[list[str], list[str]]:
        """The group directories under ``data/`` that neither ``manifest``
        nor an in-flight commit references, and the non-directory
        entries found where table directories belong. The caller holds
        ``_inflight_lock``."""
        live = group_paths(manifest) | self._inflight_groups
        orphans: list[str] = []
        strays: list[str] = []
        data_root = os.path.join(self.root, DATA_DIR)
        for table in os.listdir(data_root) if os.path.isdir(data_root) else []:
            tdir = os.path.join(data_root, table)
            if not os.path.isdir(tdir):
                strays.append(os.path.join(DATA_DIR, table))
                continue
            for group in os.listdir(tdir):
                rel = os.path.join(DATA_DIR, table, group)
                if rel not in live:
                    orphans.append(rel)
        return orphans, strays

    def vacuum(self) -> int:
        """Remove data file-groups that are neither referenced by the
        current manifest nor being written by an in-flight commit
        (commits write file-groups BEFORE publishing, so manifest
        absence alone doesn't mean garbage — with concurrent per-root
        drivers sharing one store, sweeping those would delete another
        driver's just-staged epoch and its subsequent publish would
        reference missing paths). Returns count removed.

        The in-flight lock is held from the manifest read to the end of
        the sweep: a commit that publishes in between leaves the
        in-flight set only after its manifest is on disk, so its groups
        are in one of the two sets vacuum consults."""
        with self._inflight_lock:
            orphans, _ = self._unreferenced(self.current_manifest())
            for rel in orphans:
                shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
        return len(orphans)
