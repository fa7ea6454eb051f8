"""Unit tests on the pure lifecycle kernels (SURVEY §5.3 pattern:
checkpoint window, rollback mapping, graph validation, store commit
semantics)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from argus_spark.lifecycle.dag import GraphError, Reducer, ReducerRegistry
from argus_spark.lifecycle.state import (
    CheckpointWindowError,
    Point,
    check_rollback_depth,
    normalize_rollback,
    safe_intersection,
    window_roll_back,
    window_roll_forward,
)


def P(slot):
    return Point(slot=slot, hash=f"h{slot}")


class TestCheckpointWindow:
    """Mirrors ReducerStateCheckpointWindow.cs:19-45 semantics."""

    def test_roll_forward_keeps_newest_k(self):
        w = []
        for s in range(1, 15):
            w = window_roll_forward(w, P(s), k=10)
        assert [p.slot for p in w] == list(range(14, 4, -1))

    def test_roll_forward_drops_stale_ge_new(self):
        w = [P(5), P(4), P(3)]
        w = window_roll_forward(w, P(4), k=10)
        assert [p.slot for p in w] == [4, 3]

    def test_distinct_by_slot(self):
        w = window_roll_forward([P(3), P(2)], P(5), k=10)
        w2 = window_roll_forward(w, P(6), k=10)
        assert len({p.slot for p in w2}) == len(w2)

    def test_rollback_drops_ge_slot(self):
        w = [P(s) for s in range(10, 0, -1)]
        assert [p.slot for p in window_roll_back(w, 6)] == [5, 4, 3, 2, 1]

    def test_rollback_to_origin_empties(self):
        w = [P(s) for s in range(5, 0, -1)]
        assert window_roll_back(w, 0) == []


class TestRollbackMapping:
    """ChainSyncRollbackMappingTest.cs:7-26 equivalents, incl. the
    origin-point regression (origin = inclusive at 0 → delete all)."""

    def test_exclusive_keeps_point(self):
        assert normalize_rollback(100, "exclusive") == 101

    def test_inclusive_deletes_point(self):
        assert normalize_rollback(100, "inclusive") == 100

    def test_origin_inclusive_zero_deletes_all(self):
        assert normalize_rollback(0, "inclusive") == 0

    def test_unknown_type_rejected(self):
        with pytest.raises(ValueError):
            normalize_rollback(5, "sideways")

    def test_depth_guard(self):
        check_rollback_depth(10_500, 600, max_rollback_slots=10_000)
        with pytest.raises(CheckpointWindowError):
            check_rollback_depth(10_601, 600, max_rollback_slots=10_000)


class TestSafeIntersection:
    def test_min_across_members(self):
        w = {"a": [P(90), P(80)], "b": [P(70), P(60)]}
        assert safe_intersection(w).slot == 70

    def test_missing_member_means_origin(self):
        assert safe_intersection({"a": [P(90)], "b": []}) is None


def _noop(ctx):
    return {}


class TestGraph:
    def test_duplicate_name_rejected(self):
        reg = ReducerRegistry().register(Reducer("a", _noop))
        with pytest.raises(GraphError):
            reg.register(Reducer("a", _noop))

    def test_missing_parent_rejected(self):
        reg = ReducerRegistry().register(Reducer("b", _noop, depends_on="ghost"))
        with pytest.raises(GraphError):
            reg.validate()

    def test_cycle_rejected(self):
        reg = ReducerRegistry()
        reg.register(Reducer("a", _noop, depends_on="b"))
        reg.register(Reducer("b", _noop, depends_on="a"))
        with pytest.raises(GraphError):
            reg.validate()

    def test_topo_parents_first(self):
        reg = ReducerRegistry()
        reg.register(Reducer("child", _noop, depends_on="root"))
        reg.register(Reducer("root", _noop))
        reg.register(Reducer("grand", _noop, depends_on="child"))
        assert [r.name for r in reg.topo_order()] == ["root", "child", "grand"]

    def test_allowlist_closure(self):
        reg = ReducerRegistry()
        reg.register(Reducer("root", _noop))
        reg.register(Reducer("child", _noop, depends_on="root"))
        with pytest.raises(GraphError):
            reg.with_allowlist(["child"])  # parent not active
        assert len(reg.with_allowlist(["root"])) == 1


class TestStoreHygiene:
    """Vacuum vs in-flight commits, table tips vs empty epoch outputs,
    compaction vs concurrent commits, and legacy manifests."""

    def test_vacuum_spares_unpublished_inflight_groups(self, spark, tmp_path):
        """Commits write file-groups BEFORE publishing; a concurrent
        driver's vacuum must not sweep them (manifest absence alone is
        not garbage). Once published, the manifest protects them; a
        fresh store instance agrees."""
        from argus_spark.lifecycle.store import ParquetStateStore

        store = ParquetStateStore(str(tmp_path / "s"))
        df = spark.range(5).selectExpr("id AS slot")
        g = store._write_group("t", df, 0, 4)
        assert g is not None
        assert store.vacuum() == 0  # in-flight, not yet in any manifest
        assert os.path.exists(os.path.join(store.root, g.path))
        m = store.current_manifest()
        store._publish(store._assemble(m, {"t": [g.as_dict()]}, None, {}))
        assert store.vacuum() == 0  # now manifest-protected
        assert ParquetStateStore(store.root).vacuum() == 0
        assert os.path.exists(os.path.join(store.root, g.path))

    def test_publish_never_overwrites_a_racing_manifest(self, tmp_path, monkeypatch):
        """Two writers publishing one manifest id: the one that lands
        second must fail loudly, even when the other lands between its
        existence check and its publish, and leave the first intact."""
        import json

        from argus_spark.lifecycle import store as store_mod

        store = store_mod.ParquetStateStore(str(tmp_path / "s"))
        path = os.path.join(store.root, store_mod.MANIFEST_DIR, f"{1:012d}.json")
        theirs = {"id": 1, "tables": {}, "reducer_states": {}, "meta": {"w": "a"}}
        with open(path, "w") as fh:
            json.dump(theirs, fh)
        # the other writer lands just after any existence check
        monkeypatch.setattr(store_mod.os.path, "exists", lambda p: False)
        ours = dict(theirs, meta={"w": "b"})
        with pytest.raises(RuntimeError, match="already published"):
            store._publish(ours)
        monkeypatch.undo()
        with open(path) as fh:
            assert json.load(fh) == theirs
        assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]

    def test_table_tip_truth_up_on_empty_output(self, spark, tmp_path):
        """An epoch whose output evaluates EMPTY writes no group, so the
        table tip a reducer sees in later epochs stays at the last slot
        holding data instead of overstating to an empty epoch's hi (an
        incremental reducer reading 'slot = prev_slot' would otherwise
        silently lose prior state)."""
        from pyspark.sql import functions as F

        from argus_spark.chain.synth import synth_blocks
        from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
        from argus_spark.lifecycle.store import ParquetStateStore
        from tests.conftest import SF_SMOKE

        blocks = synth_blocks(spark, SF_SMOKE)
        slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
        cut = slots[199]  # epoch 1 = slots[0:200] -> rows; later epochs empty
        seen: list[int] = []

        def _apply(ctx):
            seen.append(ctx.table_tip("sparse_t"))
            return {"sparse_t": ctx.blocks.filter(F.col("slot") <= cut).select("slot")}

        reg = ReducerRegistry()
        reg.register(Reducer("sparse", _apply, tables=["sparse_t"]))
        store = ParquetStateStore(str(tmp_path / "s"))
        d = IndexDriver(
            spark, reg, store, blocks, batch_size=200, max_delay_s=1e9
        )
        d.run([ChainEvent("roll_forward", block_slot=s) for s in slots])
        assert len(seen) >= 3  # at least one epoch after an empty one
        assert seen[0] == -1 and seen[-1] == cut
        assert max(slots) > cut  # the overstated value the tip must not take

    def test_epoch_commit_reads_the_manifest_twice(self, spark, tmp_path, monkeypatch):
        """One epoch reads the manifest twice: its pinned snapshot and
        the read under the publish lock. The checkpoint rows' fixed
        fields come from the driver, so the commit reads nothing more;
        created_at is stamped at a reducer's first commit and survives
        later epochs, a rewind and a fresh driver's resume."""
        from argus_spark.chain.synth import synth_blocks
        from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
        from argus_spark.lifecycle.store import ParquetStateStore
        from tests.conftest import SF_SMOKE

        blocks = synth_blocks(spark, SF_SMOKE)
        slots = sorted(r.slot for r in blocks.select("slot").collect())[:30]
        reg = ReducerRegistry()
        reg.register(
            Reducer("blk", lambda ctx: {"blk_t": ctx.blocks.select("slot")},
                    tables=["blk_t"])
        )
        store = ParquetStateStore(str(tmp_path / "s"))

        def driver():
            return IndexDriver(
                spark, reg, store, blocks, batch_size=10, max_delay_s=1e9
            )

        def feed(ss):
            return [ChainEvent("roll_forward", block_slot=s) for s in ss]

        d = driver()
        reads: list[int] = []
        real = ParquetStateStore.current_manifest

        def counting(self):
            reads.append(1)
            return real(self)

        monkeypatch.setattr(ParquetStateStore, "current_manifest", counting)
        d.run(feed(slots[:10]))
        assert d.stats.epochs == 1
        assert len(reads) == 2

        created = store.reducer_states()["blk"].created_at
        d.run(feed(slots[10:20]))
        d.rewind_to(slots[15])
        d2 = driver()
        d2.run(feed(slots[15:30]))
        st = store.reducer_states()["blk"]
        assert st.resume_slot == slots[29]
        assert st.created_at == created

    def test_compaction_and_commit_publish_concurrently(self, spark, tmp_path):
        """MultiRootDriver(compact_every=N) can compact one root's table
        while another root commits to the same store. Compaction reads
        and publishes under the publish lock, so a commit arriving while
        a compaction is inside its group write waits for it: both
        publish, under distinct manifest ids, and no group is lost."""
        import threading

        from argus_spark.lifecycle.store import ParquetStateStore

        store = ParquetStateStore(str(tmp_path / "s"))
        for lo in (0, 10, 20):
            df = spark.range(lo, lo + 10).selectExpr("id AS slot")
            store.commit(appends={"a": (df, lo, lo + 9)})
        entered, release = threading.Event(), threading.Event()
        inner = store._rewrite

        def held_rewrite(*args, **kwargs):
            entered.set()
            release.wait(60)
            return inner(*args, **kwargs)

        store._rewrite = held_rewrite
        errors: list[Exception] = []

        def _run(fn):
            try:
                fn()
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

        compactor = threading.Thread(
            target=_run, args=(lambda: store.compact("a", upto_slot=29),)
        )
        compactor.start()
        assert entered.wait(60)
        b = spark.range(100, 105).selectExpr("id AS slot")
        committer = threading.Thread(
            target=_run, args=(lambda: store.commit(appends={"b": (b, 100, 104)}),)
        )
        committer.start()
        committer.join(3)  # give the commit every chance to publish first
        release.set()
        compactor.join(120)
        committer.join(120)
        assert not compactor.is_alive() and not committer.is_alive()
        assert not errors, errors
        m = store.current_manifest()
        assert m["id"] == 5  # three seed commits, the compaction, the commit
        assert [g["rows"] for g in m["tables"]["a"]] == [30]
        assert [g["rows"] for g in m["tables"]["b"]] == [5]
        assert store.read_table(spark, "a").count() == 30
        assert store.read_table(spark, "b").count() == 5
        assert store.fsck(spark)["ok"]

    def test_vacuum_spares_a_group_published_during_its_sweep(self, spark, tmp_path):
        """Another root's commit can publish while vacuum runs. Its
        group leaves the in-flight set at the publish, so a vacuum that
        read the manifest before the publish and the in-flight set after
        it finds the group in neither and deletes a live group."""
        import threading

        from argus_spark.lifecycle.store import ParquetStateStore

        store = ParquetStateStore(str(tmp_path / "s"))
        a = spark.range(0, 10).selectExpr("id AS slot")
        store.commit(appends={"a": (a, 0, 9)})
        entered, release = threading.Event(), threading.Event()
        inner = store.current_manifest

        def held_manifest():
            m = inner()
            if threading.current_thread().name == "vacuum":
                entered.set()
                release.wait(60)
            return m

        store.current_manifest = held_manifest
        errors: list[Exception] = []

        def _run(fn):
            try:
                fn()
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

        vacuum = threading.Thread(target=_run, args=(store.vacuum,), name="vacuum")
        vacuum.start()
        assert entered.wait(60)
        b = spark.range(100, 105).selectExpr("id AS slot")
        committer = threading.Thread(
            target=_run, args=(lambda: store.commit(appends={"b": (b, 100, 104)}),)
        )
        committer.start()
        committer.join(3)  # give the commit every chance to publish first
        release.set()
        vacuum.join(120)
        committer.join(120)
        assert not vacuum.is_alive() and not committer.is_alive()
        assert not errors, errors
        report = store.fsck(spark)
        assert report["ok"], report
        assert store.read_table(spark, "b").count() == 5

    def test_legacy_bucketed_manifest_reads_whole(self, spark, tmp_path):
        """Stores written while the sink had a bucketed layout carry
        ``bucketed_tables`` and per-group ``"bucketed": true`` in their
        manifests. They still load, read whole, and accept commits."""
        import json

        from argus_spark.lifecycle.store import MANIFEST_DIR, ParquetStateStore

        root = str(tmp_path / "s")
        store = ParquetStateStore(root)
        df = spark.range(10).selectExpr("id AS slot", "CAST(id AS STRING) AS tx_hash")
        m = store.commit(appends={"u": (df, 0, 9)})
        legacy = dict(m)
        legacy["id"] += 1
        legacy["bucketed_tables"] = {"u": {"keys": ["tx_hash"], "n": 16}}
        for g in legacy["tables"]["u"]:
            g["bucketed"] = True
        with open(os.path.join(root, MANIFEST_DIR, f"{legacy['id']:012d}.json"), "w") as fh:
            json.dump(legacy, fh)

        reopened = ParquetStateStore(root)
        assert reopened.read_table(spark, "u").count() == 10
        more = spark.range(10, 15).selectExpr("id AS slot", "CAST(id AS STRING) AS tx_hash")
        reopened.commit(appends={"u": (more, 10, 14)})
        assert reopened.read_table(spark, "u").count() == 15
        assert reopened.fsck(spark)["ok"]


def test_driver_rejects_view_namespace_collisions(spark, tmp_path):
    """Reducer names differing only in non-alphanumerics sanitize to the
    same per-reducer view namespace — the driver must reject them at
    construction, not race temp views mid-epoch."""
    from argus_spark.lifecycle.driver import IndexDriver
    from argus_spark.lifecycle.store import ParquetStateStore

    reg = ReducerRegistry()
    reg.register(Reducer("tx-tests", lambda ctx: {}, tables=["t1"]))
    reg.register(Reducer("tx.tests", lambda ctx: {}, tables=["t2"]))
    store = ParquetStateStore(str(tmp_path / "s"))
    with pytest.raises(ValueError, match="collide"):
        IndexDriver(spark, reg, store, None)


def test_roll_forward_without_slot_rejected(spark, tmp_path):
    """A roll_forward with no block slot is a malformed feed event: the
    driver fails loudly, as for an unknown action, instead of dropping
    the event."""
    from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
    from argus_spark.lifecycle.store import ParquetStateStore

    reg = ReducerRegistry().register(Reducer("a", lambda ctx: {}))
    d = IndexDriver(spark, reg, ParquetStateStore(str(tmp_path / "s")), None)
    with pytest.raises(ValueError, match="block_slot"):
        d.run([ChainEvent("roll_forward", block_slot=None)])


class TestFsck:
    def _small_store(self, spark, tmp_path):
        from argus_spark.chain.synth import synth_watched
        from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
        from argus_spark.lifecycle.store import ParquetStateStore
        from argus_spark.reducers.examples import build_example_registry
        from argus_spark.sources.ingest import first_n_blocks

        sf = "/root/testdata/sf0.001"
        store = ParquetStateStore(str(tmp_path / "store"))
        watched = synth_watched(spark, sf)
        blocks = first_n_blocks(spark, sf, 60)
        slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
        drv = IndexDriver(
            spark, build_example_registry(spark, watched), store, blocks,
            batch_size=30, max_delay_s=1e9,
        )
        drv.run([ChainEvent("roll_forward", block_slot=s) for s in slots])
        return store

    def test_clean_store_passes_deep_fsck(self, spark, tmp_path):
        store = self._small_store(spark, tmp_path)
        rep = store.fsck(spark)  # deep: recount rows, bound slots
        assert rep["ok"], rep
        assert rep["groups_checked"] > 0
        assert rep["orphans"] == []

    def test_fsck_detects_missing_group_and_orphan(self, spark, tmp_path):
        import os
        import shutil

        store = self._small_store(spark, tmp_path)
        manifest = store.current_manifest()
        # delete one referenced group -> error; plant one orphan dir
        victim = next(iter(manifest["tables"].values()))[0]["path"]
        shutil.rmtree(os.path.join(store.root, victim))
        orphan = os.path.join(store.root, "data", "block_tests", "g_orphan")
        os.makedirs(orphan)
        rep = store.fsck()
        assert not rep["ok"]
        assert any(victim in e for e in rep["errors"]), rep
        assert any("g_orphan" in o for o in rep["orphans"]), rep

    def test_fsck_detects_row_count_drift(self, spark, tmp_path):
        store = self._small_store(spark, tmp_path)
        # corrupt the recorded row count in the newest manifest
        import json
        import os

        mdir = os.path.join(store.root, "_manifests")
        newest = sorted(os.listdir(mdir))[-1]
        p = os.path.join(mdir, newest)
        m = json.load(open(p))
        next(iter(m["tables"].values()))[0]["rows"] += 1
        json.dump(m, open(p, "w"))
        rep = store.fsck(spark)
        assert not rep["ok"] and any("rows" in e for e in rep["errors"]), rep
