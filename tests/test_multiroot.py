"""MultiRootDriver — per-root concurrent graph processors
(CardanoIndexWorker.DependencyGraph.cs:8-96: one chain connection +
processing task per root subgraph; independent cadence, checkpoints,
and rollbacks over ONE shared store)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from argus_spark.chain.synth import synth_blocks
from argus_spark.lifecycle.dag import GraphError, Reducer, ReducerRegistry
from argus_spark.lifecycle.driver import ChainEvent
from argus_spark.lifecycle.multiroot import MultiRootDriver
from argus_spark.lifecycle.store import ParquetStateStore
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def blocks(spark):
    b = synth_blocks(spark, SF_SMOKE).cache()
    yield b
    b.unpersist()


def _two_root_registry():
    reg = ReducerRegistry()

    def _a(ctx):
        return {"root_a": ctx.blocks.select("slot", F.lit("a").alias("src"))}

    def _b(ctx):
        return {"root_b": ctx.blocks.select("slot", F.lit("b").alias("src"))}

    def _b_child(ctx):
        parent = ctx.table("root_b", min_slot=ctx.epoch_range[0])
        lo, hi = ctx.epoch_range
        return {
            "root_b_child": parent.filter(F.col("slot").between(lo, hi)).select(
                "slot", F.upper("src").alias("src")
            )
        }

    reg.register(Reducer("a", _a, tables=["root_a"]))
    reg.register(Reducer("b", _b, tables=["root_b"]))
    reg.register(
        Reducer("b_child", _b_child, depends_on="b", tables=["root_b_child"])
    )
    return reg


def fwd(slots):
    return [ChainEvent("roll_forward", block_slot=s) for s in slots]


def test_concurrent_roots_shared_feed(spark, blocks, tmp_path):
    slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
    store = ParquetStateStore(str(tmp_path / "store"))
    m = MultiRootDriver(
        spark, _two_root_registry(), store, blocks,
        batch_size=500, max_delay_s=1e9,
    )
    assert set(m.drivers) == {"a", "b"}
    stats = m.run(events=fwd(slots))
    n = len(slots)
    assert stats.per_root["a"].blocks == n
    assert stats.per_root["b"].blocks == n
    assert store.read_table(spark, "root_a").count() == n
    assert store.read_table(spark, "root_b").count() == n
    assert store.read_table(spark, "root_b_child").count() == n
    # both subgraphs' checkpoints advanced to the tip
    states = store.reducer_states()
    assert states["a"].resume_slot == max(slots)
    assert states["b_child"].resume_slot == max(slots)


def test_independent_rollback_is_table_scoped(spark, blocks, tmp_path):
    """A reorg on root B's chain retracts B's tables only — root A's
    data and checkpoints are untouched (per-root chain connections)."""
    slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
    store = ParquetStateStore(str(tmp_path / "store"))
    m = MultiRootDriver(
        spark, _two_root_registry(), store, blocks,
        batch_size=500, max_delay_s=1e9,
    )
    fork = slots[len(slots) // 2]
    feed_a = fwd(slots)
    feed_b = fwd(slots) + [
        ChainEvent("roll_back", rollback_slot=fork, rollback_type="exclusive")
    ]
    m.run(events_by_root={"a": feed_a, "b": feed_b})
    assert store.read_table(spark, "root_a").count() == len(slots)
    kept = [s for s in slots if s <= fork]
    assert store.read_table(spark, "root_b").count() == len(kept)
    assert store.read_table(spark, "root_b_child").count() == len(kept)
    states = store.reducer_states()
    assert states["a"].resume_slot == max(slots)
    assert states["b"].resume_slot == fork


def _two_root_sql_view_registry():
    """Two roots whose reducers build their epoch plans via spark.sql
    over ctx-registered temp views (blocks_view + register_view) — the
    pattern that raced under MultiRootDriver when view names were fixed
    literals (round-2 ADVICE): one root's createOrReplaceTempView could
    land between another root's registration and analysis, binding its
    plan to the wrong root's epoch blocks."""
    reg = ReducerRegistry()

    def _mk(label):
        def _apply(ctx):
            bv = ctx.blocks_view()
            lv = ctx.register_view(
                "label",
                ctx.spark.range(1).select(F.lit(label).alias("src")),
            )
            return {
                f"sqlroot_{label}": ctx.spark.sql(
                    f"SELECT b.slot, l.src FROM {bv} b CROSS JOIN {lv} l"
                )
            }

        return _apply

    reg.register(Reducer("sa", _mk("a"), tables=["sqlroot_a"]))
    reg.register(Reducer("sb", _mk("b"), tables=["sqlroot_b"]))
    return reg


def test_concurrent_sql_view_reducers_no_cross_binding(spark, blocks, tmp_path):
    """Per-root feeds cover DISJOINT slot ranges; many small epochs
    maximize view-registration interleaving. If either root's SQL plan
    ever bound the other root's blocks view, its table would contain
    slots from the other root's range (or mislabeled src rows)."""
    slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
    half = len(slots) // 2
    slots_a, slots_b = slots[:half], slots[half:]
    store = ParquetStateStore(str(tmp_path / "store"))
    m = MultiRootDriver(
        spark, _two_root_sql_view_registry(), store, blocks,
        batch_size=max(1, len(slots) // 20), max_delay_s=1e9,
    )
    m.run(events_by_root={"sa": fwd(slots_a), "sb": fwd(slots_b)})
    got_a = {
        (r.slot, r.src)
        for r in store.read_table(spark, "sqlroot_a").collect()
    }
    got_b = {
        (r.slot, r.src)
        for r in store.read_table(spark, "sqlroot_b").collect()
    }
    assert got_a == {(s, "a") for s in slots_a}
    assert got_b == {(s, "b") for s in slots_b}


def test_maintenance_compacts_only_own_tables(spark, blocks, tmp_path):
    """A root's scheduled compaction touches only its own declared
    tables: root b's groups, committed by an earlier run, are never
    merged (or vacuumed) by root a's maintenance on the shared store."""
    import json

    from argus_spark.lifecycle.store import MANIFEST_DIR

    slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
    span = slots[-1] - slots[0]
    store = ParquetStateStore(str(tmp_path / "store"))
    batch = max(1, len(slots) // 8)
    MultiRootDriver(
        spark, _two_root_registry(), store, blocks,
        batch_size=batch, max_delay_s=1e9,
    ).run(events_by_root={"a": [], "b": fwd(slots)})
    b_groups = {t: store.table_groups(t) for t in ("root_b", "root_b_child")}
    assert all(len(g) >= 2 for g in b_groups.values()), b_groups

    MultiRootDriver(
        spark, _two_root_registry(), store, blocks,
        batch_size=batch, max_delay_s=1e9,
        kwargs_by_root={"a": {
            "compact_every": 2, "compact_min_groups": 2,
            "max_rollback_slots": span // 4,
        }},
    ).run(events_by_root={"a": fwd(slots), "b": []})

    mdir = os.path.join(store.root, MANIFEST_DIR)
    compacted = set()
    for f in os.listdir(mdir):
        with open(os.path.join(mdir, f)) as fh:
            compacted.add(json.load(fh)["meta"].get("compacted"))
    assert "root_a" in compacted
    assert not compacted & {"root_b", "root_b_child"}, compacted
    assert {t: store.table_groups(t) for t in b_groups} == b_groups
    assert store.read_table(spark, "root_b").count() == len(slots)
    assert store.read_table(spark, "root_b_child").count() == len(slots)
    assert store.read_table(spark, "root_a").count() == len(slots)


def test_undeclared_tables_rejected(spark, blocks):
    reg = ReducerRegistry()
    reg.register(Reducer("x", lambda ctx: {}))  # no declared tables
    with pytest.raises(GraphError, match="ownership"):
        MultiRootDriver(spark, reg, None, blocks)
