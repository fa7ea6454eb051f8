"""End-to-end lifecycle tests (SURVEY §5.1/§5.4 patterns): replay a
synthetic block stream through the reducer DAG with scripted reorgs and
assert sink-table equality against the stateless oracle at every step —
the LovelaceBalanceRollbackTest.cs:22-66 shape.

The oracle is the batch formulation in operators/utxo.py (itself
DuckDB-verified), so these tests prove: incremental+checkpointed+
rolled-back == stateless recompute.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from argus_spark.chain.synth import synth_blocks, synth_inputs, synth_outputs, synth_watched
from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
from argus_spark.lifecycle.store import ParquetStateStore
from argus_spark.reducers.examples import build_example_registry, current_balances
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def chain(spark):
    blocks = synth_blocks(spark, SF_SMOKE).cache()
    watched = synth_watched(spark, SF_SMOKE).cache()
    slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
    yield blocks, watched, slots
    blocks.unpersist()
    watched.unpersist()


def fwd(slots):
    return [ChainEvent("roll_forward", block_slot=s) for s in slots]


def expected_balances(spark, upto_slot=None, unspend_from=None):
    """Stateless oracle: balances over outputs/inputs with optional
    rollback semantics applied."""
    out = synth_outputs(spark, SF_SMOKE)
    inp = synth_inputs(spark, SF_SMOKE)
    if upto_slot is not None:
        out = out.filter(F.col("slot") <= upto_slot)
        inp = inp.filter(F.col("spend_slot") <= upto_slot)
    if unspend_from is not None:
        inp = inp.filter(F.col("spend_slot") < unspend_from)
    unspent = out.join(
        inp,
        (out.tx_hash == inp.tx_id) & (out.tx_index == inp.idx),
        "left_anti",
    )
    watched = synth_watched(spark, SF_SMOKE)
    bal = unspent.groupBy("address_name").agg(F.sum("amount").alias("balance"))
    return {
        r["address_name"]: r["balance"]
        for r in F.broadcast(watched)
        .join(bal, watched.name == bal.address_name, "left")
        .select(
            F.col("name").alias("address_name"),
            F.coalesce(F.col("balance"), F.lit(0)).alias("balance"),
        )
        .collect()
    }


def driver_balances(spark, store):
    df = current_balances(spark, store)
    assert df is not None
    return {r["address_name"]: r["balance"] for r in df.collect()}


def test_forward_sync_matches_oracle(spark, chain, tmp_path):
    blocks, watched, slots = chain
    store = ParquetStateStore(str(tmp_path / "store"))
    reg = build_example_registry(spark, watched)
    d = IndexDriver(spark, reg, store, blocks, batch_size=400, max_delay_s=1e9)
    stats = d.run(fwd(slots))
    assert stats.blocks == len(slots)
    assert stats.epochs >= len(slots) // 400
    assert driver_balances(spark, store) == expected_balances(spark)
    # block/tx tables fully populated
    assert store.read_table(spark, "block_tests").count() == len(slots)
    assert store.read_table(spark, "transaction_tests").count() == len(slots)


def test_rollback_then_replay_matches_oracle(spark, chain, tmp_path):
    """Forward to tip → reorg back (exclusive) → state matches the
    rolled-back oracle → replay the fork → state converges to tip."""
    blocks, watched, slots = chain
    store = ParquetStateStore(str(tmp_path / "store"))
    reg = build_example_registry(spark, watched)
    d = IndexDriver(spark, reg, store, blocks, batch_size=300, max_delay_s=1e9)

    fork_idx = int(len(slots) * 0.8)
    fork_slot = slots[fork_idx]  # exclusive: keep fork_slot, drop after
    d.run(fwd(slots))
    d.run([ChainEvent("roll_back", rollback_slot=fork_slot, rollback_type="exclusive")])

    # UTxO tables reflect the fork exactly: created ≤ fork (B6), spends
    # at slot > fork retracted = resurrection (B7)
    utxos = store.read_table(spark, "wallet_utxos")
    assert (
        utxos.count()
        == synth_outputs(spark, SF_SMOKE).filter(F.col("slot") <= fork_slot).count()
    )
    spends = store.read_table(spark, "utxo_spends")
    assert spends.filter(F.col("slot") > fork_slot).count() == 0
    assert (
        spends.count()
        == synth_inputs(spark, SF_SMOKE)
        .filter(F.col("spend_slot") <= fork_slot)
        .count()
    )
    # balance snapshots rewound to the last surviving epoch tip; the
    # serving view equals the oracle at that tip
    surviving = (
        store.read_table(spark, "watched_address_balances")
        .agg(F.max("slot").alias("m"))
        .collect()[0]["m"]
    )
    assert surviving <= fork_slot
    got = driver_balances(spark, store)
    want = expected_balances(spark, upto_slot=surviving, unspend_from=surviving + 1)
    assert got == want, "post-rollback serving view must equal oracle at surviving tip"

    # replay the fork blocks (the node re-feeds them) → converge to tip
    d2 = IndexDriver(spark, reg, store, blocks, batch_size=300, max_delay_s=1e9)
    d2.run(fwd(slots[fork_idx + 1 :]))
    assert driver_balances(spark, store) == expected_balances(spark)


def test_crash_recovery_resume(spark, chain, tmp_path):
    """§3.3 — stop mid-sync, restart from committed checkpoints, full
    replay feed: already-committed blocks are skipped, result exact."""
    blocks, watched, slots = chain
    store = ParquetStateStore(str(tmp_path / "store"))
    reg = build_example_registry(spark, watched)
    half = len(slots) // 2
    d1 = IndexDriver(spark, reg, store, blocks, batch_size=250, max_delay_s=1e9)
    d1.run(fwd(slots[:half]))
    # "crash": new driver instance, full feed from genesis (at-least-once)
    d2 = IndexDriver(spark, reg, store, blocks, batch_size=250, max_delay_s=1e9)
    stats = d2.run(fwd(slots))
    assert stats.skipped > 0, "resume must skip blocks below the checkpoint"
    assert driver_balances(spark, store) == expected_balances(spark)
    # no duplicate appends: utxo rows == oracle outputs rows
    assert (
        store.read_table(spark, "wallet_utxos").count()
        == synth_outputs(spark, SF_SMOKE).count()
    )


def test_deep_rollback_then_fresh_driver_no_duplicates(spark, chain, tmp_path):
    """Regression: a rollback deeper than the checkpoint window empties
    the window, but the persisted resume cursor still marks the exact
    committed floor — a fresh driver must NOT re-apply (and duplicate)
    blocks below the fork."""
    blocks, watched, slots = chain
    store = ParquetStateStore(str(tmp_path / "store"))
    reg = build_example_registry(spark, watched)
    d = IndexDriver(spark, reg, store, blocks, batch_size=500, max_delay_s=1e9)
    d.run(fwd(slots))
    fork_slot = slots[len(slots) // 2]  # far deeper than the 10-point window
    d.run([ChainEvent("roll_back", rollback_slot=fork_slot, rollback_type="exclusive")])

    d2 = IndexDriver(spark, reg, store, blocks, batch_size=500, max_delay_s=1e9)
    stats = d2.run(fwd(slots))  # full at-least-once replay from genesis
    assert stats.skipped > 0
    assert driver_balances(spark, store) == expected_balances(spark)
    assert (
        store.read_table(spark, "wallet_utxos").count()
        == synth_outputs(spark, SF_SMOKE).count()
    )


def test_per_reducer_rewind_overrides(spark, chain, tmp_path):
    """A17 parity (CardanoIndexWorker.cs:181-202, 256-261): rollback
    mode takes per-reducer point overrides and an exclusion list — one
    reducer rewinds deeper than its siblings, an excluded reducer is
    untouched, and the whole thing is ONE atomic commit. Replay then
    refills exactly (deeper-rewound reducers re-apply, siblings skip)."""
    from argus_spark.lifecycle.dag import Reducer, ReducerRegistry

    blocks, _, slots = chain
    store = ParquetStateStore(str(tmp_path / "store"))

    def _mk(table):
        def _apply(ctx):
            return {table: ctx.blocks.select("slot", "hash")}

        return _apply

    def _registry():
        reg = ReducerRegistry()
        reg.register(Reducer("ra", _mk("rw_a"), tables=["rw_a"]))
        reg.register(Reducer("rb", _mk("rw_b"), tables=["rw_b"]))
        reg.register(Reducer("rc", _mk("rw_c"), tables=["rw_c"]))
        return reg

    d = IndexDriver(
        spark, _registry(), store, blocks, batch_size=200, max_delay_s=1e9
    )
    d.run(fwd(slots))
    tip = max(slots)
    cut_a = slots[len(slots) // 2]
    cut_b = slots[len(slots) // 4]  # rb rewinds deeper than ra

    with pytest.raises(ValueError, match="unknown reducers"):
        d.rewind_to(cut_a, overrides={"nope": 0})
    d.rewind_to(cut_a, overrides={"rb": cut_b}, exclude=["rc"])

    def _count(t):
        df = store.read_table(spark, t)
        return df.count() if df is not None else 0

    assert _count("rw_a") == sum(1 for s in slots if s < cut_a)
    assert _count("rw_b") == sum(1 for s in slots if s < cut_b)
    assert _count("rw_c") == len(slots)  # excluded — untouched
    states = store.reducer_states()
    assert states["ra"].resume_slot == cut_a - 1
    assert states["rb"].resume_slot == cut_b - 1
    assert states["rc"].resume_slot == tip  # excluded — cursor intact
    # checkpoint windows rewound per-reducer
    assert all(p.slot < cut_a for p in states["ra"].window())
    assert all(p.slot < cut_b for p in states["rb"].window())
    assert any(p.slot == tip for p in states["rc"].window())

    # replay from the min floor: rb re-applies deepest, ra from cut_a,
    # rc skips everything — all tables converge to full chain, no dupes
    d2 = IndexDriver(
        spark, _registry(), store, blocks, batch_size=200, max_delay_s=1e9
    )
    stats = d2.run(fwd(slots))
    assert stats.skipped > 0
    for t in ("rw_a", "rw_b", "rw_c"):
        assert _count(t) == len(slots), t
        dupes = (
            store.read_table(spark, t)
            .groupBy("slot").count().filter("count > 1").count()
        )
        assert dupes == 0, t

    # a reducer both overridden and excluded is rejected, and a rejected
    # rewind moves no window or cursor: the same feed again is skipped
    reg2 = ReducerRegistry()
    reg2.register(Reducer("solo", _mk("rw_solo"), tables=["rw_solo"]))
    store2 = ParquetStateStore(str(tmp_path / "store2"))
    d3 = IndexDriver(
        spark, reg2, store2, blocks, batch_size=100, max_delay_s=1e9
    )
    d3.run(fwd(slots[:200]))
    floor = d3.graph_resume_slot()
    assert floor == slots[199]
    with pytest.raises(ValueError, match="both overridden and excluded"):
        d3.rewind_to(slots[100], overrides={"solo": slots[50]}, exclude=["solo"])
    assert d3.graph_resume_slot() == floor
    d3.run(fwd(slots[:200]))
    rows = store2.read_table(spark, "rw_solo")
    assert rows.count() == rows.select("slot").distinct().count() == 200


def test_undeclared_output_table_rejected(spark, chain, tmp_path):
    """A reducer owns only the tables it declares. An output outside
    ``tables`` would escape every retraction, so a rewind would leave
    its rows above the cut and a replay would duplicate them; the
    epoch fails instead, before anything is written."""
    from argus_spark.lifecycle.dag import Reducer, ReducerRegistry

    blocks, _, slots = chain

    def _apply(ctx):
        rows = ctx.blocks.select("slot", "hash")
        return {"own_a": rows, "stray": rows}

    reg = ReducerRegistry().register(Reducer("a", _apply, tables=["own_a"]))
    store = ParquetStateStore(str(tmp_path / "store"))
    d = IndexDriver(spark, reg, store, blocks, batch_size=30, max_delay_s=1e9)
    with pytest.raises(ValueError, match=r"'a'.*stray"):
        d.run(fwd(slots[:60]))
    assert store.current_manifest()["tables"] == {}
    assert d.graph_resume_slot() == -1


def test_shared_table_declaration_rejected():
    """Two reducers declaring one table would each cut it at their own
    rewind point, and the last cut would win: an overridden reducer
    keeps its rows above its cut and a replay duplicates them. The
    registry refuses the second declaration."""
    from argus_spark.lifecycle.dag import GraphError, Reducer, ReducerRegistry

    reg = ReducerRegistry().register(Reducer("x", lambda ctx: {}, tables=["shared"]))
    with pytest.raises(GraphError, match=r"\['shared'\].*'x'.*'y'"):
        reg.register(
            Reducer("y", lambda ctx: {}, depends_on="x", tables=["shared", "y_own"])
        )
    assert [r.name for r in reg] == ["x"]


def test_deep_rollback_guarded(spark, chain, tmp_path):
    from argus_spark.lifecycle.state import CheckpointWindowError

    blocks, watched, slots = chain
    store = ParquetStateStore(str(tmp_path / "store"))
    reg = build_example_registry(spark, watched)
    d = IndexDriver(
        spark, reg, store, blocks, batch_size=500, max_delay_s=1e9,
        max_rollback_slots=100,
    )
    d.run(fwd(slots))
    with pytest.raises(CheckpointWindowError):
        d.run([ChainEvent("roll_back", rollback_slot=0, rollback_type="inclusive")])


def test_empty_epoch_advances_checkpoint(spark, chain, tmp_path):
    """A10 — an epoch in which no reducer writes data publishes no data
    groups; its own manifest still advances the checkpoint, and no
    extra commit republishes it at the end of the run."""
    from argus_spark.lifecycle.dag import Reducer, ReducerRegistry
    from argus_spark.lifecycle.store import MANIFEST_DIR

    blocks, watched, slots = chain
    store = ParquetStateStore(str(tmp_path / "store"))
    reg = ReducerRegistry().register(
        Reducer("noop", lambda ctx: {}, tables=[])
    )
    d = IndexDriver(spark, reg, store, blocks, batch_size=100, max_delay_s=1e9)
    stats = d.run(fwd(slots[:200]))
    m = store.current_manifest()
    assert m["tables"] == {} or all(not g for g in m["tables"].values())
    # checkpoint still advanced to the tip of what was fed
    states = store.reducer_states()
    assert states["noop"].window()[0].slot == slots[199]
    # one manifest per epoch
    manifests = os.listdir(os.path.join(store.root, MANIFEST_DIR))
    assert len(manifests) == stats.epochs == 2


def test_auto_compaction_preserves_results_and_bounds_groups(spark, chain, tmp_path):
    """Scheduled frozen-zone compaction + vacuum: group fan-out stays
    bounded in epoch count, results stay exact, and a rollback within
    the buffer still works after old groups merged (the horizon rule —
    only groups wholly below tip − max_rollback_slots are touched)."""
    blocks, watched, slots = chain
    span = slots[-1] - slots[0]
    buffer = span // 4  # last quarter of the chain stays uncompacted
    store = ParquetStateStore(str(tmp_path / "store"))
    reg = build_example_registry(spark, watched)
    d = IndexDriver(
        spark, reg, store, blocks,
        batch_size=max(1, len(slots) // 12), max_delay_s=1e9,
        max_rollback_slots=buffer,
        compact_every=3, compact_min_groups=3,
    )
    stats = d.run(fwd(slots))
    assert stats.epochs >= 10
    # fan-out bounded: far fewer groups than epochs for every table
    for tbl in ("block_tests", "wallet_utxos", "watched_address_balances"):
        n_groups = len(store.table_groups(tbl))
        assert n_groups < stats.epochs // 2, (tbl, n_groups, stats.epochs)
    assert driver_balances(spark, store) == expected_balances(spark)
    assert store.read_table(spark, "block_tests").count() == len(slots)

    # rollback within the buffer is untouched by compaction
    fork_slot = slots[-1] - buffer // 2
    d.run([ChainEvent("roll_back", rollback_slot=fork_slot,
                      rollback_type="exclusive")])
    surviving = (
        store.read_table(spark, "watched_address_balances")
        .agg(F.max("slot").alias("m")).collect()[0]["m"]
    )
    assert surviving <= fork_slot
    got = driver_balances(spark, store)
    want = expected_balances(spark, upto_slot=surviving,
                             unspend_from=surviving + 1)
    assert got == want
    # replay the fork → converge to tip again
    d2 = IndexDriver(spark, reg, store, blocks, batch_size=200,
                     max_delay_s=1e9, max_rollback_slots=10**12)
    d2.run(fwd([s for s in slots if s > fork_slot]))
    assert driver_balances(spark, store) == expected_balances(spark)


def test_rewind_into_compacted_zone_matches_oracle(spark, chain, tmp_path):
    """A rewind that cuts a compacted balance group between two of its
    snapshots: the copy-on-write rewrite must record the slot range of
    the rows it kept. Recorded as [min_slot, cut - 1], the balance tip
    overstated, the next epoch's fold found no previous snapshot at it
    and every replayed balance restarted from 0."""
    blocks, watched, slots = chain
    span = slots[-1] - slots[0]
    store = ParquetStateStore(str(tmp_path / "store"))
    reg = build_example_registry(spark, watched)
    d = IndexDriver(
        spark, reg, store, blocks,
        batch_size=max(1, len(slots) // 12), max_delay_s=1e9,
        max_rollback_slots=span // 4,
        compact_every=3, compact_min_groups=3,
    )
    d.run(fwd(slots))

    def snapshot_slots(g):
        rows = (
            spark.read.parquet(os.path.join(store.root, g.path))
            .select("slot").distinct().collect()
        )
        return sorted(r.slot for r in rows)

    compacted = [
        s for s in map(snapshot_slots, store.table_groups("watched_address_balances"))
        if len(s) >= 2
    ]
    assert compacted, "the run must leave a compacted balance group"
    snaps = compacted[0]
    cut = snaps[-1]  # drops the group's newest snapshot, keeps the one before
    assert snaps[-2] < cut - 1
    d.rewind_to(cut)

    groups = store.table_groups("watched_address_balances")
    assert max(g.max_slot for g in groups) == snaps[-2]
    assert driver_balances(spark, store) == expected_balances(
        spark, upto_slot=snaps[-2], unspend_from=snaps[-2] + 1
    )
    fresh_store_reads_match(spark, store.root)
    d2 = IndexDriver(spark, reg, store, blocks, batch_size=200,
                     max_delay_s=1e9, max_rollback_slots=10**12)
    d2.run(fwd(slots))
    assert driver_balances(spark, store) == expected_balances(spark)


def fresh_store_reads_match(spark, root):
    """A new store on ``root`` knows no schema, so Spark infers each
    table's from the files, rewritten groups included: ``read_table``
    must return what ``read_arrow`` does (timestamps compared as epoch
    microseconds), ``created_at`` must read as a timestamp, and deep
    ``fsck`` must pass."""
    store = ParquetStateStore(root)
    assert not store._schemas
    for name in sorted(store.current_manifest()["tables"]):
        df = store.read_table(spark, name)
        ts = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampType)]
        if name == "block_tests":
            assert ts == ["created_at"], df.schema
        table = store.read_arrow(name)
        for c in ts:
            df = df.withColumn(c, F.unix_micros(c))
            table = table.set_column(
                table.schema.get_field_index(c), c,
                pc.cast(pc.cast(table[c], pa.timestamp("us")), pa.int64()),
            )
        cols = df.columns
        want = sorted(tuple(r[c] for c in cols) for r in df.collect())
        got = sorted(tuple(r[c] for c in cols) for r in table.to_pylist())
        assert got == want, name
    report = store.fsck(spark)
    assert report["ok"], report
