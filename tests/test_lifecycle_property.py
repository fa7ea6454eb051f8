"""Property-based lifecycle test (SURVEY §5: "adding hypothesis-style
random block streams (random reorg points) is a cheap upgrade") —
random interleavings of forward sync and reorgs must always leave the
sink equal to the stateless prefix recompute.

Model: the chain is the canonical slot list; a script is a sequence of
(advance k | reorg depth d) ops. After any script, the committed
``block_tests`` table must hold exactly the model's applied prefix —
regardless of batch boundaries, rollback types, or replay overlap.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from argus_spark.chain.synth import synth_blocks
from argus_spark.lifecycle.dag import Reducer, ReducerRegistry
from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
from argus_spark.lifecycle.store import ParquetStateStore
from argus_spark.reducers.examples import _blocks_reducer
from tests.conftest import SF_SMOKE

N_BLOCKS = 12


def _block_registry() -> ReducerRegistry:
    return ReducerRegistry().register(
        Reducer("block_tests", _blocks_reducer, tables=["block_tests"])
    )


class _FailNthPublish(ParquetStateStore):
    """Fails only its ``n``-th manifest publish (0-based) and publishes
    every other one: a transient commit failure that the same driver
    then retries."""

    def __init__(self, root: str, n: int) -> None:
        super().__init__(root)
        self._left = n

    def _publish(self, manifest: dict) -> None:
        self._left -= 1
        if self._left == -1:
            raise RuntimeError("injected publish failure")
        super()._publish(manifest)


def _unreferenced_after_vacuum(store: ParquetStateStore) -> set[str]:
    """Group directories still on disk after ``vacuum`` that the current
    manifest does not reference: the groups of a failed commit must not
    stay protected as in-flight."""
    store.vacuum()
    data = os.path.join(store.root, "data")
    on_disk = {
        os.path.join("data", t, g)
        for t in os.listdir(data)
        for g in os.listdir(os.path.join(data, t))
    }
    live = {
        g["path"]
        for groups in store.current_manifest()["tables"].values()
        for g in groups
    }
    return on_disk - live


@pytest.fixture(scope="module")
def chain(spark):
    blocks = synth_blocks(spark, SF_SMOKE).orderBy("slot").limit(N_BLOCKS).cache()
    slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
    yield blocks, slots
    blocks.unpersist()


def _script(draw):
    """A random op script over a chain of N_BLOCKS slots."""
    ops = []
    pos = 0  # number of applied blocks in the model
    n_ops = draw(st.integers(min_value=2, max_value=6))
    for _ in range(n_ops):
        if pos == 0 or draw(st.booleans()):
            k = draw(st.integers(min_value=1, max_value=N_BLOCKS - pos))
            if k:
                ops.append(("advance", k))
                pos += k
        if pos > 0 and draw(st.booleans()):
            d = draw(st.integers(min_value=1, max_value=pos))
            typ = draw(st.sampled_from(["inclusive", "exclusive"]))
            ops.append(("reorg", d, typ))
            pos -= d
        if pos >= N_BLOCKS:
            break
    return ops


@given(data=st.data(), batch_size=st.sampled_from([1, 3, 500]))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_reorg_scripts_match_model(spark, chain, data, batch_size):
    blocks, slots = chain
    ops = _script(data.draw)

    events: list[ChainEvent] = []
    pos = 0
    for op in ops:
        if op[0] == "advance":
            k = op[1]
            for s in slots[pos : pos + k]:
                events.append(ChainEvent("roll_forward", block_slot=s))
            pos += k
        else:
            _, d, typ = op
            pos -= d
            # keep slots[:pos]: inclusive deletes >= slots[pos];
            # exclusive keeps its point and deletes above it
            if typ == "inclusive":
                rb_slot = slots[pos]
            else:
                rb_slot = slots[pos - 1] if pos > 0 else -1
            events.append(
                ChainEvent(
                    "roll_back", rollback_slot=rb_slot, rollback_type=typ
                )
            )

    with tempfile.TemporaryDirectory() as td:
        store = ParquetStateStore(os.path.join(td, "store"))
        reg = _block_registry()
        driver = IndexDriver(
            spark, reg, store, blocks,
            batch_size=batch_size, window_k=5,
            max_rollback_slots=10**12,
        )
        driver.run(events)

        df = store.read_table(spark, "block_tests")
        got = sorted(r.slot for r in df.select("slot").collect()) if df is not None else []
        assert got == slots[:pos], (ops, batch_size)
        # checkpoint agrees with the data
        st_row = store.reducer_states().get("block_tests")
        if pos > 0:
            assert st_row is not None
            assert st_row.resume_slot >= slots[pos - 1]


@given(data=st.data(), batch_size=st.sampled_from([2, 5]))
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_reorg_scripts_balance_fold_matches_oracle(
    spark, chain, data, batch_size
):
    """The incremental balance fold (prev snapshot + created−spent
    delta) must equal the stateless anti-join recompute after ANY
    interleaving of advances and reorgs — mid-epoch forks, repeated
    rollbacks, every batch boundary."""
    from pyspark.sql import functions as F

    from argus_spark.chain.synth import synth_inputs, synth_outputs, synth_watched
    from argus_spark.reducers.examples import build_example_registry, current_balances

    blocks, slots = chain
    watched = synth_watched(spark, SF_SMOKE)
    ops = _script(data.draw)

    events: list[ChainEvent] = []
    pos = 0
    for op in ops:
        if op[0] == "advance":
            k = op[1]
            for s in slots[pos : pos + k]:
                events.append(ChainEvent("roll_forward", block_slot=s))
            pos += k
        else:
            _, d, typ = op
            pos -= d
            rb_slot = slots[pos] if typ == "inclusive" else (
                slots[pos - 1] if pos > 0 else -1
            )
            events.append(
                ChainEvent("roll_back", rollback_slot=rb_slot, rollback_type=typ)
            )

    with tempfile.TemporaryDirectory() as td:
        store = ParquetStateStore(os.path.join(td, "store"))
        reg = build_example_registry(spark, watched)
        driver = IndexDriver(
            spark, reg, store, blocks,
            batch_size=batch_size, window_k=5, max_rollback_slots=10**12,
        )
        driver.run(events)

        snaps = store.read_table(spark, "watched_address_balances")
        if snaps is None:
            # every epoch tip was above the final fork → no snapshot
            # survives; nothing to compare (block-table equality is the
            # other property test's job)
            return
        surviving = snaps.agg(F.max("slot").alias("m")).collect()[0]["m"]
        got = {
            r["address_name"]: r["balance"]
            for r in current_balances(spark, store).collect()
        }
        # stateless oracle at the surviving snapshot slot
        out = synth_outputs(spark, SF_SMOKE).filter(F.col("slot") <= surviving)
        inp = synth_inputs(spark, SF_SMOKE).filter(F.col("spend_slot") <= surviving)
        unspent = out.join(
            inp,
            (out.tx_hash == inp.tx_id) & (out.tx_index == inp.idx),
            "left_anti",
        )
        bal = unspent.groupBy("address_name").agg(F.sum("amount").alias("balance"))
        want = {
            r["address_name"]: r["balance"]
            for r in F.broadcast(watched)
            .join(bal, watched.name == bal.address_name, "left")
            .select(
                F.col("name").alias("address_name"),
                F.coalesce(F.col("balance"), F.lit(0)).alias("balance"),
            )
            .collect()
        }
        assert got == want, (ops, batch_size, surviving)


@given(
    batch_size=st.sampled_from([1, 2, 5]),
    crash_at=st.integers(min_value=0, max_value=5),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_crash_point_replay_converges(spark, chain, batch_size, crash_at):
    """At-least-once recovery as a property: inject a crash at a RANDOM
    manifest-publish point (not just epoch 3 as in the scenario query),
    restart with a fresh store handle + driver, replay the FULL feed —
    the final table must equal the full prefix exactly (no lost blocks
    from the torn epoch, no duplicates from the replay), for every
    (batch size, crash point) combination. The same holds when the
    driver that saw the failed publish retries the feed itself."""
    from argus_spark.lifecycle.replay_queries import _CrashingStore

    blocks, slots = chain
    events = [ChainEvent("roll_forward", block_slot=s) for s in slots]
    n_epochs = (len(slots) + batch_size - 1) // batch_size

    with tempfile.TemporaryDirectory() as td:
        root = os.path.join(td, "store")
        reg = _block_registry()
        crashing = _CrashingStore(root, publishes_before_crash=crash_at)
        d1 = IndexDriver(
            spark, reg, crashing, blocks,
            batch_size=batch_size, window_k=5,
        )
        crashed = False
        try:
            d1.run(events)
        except RuntimeError:
            crashed = True
        # a crash point beyond the feed's epoch count simply never fires
        assert crashed == (crash_at < n_epochs), (crash_at, n_epochs)

        store = ParquetStateStore(root)
        d2 = IndexDriver(
            spark, reg, store, blocks, batch_size=batch_size, window_k=5
        )
        stats = d2.run(events)
        if crashed and crash_at > 0:
            assert stats.skipped > 0  # committed floor absorbed the replay
        df = store.read_table(spark, "block_tests")
        got = sorted(r.slot for r in df.select("slot").collect())
        assert got == slots, (batch_size, crash_at)

        # the same driver retries after its publish failed: the failed
        # epoch's blocks were never committed, so the retry replays them
        flaky = _FailNthPublish(os.path.join(td, "retry"), crash_at)
        d3 = IndexDriver(spark, reg, flaky, blocks, batch_size=batch_size, window_k=5)
        retried = False
        try:
            d3.run(events)
        except RuntimeError:
            retried = True
            d3.run(events)
        assert retried == (crash_at < n_epochs), (crash_at, n_epochs)
        df = flaky.read_table(spark, "block_tests")
        got = sorted(r.slot for r in df.select("slot").collect())
        assert got == slots, ("same-driver retry", batch_size, crash_at)
        assert _unreferenced_after_vacuum(flaky) == set()


def test_failed_rewind_commit_moves_nothing(spark, chain, tmp_path):
    """A rewind whose commit fails leaves the driver's windows and
    cursors where the store still has them: the next run on the same
    driver skips every committed block instead of replaying the rows
    the failed retraction never deleted."""
    blocks, slots = chain
    events = [ChainEvent("roll_forward", block_slot=s) for s in slots]
    store = _FailNthPublish(str(tmp_path / "store"), 1)  # the rewind's
    d = IndexDriver(
        spark, _block_registry(), store, blocks,
        batch_size=len(slots), max_delay_s=1e9, window_k=5,
    )
    d.run(events)
    floor = d.graph_resume_slot()
    with pytest.raises(RuntimeError, match="injected"):
        d.rewind_to(slots[len(slots) // 2])
    assert d.graph_resume_slot() == floor == slots[-1]
    assert d.run(events).skipped == len(slots)
    df = store.read_table(spark, "block_tests")
    got = sorted(r.slot for r in df.select("slot").collect())
    assert got == slots
    # the failed rewind's rewritten group is garbage, not in-flight
    assert _unreferenced_after_vacuum(store) == set()
