"""DuckDBStateStore backend parity (SURVEY §2.A A11/A12, B5-B7 on the
reference's EF/Postgres deployment shape): the SAME IndexDriver + reducer
DAG commits into a real ACID SQL database — one transaction per epoch
covering data + checkpoints, DELETE-where retraction, versioned keyed
upserts with retraction resurrect. Mirrors the ParquetStateStore e2e
coverage in test_lifecycle_e2e.py; equality against the same stateless
oracle proves backend interchangeability (the reference's
IBlockUnitOfWork portability, EfBlockUnitOfWork.cs:94-121)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from argus_spark.chain.synth import synth_blocks, synth_inputs, synth_outputs, synth_watched
from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
from argus_spark.lifecycle.duckstore import DuckDBStateStore
from argus_spark.lifecycle.store import ReducerStateRow
from argus_spark.reducers.examples import build_example_registry
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


def expected_balances(spark, upto_slot=None):
    out = synth_outputs(spark, SF_SMOKE)
    inp = synth_inputs(spark, SF_SMOKE)
    if upto_slot is not None:
        out = out.filter(F.col("slot") <= upto_slot)
        inp = inp.filter(F.col("spend_slot") <= upto_slot)
    unspent = out.join(
        inp,
        (out.tx_hash == inp.tx_id) & (out.tx_index == inp.idx),
        "left_anti",
    )
    watched = synth_watched(spark, SF_SMOKE)
    agg = unspent.groupBy("address_name").agg(F.sum("amount").alias("b"))
    base = (
        watched.select(F.col("name").alias("address_name"))
        .join(agg, "address_name", "left")
        .fillna(0)
    )
    return {r.address_name: r.b for r in base.collect()}


def driver_balances(spark, store):
    df = store.read_table(spark, "watched_address_balances")
    assert df is not None
    mx = df.agg(F.max("slot")).first()[0]
    return {
        r["address_name"]: r["balance"]
        for r in df.filter(F.col("slot") == mx).collect()
    }


def test_forward_sync_matches_oracle(spark, chain, tmp_path):
    blocks, watched, slots = chain
    store = DuckDBStateStore(str(tmp_path / "argus.duckdb"))
    d = IndexDriver(
        spark, build_example_registry(spark, watched), store, blocks,
        batch_size=400, max_delay_s=1e9,
    )
    stats = d.run(fwd(slots))
    assert stats.blocks == len(slots)
    assert driver_balances(spark, store) == expected_balances(spark)
    assert (
        store.read_table(spark, "wallet_utxos").count()
        == synth_outputs(spark, SF_SMOKE).count()
    )
    store.close()


def test_rollback_then_replay(spark, chain, tmp_path):
    blocks, watched, slots = chain
    store = DuckDBStateStore(str(tmp_path / "argus.duckdb"))
    reg = build_example_registry(spark, watched)
    d = IndexDriver(spark, reg, store, blocks, batch_size=500, max_delay_s=1e9)
    d.run(fwd(slots))
    fork = slots[len(slots) // 2]
    d.run([ChainEvent("roll_back", rollback_slot=fork, rollback_type="exclusive")])
    # retraction deleted slot > fork everywhere, atomically with states
    assert (
        store.read_table(spark, "wallet_utxos")
        .agg(F.max("slot")).first()[0] <= fork
    )
    d2 = IndexDriver(spark, reg, store, blocks, batch_size=500, max_delay_s=1e9)
    stats = d2.run(fwd(slots))
    assert stats.skipped > 0
    assert driver_balances(spark, store) == expected_balances(spark)
    assert (
        store.read_table(spark, "wallet_utxos").count()
        == synth_outputs(spark, SF_SMOKE).count()
    )
    store.close()


def test_keyed_upsert_and_retraction_resurrect(spark, tmp_path):
    """B5 keyed MERGE + B7 resurrect on the SQL backend: newer version
    wins on read; slot-range retraction brings the old version back."""
    store = DuckDBStateStore(str(tmp_path / "argus.duckdb"))
    v1 = spark.createDataFrame([("k1", 10, 1), ("k2", 20, 1)], "k string, v int, slot long")
    store.commit(appends={}, upserts={"kv": (v1, ["k"], 1, 1)})
    v2 = spark.createDataFrame([("k1", 99, 5)], "k string, v int, slot long")
    store.commit(appends={}, upserts={"kv": (v2, ["k"], 5, 5)})
    got = {r["k"]: r["v"] for r in store.read_table(spark, "kv").collect()}
    assert got == {"k1": 99, "k2": 20}
    store.commit(appends={}, retract_from={"kv": 5}, spark=spark)
    got = {r["k"]: r["v"] for r in store.read_table(spark, "kv").collect()}
    assert got == {"k1": 10, "k2": 20}  # old version resurrected
    store.close()


def test_read_path_is_distributed_parquet_scan(spark, tmp_path):
    """VERDICT r2 item 4: committed reads must come back as a
    distributed parquet scan of the database's export staging — never
    an .arrow()→pandas driver funnel (a LocalTableScan/LogicalRDD at
    the leaf). The slot predicate must reach the parquet scan."""
    store = DuckDBStateStore(str(tmp_path / "argus.duckdb"))
    rows = spark.createDataFrame(
        [(s, s * 10) for s in range(100)], "slot long, x long"
    )
    store.commit(appends={"t": (rows, 0, 99)})
    from argus_spark.plans.checks import formatted_plan

    df = store.read_table(spark, "t", min_slot=50)
    plan = formatted_plan(df)
    assert "Scan parquet" in plan, plan
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan, plan
    # slot >= 50 pushed into the scan (row-group pruning at scale)
    assert "PushedFilters" in plan and "GreaterThanOrEqual(slot,50)" in plan, plan
    assert df.count() == 50

    # export caching: same committed version reads the same export
    e1 = store._export_unlocked("t", None)
    e2 = store._export_unlocked("t", None)
    assert e1 == e2 and e1 is not None

    # new commits bump the version; exports ≥2 versions old are reaped
    rows2 = spark.createDataFrame([(100, 1000)], "slot long, x long")
    store.commit(appends={"t": (rows2, 100, 100)})
    assert store.read_table(spark, "t").count() == 101  # exports t-v2
    store.commit(appends={"t": (rows2.withColumn("slot", F.lit(101).cast("long")), 101, 101)})
    assert store.read_table(spark, "t").count() == 102  # exports t-v3, reaps t-v1
    vers = set(os.listdir(os.path.join(store.staging_dir, "_reads")))
    assert "t-v1" not in vers and {"t-v2", "t-v3"} <= vers, vers
    store.close()


def test_crash_before_commit_is_invisible(spark, tmp_path):
    """A18 on the SQL backend: a failure inside the transaction rolls
    back data AND checkpoints together."""
    store = DuckDBStateStore(str(tmp_path / "argus.duckdb"))
    rows = spark.createDataFrame([(1, 100)], "slot long, x int")
    store.commit(
        appends={"t": (rows, 1, 1)},
        states=lambda: {"r": ReducerStateRow("r", 0.0, None, [], 1)},
    )

    def boom():
        raise RuntimeError("crash inside tx")

    rows2 = spark.createDataFrame([(2, 200)], "slot long, x int")
    with pytest.raises(RuntimeError, match="crash inside tx"):
        store.commit(appends={"t": (rows2, 2, 2)}, states=boom)
    # neither the data nor any state advanced
    assert store.read_table(spark, "t").count() == 1
    assert store.reducer_states()["r"].resume_slot == 1
    store.close()


def test_fsck_clean_and_with_injected_anomalies(spark, tmp_path):
    """DB-backend fsck parity: a committed store audits clean (after
    vacuum); a stray staging batch reports as an orphan; a dropped
    sink table becomes a hard error."""
    store = DuckDBStateStore(str(tmp_path / "argus.duckdb"))
    rows = spark.createDataFrame([(1, 100)], "slot long, x int")
    store.commit(
        appends={"t": (rows, 1, 1)},
        states=lambda: {"r": ReducerStateRow("r", 0.0, None, [], 1)},
    )
    store.vacuum()
    rep = store.fsck(spark)
    assert rep["ok"] and not rep["orphans"], rep

    # stray staging dir (a crashed writer's leftovers) → orphan, not ok-flip
    os.makedirs(os.path.join(store.staging_dir, "stray_batch"))
    rep = store.fsck()
    assert rep["ok"] and rep["orphans"] == ["stray_batch"], rep
    assert store.vacuum() >= 1
    assert store.fsck()["orphans"] == []

    # cataloged table dropped out from under the store → error
    store._con.execute('DROP TABLE "t"')
    rep = store.fsck()
    assert not rep["ok"] and any("missing" in e for e in rep["errors"]), rep
    store.close()
