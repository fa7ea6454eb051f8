"""DuckDBStateStore backend parity (SURVEY §2.A A11/A12, B5-B7 on the
reference's EF/Postgres deployment shape): the SAME IndexDriver + reducer
DAG commits into a real ACID SQL database — one transaction per epoch
covering data + checkpoints, DELETE-where retraction of slot-keyed
appends (spends included), and the driver's write width. Mirrors the
ParquetStateStore e2e coverage in test_lifecycle_e2e.py; equality
against the same stateless oracle proves backend interchangeability (the
reference's IBlockUnitOfWork portability, EfBlockUnitOfWork.cs:94-121)."""

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
    df = current_balances(spark, store)
    assert df is not None
    return {r["address_name"]: r["balance"] for r in df.collect()}


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


@pytest.mark.parametrize("shuffle", [False, True])
def test_commit_applies_write_width(spark, tmp_path, monkeypatch, shuffle):
    """The staging write takes the driver's write width as the Parquet
    store does: ``write_shuffle`` repartitions (coalesce would run the
    epoch's whole lineage at the write width), otherwise it coalesces."""
    rows = spark.createDataFrame([(s, s) for s in range(10)], "slot long, x long")
    calls = []
    for method in ("repartition", "coalesce"):
        real = getattr(type(rows), method)

        def spy(self, *args, _real=real, _method=method, **kwargs):
            calls.append((_method, args))
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(type(rows), method, spy)
    store = DuckDBStateStore(str(tmp_path / "argus.duckdb"))
    store.commit(appends={"t": (rows, 0, 9)}, write_parts=1, write_shuffle=shuffle)
    want = "repartition" if shuffle else "coalesce"
    assert calls == [(want, (1,))]
    assert store.read_arrow("t").num_rows == 10
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
    e1 = store._export_unlocked("t")
    e2 = store._export_unlocked("t")
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


def test_vacuum_spares_a_batch_staged_during_its_sweep(spark, tmp_path):
    """A commit can stage its batch while another root's vacuum runs. A
    vacuum that took its in-flight snapshot before the batch registered
    and listed the staging directory after it deleted the staged files,
    and the commit then published without the rows."""
    import threading

    store = DuckDBStateStore(str(tmp_path / "argus.duckdb"))
    a = spark.createDataFrame([(1, 100)], "slot long, x int")
    store.commit(appends={"a": (a, 1, 1)})
    entered, release = threading.Event(), threading.Event()
    inner = store._version

    def held_version():
        if threading.current_thread().name == "vacuum":
            entered.set()
            release.wait(60)
        return inner()

    store._version = held_version
    errors: list[Exception] = []

    def _run(fn):
        try:
            fn()
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    vacuum = threading.Thread(target=_run, args=(store.vacuum,), name="vacuum")
    vacuum.start()
    assert entered.wait(60)
    b = spark.createDataFrame([(s, s) for s in range(100, 105)], "slot long, x int")
    committer = threading.Thread(
        target=_run, args=(lambda: store.commit(appends={"b": (b, 100, 104)}),)
    )
    committer.start()
    committer.join(3)  # give the commit every chance to stage first
    release.set()
    vacuum.join(120)
    committer.join(120)
    assert not vacuum.is_alive() and not committer.is_alive()
    assert not errors, errors
    got = store.read_arrow("b")
    assert got is not None and got.num_rows == 5
    store.close()
