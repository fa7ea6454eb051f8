"""In-process serving reads: ``read_arrow`` on both stores checked
against ``read_table`` on the same pinned manifest, and
``current_balances`` (newest snapshot, read in-process) checked against
the latest-per-address window over every snapshot it replaced."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from argus_spark.chain.synth import synth_blocks, synth_watched
from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
from argus_spark.lifecycle.duckstore import DuckDBStateStore
from argus_spark.lifecycle.store import ParquetStateStore
from argus_spark.reducers.examples import build_example_registry, current_balances
from tests.conftest import SF_SMOKE

BALANCES = "watched_address_balances"


@pytest.fixture(scope="module")
def chain(spark):
    blocks = synth_blocks(spark, SF_SMOKE).cache()
    watched = synth_watched(spark, SF_SMOKE).cache()
    slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
    yield blocks, watched, slots
    blocks.unpersist()
    watched.unpersist()


def make_store(kind, tmp_path):
    if kind == "parquet":
        return ParquetStateStore(str(tmp_path / "store"))
    return DuckDBStateStore(str(tmp_path / "argus.duckdb"))


def fwd(slots):
    return [ChainEvent("roll_forward", block_slot=s) for s in slots]


def rows(frame, columns):
    """Sorted row tuples of a Spark DataFrame or an Arrow table (None
    reads as no rows)."""
    if frame is None:
        return []
    if hasattr(frame, "to_pylist"):
        return sorted(tuple(r[c] for c in columns) for r in frame.to_pylist())
    return sorted(tuple(r[c] for c in columns) for r in frame.collect())


def window_balances(spark, store):
    """The formulation ``current_balances`` replaced: latest snapshot
    per address over every snapshot ever written."""
    snaps = store.read_table(spark, BALANCES)
    w = Window.partitionBy("address_name").orderBy(F.desc("slot"))
    return (
        snaps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("address_name", "address", "slot", "balance")
    )


def arrow_matches_spark(spark, store):
    """``read_arrow`` returns what ``read_table`` does for the engine's
    UTxO and spend tables (the tables the open serving reads scan), on
    one pinned manifest and non-empty."""
    manifest = store.current_manifest()
    for name in ("wallet_utxos", "utxo_spends"):
        want = store.read_table(spark, name, manifest=manifest)
        cols = want.columns
        want = rows(want, cols)
        assert want, name
        assert rows(store.read_arrow(name, manifest=manifest), cols) == want, name


@pytest.mark.parametrize("kind", ["parquet", "duckdb"])
def test_read_arrow_matches_read_table(spark, tmp_path, kind):
    store = make_store(kind, tmp_path)
    cols = ["slot", "v"]

    def epoch(lo):
        # rows at lo, lo+3, lo+6 of the epoch range [lo, lo+9]
        df = spark.createDataFrame(
            [(lo + k, lo * 10 + k) for k in (0, 3, 6)], "slot long, v long"
        )
        return {"t": (df, lo, lo + 9)}

    def same(manifest, mins=(None, 0, 15, 25, 36, 100)):
        for m in mins:
            want = rows(store.read_table(spark, "t", min_slot=m, manifest=manifest), cols)
            got = rows(store.read_arrow("t", min_slot=m, manifest=manifest), cols)
            assert got == want, (kind, m)

    for lo in (0, 10, 20, 30):
        store.commit(appends=epoch(lo))
    pinned = store.current_manifest()
    same(pinned)
    # slot pruning reads fewer rows than the whole table
    assert len(rows(store.read_arrow("t", min_slot=30, manifest=pinned), cols)) == 3
    assert len(rows(store.read_arrow("t", manifest=pinned), cols)) == 12

    # a later commit does not move a read pinned to the earlier manifest
    # (the SQL backend has no snapshots: both sides then read live state)
    store.commit(appends=epoch(40))
    same(pinned)
    same(store.current_manifest())

    # straddling retraction: group [20, 29] keeps slots 20 and 23
    store.commit(appends={}, retract_from={"t": 25})
    same(store.current_manifest())
    assert rows(store.read_arrow("t"), cols)[-1] == (23, 203)
    if kind == "parquet":
        straddled = [g for g in store.table_groups("t") if g.min_slot == 20]
        assert [(g.min_slot, g.max_slot) for g in straddled] == [(20, 23)]

    # frozen-zone compaction merges [0, 9] and [10, 19] into one group
    store.compact("t", upto_slot=19)
    if kind == "parquet":
        assert len(store.table_groups("t")) == 2
    same(store.current_manifest())
    assert store.read_arrow("missing") is None


@pytest.mark.parametrize("kind", ["parquet", "duckdb"])
def test_current_balances_matches_window_formulation(spark, chain, tmp_path, kind):
    blocks, watched, slots = chain
    feed = slots[:480]
    store = make_store(kind, tmp_path)
    d = IndexDriver(
        spark, build_example_registry(spark, watched), store, blocks,
        batch_size=60, max_delay_s=1e9,
    )
    d.run(fwd(feed))
    cols = ["address_name", "address", "slot", "balance"]
    got = rows(current_balances(spark, store), cols)
    assert got == rows(window_balances(spark, store), cols)
    assert len(got) == watched.count()
    arrow_matches_spark(spark, store)

    # exclusive rollback to a slot between two snapshots: the snapshots
    # above it go, the one below becomes the newest
    snaps = sorted(
        r.slot for r in store.read_table(spark, BALANCES).select("slot").distinct().collect()
    )
    fork = next(s for s in feed if snaps[-3] < s < snaps[-2])
    d.run([ChainEvent("roll_back", rollback_slot=fork, rollback_type="exclusive")])
    got = rows(current_balances(spark, store), cols)
    assert got == rows(window_balances(spark, store), cols)
    assert {r[2] for r in got} == {snaps[-3]}
    arrow_matches_spark(spark, store)
    if kind == "duckdb":
        store.close()


def test_balance_lookup_runs_no_spark_job(spark, chain, tmp_path):
    """The mechanism behind the serving gain: after 10+ uncompacted
    epochs the balance read still touches one snapshot of |watched|
    rows, and a point lookup on it starts no Spark job."""
    blocks, watched, slots = chain
    store = ParquetStateStore(str(tmp_path / "store"))
    d = IndexDriver(
        spark, build_example_registry(spark, watched), store, blocks,
        batch_size=20, max_delay_s=1e9,
    )
    stats = d.run(fwd(slots[:240]))
    assert stats.epochs >= 10
    assert len(store.table_groups(BALANCES)) >= 10
    n_watched = watched.count()
    tip = max(g.max_slot for g in store.table_groups(BALANCES))
    assert store.read_arrow(BALANCES, min_slot=tip).num_rows == n_watched

    name = watched.select("name").first()["name"]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    got = current_balances(spark, store).filter(F.col("address_name") == name).collect()
    assert len(got) == 1 and got[0]["slot"] == tip
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_retraction_and_compaction_run_no_spark_job(spark, chain, tmp_path):
    """Retraction and compaction copy committed rows in-process: a
    rewind that cuts inside the newest group of every table, and a
    compaction of every table, start no Spark job."""
    blocks, watched, slots = chain
    store = ParquetStateStore(str(tmp_path / "store"))
    d = IndexDriver(
        spark, build_example_registry(spark, watched), store, blocks,
        batch_size=20, max_delay_s=1e9,
    )
    d.run(fwd(slots[:60]))
    newest = {
        t: max(store.table_groups(t), key=lambda g: g.max_slot)
        for t in store.current_manifest()["tables"]
    }
    cut = slots[50]
    assert len(newest) == 5
    assert all(g.min_slot < cut <= g.max_slot for g in newest.values()), newest
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    d.rewind_to(cut)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    for t in newest:
        store.compact(t, upto_slot=cut)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()

    # the rewind kept the newest groups' rows below the cut, and each
    # table is now one compacted group
    assert all(len(store.table_groups(t)) == 1 for t in newest)
    assert store.read_table(spark, "block_tests").count() == 50
    assert store.fsck(spark)["ok"]
