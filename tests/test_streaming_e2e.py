"""Phase-4 streaming tests: the lifecycle engine behind Structured
Streaming ``foreachBatch`` (SURVEY §3.1 mapping, §5.4 invariants).

Invariants proven here:
  * streaming run ≡ batch IndexDriver run on the same event sequence
  * crash/restart: the streaming checkpoint re-reads nothing already
    read; new files are picked up; no duplicate rows appear (B41)
  * a replayed feed with a fresh streaming checkpoint is absorbed
    idempotently by the driver's committed floor (at-least-once →
    exactly-once effect)
  * a mid-stream rollback retracts exactly like the batch path (A12)
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from argus_spark.chain.synth import synth_blocks
from argus_spark.lifecycle.dag import Reducer, ReducerRegistry
from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
from argus_spark.lifecycle.store import ParquetStateStore
from argus_spark.reducers.examples import _blocks_reducer, _transactions_reducer
from argus_spark.sources.chain_feed import read_feed, write_feed_file
from argus_spark.streaming.indexer import StreamingIndexer
from tests.conftest import SF_SMOKE

N_BLOCKS = 24


@pytest.fixture(scope="module")
def blocks(spark):
    df = (
        synth_blocks(spark, SF_SMOKE)
        .orderBy("slot")
        .limit(N_BLOCKS)
        .cache()
    )
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def slots(blocks):
    return [r.slot for r in blocks.select("slot").orderBy("slot").collect()]


def registry() -> ReducerRegistry:
    return (
        ReducerRegistry()
        .register(Reducer("block_tests", _blocks_reducer, tables=["block_tests"]))
        .register(
            Reducer(
                "transaction_tests", _transactions_reducer,
                depends_on="block_tests", tables=["transaction_tests"],
            )
        )
    )


def fwd_events(slots, start_seq=0):
    return [
        {"seq": start_seq + i, "action": "roll_forward", "block_slot": s}
        for i, s in enumerate(slots)
    ]


def table_slots(spark, store, name):
    df = store.read_table(spark, name)
    if df is None:
        return []
    return sorted(r.slot for r in df.select("slot").collect())


def test_stream_equals_batch(spark, blocks, slots, tmp_path):
    feed = str(tmp_path / "feed")
    write_feed_file(feed, 0, fwd_events(slots[:10]))
    write_feed_file(feed, 1, fwd_events(slots[10:18], start_seq=10))

    s_store = ParquetStateStore(str(tmp_path / "s_store"))
    si = StreamingIndexer(
        spark, registry(), s_store, blocks, feed,
        str(tmp_path / "ckpt"), max_files_per_trigger=1, window_k=5,
    )
    stats = si.run_available_now()
    assert stats.micro_batches == 2
    assert stats.events == 18

    b_store = ParquetStateStore(str(tmp_path / "b_store"))
    bd = IndexDriver(spark, registry(), b_store, blocks, window_k=5)
    bd.run([ChainEvent("roll_forward", block_slot=s) for s in slots[:18]])

    for tbl in ("block_tests", "transaction_tests"):
        assert table_slots(spark, s_store, tbl) == table_slots(spark, b_store, tbl)
    # identical committed checkpoints
    assert {
        n: st.resume_slot for n, st in s_store.reducer_states().items()
    } == {n: st.resume_slot for n, st in b_store.reducer_states().items()}


def test_stream_restart_picks_up_new_files_only(spark, blocks, slots, tmp_path):
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    store_dir = str(tmp_path / "store")
    write_feed_file(feed, 0, fwd_events(slots[:8]))

    store = ParquetStateStore(store_dir)
    si = StreamingIndexer(spark, registry(), store, blocks, feed, ckpt, window_k=5)
    si.run_available_now()
    assert table_slots(spark, store, "block_tests") == slots[:8]

    # "crash", then new events arrive; a fresh process restarts the query
    write_feed_file(feed, 1, fwd_events(slots[8:14], start_seq=8))
    store2 = ParquetStateStore(store_dir)
    si2 = StreamingIndexer(spark, registry(), store2, blocks, feed, ckpt, window_k=5)
    stats = si2.run_available_now()
    assert stats.events == 6  # old file NOT re-read (streaming checkpoint)
    assert table_slots(spark, store2, "block_tests") == slots[:14]  # no dupes


def test_replayed_feed_is_idempotent(spark, blocks, slots, tmp_path):
    """Fresh streaming checkpoint (all files replay) over an existing
    store: the driver's committed floor absorbs the replay (B41)."""
    feed = str(tmp_path / "feed")
    store_dir = str(tmp_path / "store")
    write_feed_file(feed, 0, fwd_events(slots[:12]))

    store = ParquetStateStore(store_dir)
    si = StreamingIndexer(
        spark, registry(), store, blocks, feed, str(tmp_path / "ckpt1"), window_k=5
    )
    si.run_available_now()

    store2 = ParquetStateStore(store_dir)
    si2 = StreamingIndexer(
        spark, registry(), store2, blocks, feed, str(tmp_path / "ckpt2"), window_k=5
    )
    stats = si2.run_available_now()
    assert stats.driver.skipped == 12
    assert table_slots(spark, store2, "block_tests") == slots[:12]  # no dupes


def test_stream_rollback_retracts(spark, blocks, slots, tmp_path):
    feed = str(tmp_path / "feed")
    cut = slots[9]  # roll back to before the 10th block (exclusive of slot 'cut')
    write_feed_file(feed, 0, fwd_events(slots[:12]))
    write_feed_file(
        feed,
        1,
        [
            {
                "seq": 12,
                "action": "roll_back",
                "rollback_type": "inclusive",
                "rollback_slot": cut,
            }
        ],
    )
    write_feed_file(feed, 2, fwd_events(slots[9:15], start_seq=13))

    store = ParquetStateStore(str(tmp_path / "store"))
    si = StreamingIndexer(
        spark, registry(), store, blocks, feed, str(tmp_path / "ckpt"), window_k=5
    )
    stats = si.run_available_now()
    assert stats.driver.rollbacks == 1
    # net effect: forward to slot[14], reorged blocks re-applied once
    assert table_slots(spark, store, "block_tests") == slots[:15]


def test_feed_roundtrip_schema(spark, tmp_path):
    feed = str(tmp_path / "feed")
    write_feed_file(feed, 0, fwd_events([1, 2, 3]))
    df = read_feed(spark, feed)
    assert df.count() == 3
    assert set(df.columns) == {
        "seq", "action", "rollback_type", "rollback_slot", "block_slot"
    }
    assert [r.block_slot for r in df.orderBy("seq").collect()] == [1, 2, 3]
