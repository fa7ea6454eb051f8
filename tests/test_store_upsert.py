"""B5 keyed-upsert sink (merge-on-read) semantics:

  * latest version per key wins at read time
  * slot-range retraction RESURRECTS the previous version (B7's
    spent-slot un-update, via pure appends — no update-in-place)
  * compaction collapses groups without changing the resolved view
  * atomicity: upsert + checkpoint publish in one manifest
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from argus_spark.lifecycle.store import ParquetStateStore


def _bal(spark, rows):
    return spark.createDataFrame(rows, "address string, balance long, slot long")


def _read(spark, store):
    df = store.read_table(spark, "balances")
    return {r.address: (r.balance, r.slot) for r in df.collect()} if df is not None else {}


def test_upsert_latest_wins_and_rollback_resurrects(spark, tmp_path):
    store = ParquetStateStore(str(tmp_path / "s"))
    store.commit(
        appends={},
        upserts={"balances": (_bal(spark, [("a", 100, 10), ("b", 50, 10)]), ["address"], 10, 10)},
    )
    assert _read(spark, store) == {"a": (100, 10), "b": (50, 10)}

    # second epoch updates a, inserts c
    store.commit(
        appends={},
        upserts={"balances": (_bal(spark, [("a", 70, 20), ("c", 5, 20)]), ["address"], 20, 20)},
    )
    assert _read(spark, store) == {"a": (70, 20), "b": (50, 10), "c": (5, 20)}

    # rollback to slot 15: the slot-20 versions vanish; a's previous
    # version RESURFACES (B7), c disappears entirely
    store.commit(appends={}, retract_from={"balances": 15}, spark=spark)
    assert _read(spark, store) == {"a": (100, 10), "b": (50, 10)}


def test_upsert_compact_preserves_view(spark, tmp_path):
    store = ParquetStateStore(str(tmp_path / "s"))
    for slot, rows in [
        (10, [("a", 1, 10), ("b", 2, 10)]),
        (20, [("a", 3, 20)]),
        (30, [("b", 4, 30), ("c", 5, 30)]),
    ]:
        store.commit(
            appends={}, upserts={"balances": (_bal(spark, rows), ["address"], slot, slot)}
        )
    before = _read(spark, store)
    assert before == {"a": (3, 20), "b": (4, 30), "c": (5, 30)}
    assert len(store.table_groups("balances")) == 3

    store.compact(spark, "balances")
    assert len(store.table_groups("balances")) == 1
    assert _read(spark, store) == before
    # still upsert-able after compaction
    store.commit(
        appends={}, upserts={"balances": (_bal(spark, [("a", 9, 40)]), ["address"], 40, 40)}
    )
    assert _read(spark, store)["a"] == (9, 40)


def test_upsert_key_change_rejected(spark, tmp_path):
    import pytest

    store = ParquetStateStore(str(tmp_path / "s"))
    store.commit(
        appends={}, upserts={"balances": (_bal(spark, [("a", 1, 1)]), ["address"], 1, 1)}
    )
    with pytest.raises(ValueError, match="upsert keys"):
        store.commit(
            appends={},
            upserts={"balances": (_bal(spark, [("a", 1, 2)]), ["address", "slot"], 2, 2)},
        )


def test_upsert_and_append_atomic_manifest(spark, tmp_path):
    store = ParquetStateStore(str(tmp_path / "s"))
    m = store.commit(
        appends={"log": (_bal(spark, [("x", 0, 1)]), 1, 1)},
        upserts={"balances": (_bal(spark, [("a", 1, 1)]), ["address"], 1, 1)},
    )
    assert set(m["tables"]) == {"log", "balances"}
    assert m["keyed_tables"] == {"balances": ["address"]}
    # append table has no merge resolution (no _v column exposed)
    assert set(store.read_table(spark, "log").columns) == {"address", "balance", "slot"}
