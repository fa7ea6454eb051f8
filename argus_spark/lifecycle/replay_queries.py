"""Driver-provable lifecycle scenarios — CORRECTNESS rows backed by a
REAL ``IndexDriver`` run, not operator SQL (r8 verdict item 5).

``balances_after_rollback`` (operators/utxo.py) proves the rollback
*math*; these two queries prove the *engine*: each constructs a real
store + reducer DAG, drives it through the scripted scenario the
reference's own flagship test uses (LovelaceBalanceRollbackTest.cs:
22-66 — sync, reorg, resume), and returns the committed serving view
for the driver's hash gate. The DuckDB oracle is the stateless closed
form over the same chain tables, so a green row certifies
incremental + checkpointed + rolled-back ≡ stateless recompute —
through the full A8-A18 path (epoch batching, atomic manifest
commits, rollback retraction, dependent start-point adjustment,
at-least-once replay absorption).

Both are EAGER by construction (the driver runs while the query is
built — the streaming-replay precedent); the returned DataFrame is
the committed serving view (``current_balances`` reads the newest
balance snapshot in-process while the query is built). Chains are
capped (L_REORG/L_CRASH blocks) to bound driver wall-clock; the caps
appear in the oracles as ``least(count(*), L)`` so both engines cut
at the same block.

Scale note: the scenario schedule is the correctness frame; the 100 TB
arguments live with the driver itself (per-epoch manifest-pruned
deltas, one atomic commit per epoch, retraction as metadata).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from argus_spark.chain.synth import CHAIN_SQL_CTES, synth_blocks, synth_watched
from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
from argus_spark.lifecycle.store import ParquetStateStore
from argus_spark.reducers.examples import build_example_registry, current_balances

L_REORG = 2000  # blocks fed to the reorg scenario (cap; min with chain)
L_CRASH = 1200  # blocks fed to the crash scenario

_STATE_DIRS: dict[str, str] = {}


def _state_dir(key: str) -> str:
    """One store dir per (process, scenario, sf): re-construction wipes
    and re-runs rather than accumulating a store copy per call. The
    wipe re-creates the (now empty) dir — the SQL backend connects to
    a file INSIDE it and requires the parent to exist."""
    if key not in _STATE_DIRS:
        d = tempfile.mkdtemp(prefix=f"argus_lifecycle_{key.split('|')[0]}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _STATE_DIRS[key] = d
    else:
        shutil.rmtree(_STATE_DIRS[key], ignore_errors=True)
        os.makedirs(_STATE_DIRS[key], exist_ok=True)
    return _STATE_DIRS[key]


def _fwd(slots: list[int]) -> list[ChainEvent]:
    return [ChainEvent("roll_forward", block_slot=s) for s in slots]


def _chain(spark: SparkSession, sf_dir: str, cap: int):
    blocks = synth_blocks(spark, sf_dir)
    watched = synth_watched(spark, sf_dir)
    # control-plane collect: the slot schedule (narrow ints), never data
    slots = [
        r.slot for r in blocks.select("slot").orderBy("slot").limit(cap).collect()
    ]
    return blocks, watched, slots


def lifecycle_reorg_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sync → mid-chain reorg → resume a SHORTER branch, through a real
    driver; return the final serving balances (latest snapshot per
    watched address).

    Schedule over the first L = min(chain, 2000) blocks: roll forward
    all L; roll back EXCLUSIVE to slots[L//2] (mid-batch — batch size
    is not a divisor of the fork index, so the retraction cuts inside
    an epoch); a FRESH driver (A14 start-point adjustment from
    persisted state) resumes the branch slots[L//2+1 : 3L//4]. The
    final tip is therefore slots[3L//4 - 1] — the oracle's balances
    cut there, so the VALUES prove the retraction actually removed
    [fork+1, tip] and the resume re-applied exactly the branch, not a
    straight-run equivalence."""
    blocks, watched, slots = _chain(spark, sf_dir, L_REORG)
    n = len(slots)
    fork, r = n // 2, 3 * n // 4
    store = ParquetStateStore(_state_dir(f"reorg|{sf_dir}"))
    blocks = blocks.cache()
    try:
        reg = build_example_registry(spark, watched)
        d = IndexDriver(
            spark, reg, store, blocks, batch_size=500, max_delay_s=1e9
        )
        d.run(_fwd(slots))
        d.run(
            [
                ChainEvent(
                    "roll_back",
                    rollback_slot=slots[fork],
                    rollback_type="exclusive",
                )
            ]
        )
        d2 = IndexDriver(
            spark, reg, store, blocks, batch_size=500, max_delay_s=1e9
        )
        d2.run(_fwd(slots[fork + 1 : r]))
    finally:
        blocks.unpersist()
    return current_balances(spark, store).select(
        "address_name", "slot", "balance"
    )


LIFECYCLE_REORG_REPLAY_SQL = (
    CHAIN_SQL_CTES
    + f"""
, ds AS (
  SELECT slot, row_number() OVER (ORDER BY slot) AS rn
  FROM (SELECT DISTINCT slot FROM outputs)
), lim AS (SELECT least(count(*), {L_REORG}) AS l FROM ds),
cut AS (
  SELECT max(ds.slot) AS tip FROM ds, lim WHERE ds.rn <= 3 * lim.l // 4
)
SELECT w.name AS address_name,
       cut.tip::BIGINT AS slot,
       CAST(COALESCE(b.balance, 0) AS BIGINT) AS balance
FROM watched w CROSS JOIN cut
LEFT JOIN (
  SELECT o.address_name, CAST(sum(o.amount) AS BIGINT) AS balance
  FROM outputs o, cut
  WHERE o.slot <= cut.tip
    AND NOT EXISTS (SELECT 1 FROM inputs i, cut c2
                    WHERE o.tx_hash = i.tx_id AND o.tx_index = i.idx
                      AND i.spend_slot <= c2.tip)
  GROUP BY o.address_name
) b ON w.name = b.address_name
"""
)


def lifecycle_reorg_replay_sqltxn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME reorg scenario as ``lifecycle_reorg_replay``, driven
    into the SQL-TRANSACTION backend (lifecycle/duckstore.py — the
    reference's EF/Postgres deployment shape: one ACID transaction per
    epoch, slot-keyed appends, slot-range retraction as SQL DELETEs,
    synchronous commits since a live database has no pinned
    snapshots). Same oracle as the parquet-backend row, so a green
    pair certifies both A11 backends converge to the identical state
    through sync → mid-chain reorg → fresh-driver branch resume."""
    from argus_spark.lifecycle.duckstore import DuckDBStateStore

    blocks, watched, slots = _chain(spark, sf_dir, L_REORG)
    n = len(slots)
    fork, r = n // 2, 3 * n // 4
    store = DuckDBStateStore(
        os.path.join(_state_dir(f"reorgsql|{sf_dir}"), "argus.duckdb")
    )
    blocks = blocks.cache()
    try:
        reg = build_example_registry(spark, watched)
        d = IndexDriver(
            spark, reg, store, blocks, batch_size=500, max_delay_s=1e9
        )
        d.run(_fwd(slots))
        d.run(
            [
                ChainEvent(
                    "roll_back",
                    rollback_slot=slots[fork],
                    rollback_type="exclusive",
                )
            ]
        )
        d2 = IndexDriver(
            spark, reg, store, blocks, batch_size=500, max_delay_s=1e9
        )
        d2.run(_fwd(slots[fork + 1 : r]))
        out = current_balances(spark, store).select(
            "address_name", "slot", "balance"
        )
    finally:
        blocks.unpersist()
    # the serving frame is a local relation already fetched from the
    # database, so it outlives the connection
    store.close()
    return out


class _CrashingStore(ParquetStateStore):
    """Injects a crash at the A11 commit point: data files for the
    torn epoch are on disk, the manifest publish never happens — the
    exact torn state the atomic-commit design makes invisible."""

    def __init__(self, root: str, publishes_before_crash: int) -> None:
        super().__init__(root)
        self._publishes_left = publishes_before_crash

    def _publish(self, manifest: dict) -> None:
        if self._publishes_left <= 0:
            raise RuntimeError("injected crash before manifest publish")
        self._publishes_left -= 1
        super()._publish(manifest)


def lifecycle_crash_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash MID-EPOCH (during the commit, after data writes, before
    the manifest publish), then restart + full at-least-once replay;
    return the final serving balances.

    Over the first L = min(chain, 1200) blocks at batch
    min(400, L // 3) (derived so the feed always spans ≥3 epochs): the
    injected store crashes epoch 3's publish, so the driver dies with
    ~2 epochs committed and epoch 3's data files TORN on disk. A fresh
    store + driver re-runs the FULL feed from genesis: blocks below
    the committed floor are skipped (B41), the torn epoch is invisible
    (A11 — old manifest intact) and re-applies cleanly, and the final
    balances equal the stateless closed form at slots[L-1]. A
    duplicate-absorbing failure mode (torn files counted twice) would
    shift every balance — the hash gate catches it."""
    blocks, watched, slots = _chain(spark, sf_dir, L_CRASH)
    root = _state_dir(f"crash|{sf_dir}")
    # Derive the epoch size from the ACTUAL chain length so the injected
    # crash (at the 3rd manifest publish) always lands inside the feed:
    # a fixed 400 would yield <3 epochs on a truncated fixture (<=800
    # distinct slots) and the scenario would error instead of degrade.
    batch = max(1, min(400, len(slots) // 3))
    blocks = blocks.cache()
    try:
        reg = build_example_registry(spark, watched)
        crashing = _CrashingStore(root, publishes_before_crash=2)
        d1 = IndexDriver(
            spark, reg, crashing, blocks, batch_size=batch, max_delay_s=1e9
        )
        try:
            d1.run(_fwd(slots))
            raise AssertionError("injected crash did not fire")
        except RuntimeError:
            pass  # the crash — epoch 3's manifest never published
        store = ParquetStateStore(root)
        d2 = IndexDriver(
            spark, reg, store, blocks, batch_size=batch, max_delay_s=1e9
        )
        stats = d2.run(_fwd(slots))
        if stats.skipped == 0:
            raise AssertionError("restart must skip committed blocks")
    finally:
        blocks.unpersist()
    return current_balances(spark, store).select(
        "address_name", "slot", "balance"
    )


LIFECYCLE_CRASH_REPLAY_SQL = (
    CHAIN_SQL_CTES
    + f"""
, ds AS (
  SELECT slot, row_number() OVER (ORDER BY slot) AS rn
  FROM (SELECT DISTINCT slot FROM outputs)
), lim AS (SELECT least(count(*), {L_CRASH}) AS l FROM ds),
cut AS (SELECT max(ds.slot) AS tip FROM ds, lim WHERE ds.rn <= lim.l)
SELECT w.name AS address_name,
       cut.tip::BIGINT AS slot,
       CAST(COALESCE(b.balance, 0) AS BIGINT) AS balance
FROM watched w CROSS JOIN cut
LEFT JOIN (
  SELECT o.address_name, CAST(sum(o.amount) AS BIGINT) AS balance
  FROM outputs o, cut
  WHERE o.slot <= cut.tip
    AND NOT EXISTS (SELECT 1 FROM inputs i, cut c2
                    WHERE o.tx_hash = i.tx_id AND o.tx_index = i.idx
                      AND i.spend_slot <= c2.tip)
  GROUP BY o.address_name
) b ON w.name = b.address_name
"""
)


def _balances_cut_sql(cap: int, mul: int, div: int) -> str:
    """Stateless closed-form balances at tip = the (mul·L//div)-th of
    the first L = min(chain, cap) distinct slots — the shared oracle
    shape of every lifecycle scenario query in this module."""
    return (
        CHAIN_SQL_CTES
        + f"""
, ds AS (
  SELECT slot, row_number() OVER (ORDER BY slot) AS rn
  FROM (SELECT DISTINCT slot FROM outputs)
), lim AS (SELECT least(count(*), {cap}) AS l FROM ds),
cut AS (
  SELECT max(ds.slot) AS tip FROM ds, lim WHERE ds.rn <= {mul} * lim.l // {div}
)
SELECT w.name AS address_name,
       cut.tip::BIGINT AS slot,
       CAST(COALESCE(b.balance, 0) AS BIGINT) AS balance
FROM watched w CROSS JOIN cut
LEFT JOIN (
  SELECT o.address_name, CAST(sum(o.amount) AS BIGINT) AS balance
  FROM outputs o, cut
  WHERE o.slot <= cut.tip
    AND NOT EXISTS (SELECT 1 FROM inputs i, cut c2
                    WHERE o.tx_hash = i.tx_id AND o.tx_index = i.idx
                      AND i.spend_slot <= c2.tip)
  GROUP BY o.address_name
) b ON w.name = b.address_name
"""
    )


L_STREAMIDX = 1600  # blocks fed to the streaming-indexer scenario


def streaming_lifecycle_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The steady-state STREAMING path (SURVEY §3.1) under the driver's
    hash gate: a real ``readStream`` file source feeding
    ``foreachBatch`` → ``IndexDriver`` (streaming/indexer.py —
    pytest-only before r10), with a mid-feed reorg and a
    checkpoint-resumed second leg.

    Over the first L = min(chain, 1600) blocks, the feed directory
    carries CHAIN_EVENTS files (~10 files, read 2 per trigger, driver
    batch 250 — so micro-batch, file, and epoch boundaries all
    deliberately misalign):

    * leg 1: roll forward all L; a roll_back EXCLUSIVE to slots[L//2]
      (mid-file, mid-epoch); the branch resume to 3L//4 — one
      ``Trigger.AvailableNow`` run drains it;
    * leg 2: new files extending the branch to 7L//8 are written AFTER
      leg 1 terminates; a FRESH StreamingIndexer (fresh IndexDriver —
      A14 state reload) on the SAME streaming checkpoint runs
      availableNow again: Spark's source checkpoint must skip every
      leg-1 file and the driver must resume from its committed floor.

    Final tip = slots[7L//8 − 1]; the oracle is the stateless closed
    form there. This certifies the two-checkpoint cooperation the
    module docstring promises (source progress vs semantic progress)
    end to end, not just in pytest."""
    from argus_spark.sources.chain_feed import write_feed_file
    from argus_spark.streaming.indexer import StreamingIndexer

    blocks, watched, slots = _chain(spark, sf_dir, L_STREAMIDX)
    n = len(slots)
    fork, r1, r2 = n // 2, 3 * n // 4, 7 * n // 8
    out = _state_dir(f"streamidx|{sf_dir}")
    store = ParquetStateStore(os.path.join(out, "store"))
    feed = os.path.join(out, "feed")
    ck = os.path.join(out, "ck")
    os.makedirs(feed, exist_ok=True)

    def fwd_rows(seq0: int, ss: list[int]) -> list[dict]:
        return [
            {"seq": seq0 + i, "action": "roll_forward", "block_slot": s}
            for i, s in enumerate(ss)
        ]

    leg1 = fwd_rows(0, slots)
    leg1.append(
        {
            "seq": len(leg1),
            "action": "roll_back",
            "rollback_slot": slots[fork],
            "rollback_type": "exclusive",
        }
    )
    leg1 += fwd_rows(len(leg1), slots[fork + 1 : r1])
    per = max(1, (len(leg1) + 9) // 10)
    n_files = 0
    for lo in range(0, len(leg1), per):
        write_feed_file(feed, n_files, leg1[lo : lo + per])
        n_files += 1
    blocks = blocks.cache()
    try:
        reg = build_example_registry(spark, watched)
        si = StreamingIndexer(
            spark, reg, store, blocks, feed, ck,
            batch_size=250, max_files_per_trigger=2,
        )
        st1 = si.run_available_now()
        if st1.micro_batches < 2:
            raise AssertionError("leg 1 must span multiple micro-batches")
        # leg 2: extend the branch, then restart on the same checkpoint
        leg2 = fwd_rows(len(leg1), slots[r1:r2])
        if leg2:
            write_feed_file(feed, n_files, leg2)
        si2 = StreamingIndexer(
            spark, build_example_registry(spark, watched), store, blocks,
            feed, ck, batch_size=250, max_files_per_trigger=2,
        )
        st2 = si2.run_available_now()
        if leg2 and st2.events != len(leg2):
            raise AssertionError(
                f"restart must read ONLY the new file: {st2.events} events"
            )
    finally:
        blocks.unpersist()
    return current_balances(spark, store).select(
        "address_name", "slot", "balance"
    )


STREAMING_LIFECYCLE_REPLAY_SQL = _balances_cut_sql(L_STREAMIDX, 7, 8)


L_COMPACT = 1500  # blocks fed to the compaction scenario


def lifecycle_compact_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sync → frozen-zone COMPACTION below the rollback horizon → reorg
    ABOVE it → fresh-driver branch resume → VACUUM → fsck; return the
    final serving balances. Driver-proves the maintenance path
    (store.compact/vacuum — pytest-only before r10): a compaction that
    merged above the horizon, dropped/duplicated rows in the rewrite,
    or a vacuum that deleted a still-referenced group would shift the
    balances or fail the read — the hash gate and the driver's err
    field catch both.

    Schedule over the first L = min(chain, 1500) blocks at batch 200:
    sync all L; compact every table's file-groups wholly at or below
    horizon = slots[L//2] (frozen zone, merged by the store's in-process
    rewrite); EXCLUSIVE rollback to slots[3L//4]
    (above the horizon, so retraction touches only live/straddling
    groups); a FRESH driver resumes the branch to 7L//8; vacuum
    reclaims the superseded pre-compaction groups; fsck audits the
    final manifest. Final tip = slots[7L//8 − 1] — the oracle's
    stateless closed form cuts there."""
    blocks, watched, slots = _chain(spark, sf_dir, L_COMPACT)
    n = len(slots)
    horizon, fork, r = n // 2, 3 * n // 4, 7 * n // 8
    store = ParquetStateStore(_state_dir(f"compact|{sf_dir}"))
    blocks = blocks.cache()
    try:
        reg = build_example_registry(spark, watched)
        d = IndexDriver(
            spark, reg, store, blocks, batch_size=200, max_delay_s=1e9
        )
        d.run(_fwd(slots))
        for t in sorted(store.current_manifest()["tables"]):
            store.compact(t, upto_slot=slots[horizon])
        d.run(
            [
                ChainEvent(
                    "roll_back",
                    rollback_slot=slots[fork],
                    rollback_type="exclusive",
                )
            ]
        )
        d2 = IndexDriver(
            spark, reg, store, blocks, batch_size=200, max_delay_s=1e9
        )
        d2.run(_fwd(slots[fork + 1 : r]))
        store.vacuum()
        audit = store.fsck()
        if not audit["ok"]:
            raise AssertionError(f"fsck after compact+vacuum: {audit}")
    finally:
        blocks.unpersist()
    return current_balances(spark, store).select(
        "address_name", "slot", "balance"
    )


LIFECYCLE_COMPACT_REPLAY_SQL = (
    CHAIN_SQL_CTES
    + f"""
, ds AS (
  SELECT slot, row_number() OVER (ORDER BY slot) AS rn
  FROM (SELECT DISTINCT slot FROM outputs)
), lim AS (SELECT least(count(*), {L_COMPACT}) AS l FROM ds),
cut AS (
  SELECT max(ds.slot) AS tip FROM ds, lim WHERE ds.rn <= 7 * lim.l // 8
)
SELECT w.name AS address_name,
       cut.tip::BIGINT AS slot,
       CAST(COALESCE(b.balance, 0) AS BIGINT) AS balance
FROM watched w CROSS JOIN cut
LEFT JOIN (
  SELECT o.address_name, CAST(sum(o.amount) AS BIGINT) AS balance
  FROM outputs o, cut
  WHERE o.slot <= cut.tip
    AND NOT EXISTS (SELECT 1 FROM inputs i, cut c2
                    WHERE o.tx_hash = i.tx_id AND o.tx_index = i.idx
                      AND i.spend_slot <= c2.tip)
  GROUP BY o.address_name
) b ON w.name = b.address_name
"""
)


L_MULTI = 1800  # blocks fed to the multiroot scenario


def lifecycle_multiroot_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO root subgraphs over ONE shared store, concurrent processors
    with independent cadence and feeds (MultiRootDriver — the
    reference's one-connection-per-root shape,
    CardanoIndexWorker.DependencyGraph.cs:8-96), with a reorg hitting
    ONLY root A's tables; return both roots' serving views as one
    frame.

    Over the first L = min(chain, 1800) blocks:

    * root A (``utxos_by_address`` → ``balance_by_address``, batch 500)
      consumes ALL L blocks, then an in-feed EXCLUSIVE rollback to
      slots[L//2], then resumes the branch up to 3L//4 — final tip_a =
      slots[3L//4 − 1];
    * root B (``slot_marks``, batch 300 — staggered cadence) consumes
      only the first 2L//3 blocks and never sees a rollback — tip_b =
      slots[2L//3 − 1].

    tip_b > fork_a by construction, so root B's table holds rows ABOVE
    root A's fork: an UNSCOPED retraction (one chain's reorg deleting a
    different subgraph's rows — the bug the per-root table ownership
    exists to prevent) would drop B's count below 2L//3 and shift the
    hash. The oracle is the per-root stateless closed form: balances
    cut at tip_a, block count cut at tip_b."""
    from argus_spark.lifecycle.multiroot import MultiRootDriver
    from argus_spark.reducers.examples import make_balance_reducer, make_utxo_reducer

    import pyspark.sql.functions as F

    from argus_spark.lifecycle.dag import Reducer, ReducerRegistry

    blocks, watched, slots = _chain(spark, sf_dir, L_MULTI)
    n = len(slots)
    fork, r_a, r_b = n // 2, 3 * n // 4, 2 * n // 3
    store = ParquetStateStore(_state_dir(f"multiroot|{sf_dir}"))
    blocks = blocks.cache()
    try:
        reg = ReducerRegistry()
        reg.register(
            Reducer(
                "utxos_by_address",
                make_utxo_reducer(watched),
                tables=["wallet_utxos", "utxo_spends"],
            )
        )
        reg.register(
            Reducer(
                "balance_by_address",
                make_balance_reducer(watched),
                depends_on="utxos_by_address",
                tables=["watched_address_balances"],
            )
        )

        def _marks(ctx) -> dict[str, DataFrame]:
            return {"slot_marks": ctx.blocks.select("slot")}

        reg.register(Reducer("slot_marks", _marks, tables=["slot_marks"]))

        m = MultiRootDriver(
            spark,
            reg,
            store,
            blocks,
            kwargs_by_root={"slot_marks": {"batch_size": 300}},
            batch_size=500,
            max_delay_s=1e9,
        )
        feed_a = (
            _fwd(slots)
            + [
                ChainEvent(
                    "roll_back",
                    rollback_slot=slots[fork],
                    rollback_type="exclusive",
                )
            ]
            + _fwd(slots[fork + 1 : r_a])
        )
        feed_b = _fwd(slots[:r_b])
        m.run(
            events_by_root={"utxos_by_address": feed_a, "slot_marks": feed_b}
        )
    finally:
        blocks.unpersist()
    bal = current_balances(spark, store).select(
        F.lit("balances").alias("root"),
        F.col("address_name").alias("item"),
        F.col("slot").cast("long").alias("slot"),
        F.col("balance").cast("long").alias("val"),
    )
    marks = (
        store.read_table(spark, "slot_marks")
        .agg(
            F.count("*").cast("long").alias("val"),
            F.max("slot").cast("long").alias("slot"),
        )
        .select(
            F.lit("blockcount").alias("root"),
            F.lit("n_blocks").alias("item"),
            "slot",
            "val",
        )
    )
    return bal.unionByName(marks)


LIFECYCLE_MULTIROOT_REPLAY_SQL = (
    CHAIN_SQL_CTES
    + f"""
, ds AS (
  SELECT slot, row_number() OVER (ORDER BY slot) AS rn
  FROM (SELECT DISTINCT slot FROM outputs)
), lim AS (SELECT least(count(*), {L_MULTI}) AS l FROM ds),
cut AS (
  SELECT max(ds.slot) AS tip FROM ds, lim WHERE ds.rn <= 3 * lim.l // 4
), cutb AS (
  SELECT max(ds.slot) AS tipb, count(*)::BIGINT AS nb
  FROM ds, lim WHERE ds.rn <= 2 * lim.l // 3
)
SELECT 'balances' AS root, w.name AS item,
       cut.tip::BIGINT AS slot,
       CAST(COALESCE(b.balance, 0) AS BIGINT) AS val
FROM watched w CROSS JOIN cut
LEFT JOIN (
  SELECT o.address_name, CAST(sum(o.amount) AS BIGINT) AS balance
  FROM outputs o, cut
  WHERE o.slot <= cut.tip
    AND NOT EXISTS (SELECT 1 FROM inputs i, cut c2
                    WHERE o.tx_hash = i.tx_id AND o.tx_index = i.idx
                      AND i.spend_slot <= c2.tip)
  GROUP BY o.address_name
) b ON w.name = b.address_name
UNION ALL
SELECT 'blockcount' AS root, 'n_blocks' AS item,
       tipb::BIGINT AS slot, nb AS val
FROM cutb
"""
)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lifecycle_reorg_replay": lifecycle_reorg_replay,
    "lifecycle_reorg_replay_sqltxn": lifecycle_reorg_replay_sqltxn,
    "lifecycle_crash_replay": lifecycle_crash_replay,
    "lifecycle_multiroot_replay": lifecycle_multiroot_replay,
    "lifecycle_compact_replay": lifecycle_compact_replay,
    "streaming_lifecycle_replay": streaming_lifecycle_replay,
}

ORACLES: dict[str, str] = {
    "lifecycle_reorg_replay": LIFECYCLE_REORG_REPLAY_SQL,
    "lifecycle_reorg_replay_sqltxn": LIFECYCLE_REORG_REPLAY_SQL,
    "lifecycle_crash_replay": LIFECYCLE_CRASH_REPLAY_SQL,
    "lifecycle_multiroot_replay": LIFECYCLE_MULTIROOT_REPLAY_SQL,
    "lifecycle_compact_replay": LIFECYCLE_COMPACT_REPLAY_SQL,
    "streaming_lifecycle_replay": STREAMING_LIFECYCLE_REPLAY_SQL,
}
