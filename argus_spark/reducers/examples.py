"""Example reducers — the Spark re-expression of the reference's
example indexer (src/Argus.Sync.Example/Reducers/).

Key re-architecture for scale: the reference *updates* WalletUtxo rows
in place (set SpentSlot) and must un-update them on rollback
(LovelaceBalanceByAddressReducer.cs:109-128). Here every mutation is an
**append keyed by slot**: spends land in their own ``utxo_spends``
table (slot = spend slot), and the spent/unspent view is a join. Slot-
range retraction then covers B6 *and* B7 with the same O(reorg-depth)
file-group surgery — no update-in-place anywhere.

Reducers:
  block_tests        — block → (hash, height, slot)        (BlockTestReducer.cs)
  transaction_tests  — posexplode block → txs              (TransactionTestReducer.cs)
  wallet_utxos       — created outputs ⋉ watched set       (LovelaceBalanceByAddressReducer.cs:58-78)
  utxo_spends        — inputs matched to prior UTxOs       (ibid:88-106, as appends)
  balances           — per-epoch snapshot per watched addr (WatchedAddressBalanceReducer.cs)
                       [depends on wallet_utxos/utxo_spends output]
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from argus_spark.lifecycle.dag import Reducer, ReducerRegistry


# Reducers build their epoch plans with ONE spark.sql() call over temp
# views instead of chained DataFrame ops: each Python-side DataFrame
# method is a Py4J round-trip + incremental analysis (~20-90 ms
# measured), and the reducer loop is on the epoch critical path — at
# batch-500 cadence the DataFrame formulation spent ~0.7 s/epoch just
# BUILDING plans. A single SQL string parses and analyzes JVM-side in
# one hop. The plans are identical (verified vs the DuckDB lifecycle
# oracle in test_lifecycle_e2e).


# View names come from ctx.blocks_view()/ctx.register_view(), never
# fixed literals: temp views are session-global and MultiRootDriver
# runs roots on concurrent threads — a shared literal name would let
# one root's plan bind the other root's epoch (round-2 ADVICE item).


def _blocks_reducer(ctx) -> dict[str, DataFrame]:
    bv = ctx.blocks_view()
    return {
        "block_tests": ctx.spark.sql(
            "SELECT hash, height, slot, current_timestamp() AS created_at"
            f" FROM {bv}"
        )
    }


def _transactions_reducer(ctx) -> dict[str, DataFrame]:
    bv = ctx.blocks_view()
    return {
        "transaction_tests": ctx.spark.sql(
            f"""
            SELECT tx.tx_hash       AS tx_hash,
                   CAST(tx_index AS BIGINT) AS tx_index,
                   slot,
                   hash             AS block_hash,
                   height           AS block_height,
                   tx.raw           AS raw_tx
            FROM {bv}
            LATERAL VIEW posexplode(txs) t AS tx_index, tx
            """
        )
    }


def make_utxo_reducer(watched: DataFrame):
    """UTxO ledger fold. ``watched`` is the small config-loaded address
    set — broadcast so the filter never shuffles the block side (B12)."""

    def _apply(ctx) -> dict[str, DataFrame]:
        bv = ctx.blocks_view()
        wv = ctx.register_view("watched", watched.select("address", "name"))
        created = ctx.spark.sql(
            f"""
            SELECT /*+ BROADCAST(w) */
                   o.tx_hash, o.tx_index, o.slot, o.address,
                   w.name AS address_name, o.amount
            FROM (
              SELECT tx.tx_hash AS tx_hash, tx_index, slot,
                     out.address AS address, out.lovelace AS amount
              FROM {bv}
              LATERAL VIEW explode(txs) bt AS tx
              LATERAL VIEW posexplode(tx.outputs) ot AS tx_index, out
            ) o
            JOIN {wv} w ON o.address = w.address
            """
        )
        created_view = ctx.register_view("epoch_created", created)

        # spend matching (B14): known UTxOs = committed wallet_utxos ∪
        # this epoch's created rows (read-your-writes B17 — intra-epoch
        # spends resolve correctly). The epoch's inputs are small →
        # broadcast them and probe the big UTxO side, never the reverse
        # (no Exchange on the committed side). An old UTxO is always
        # spendable, so slot pruning can't help the probe: it reads the
        # whole committed table.
        inputs_df = ctx.spark.sql(
            f"""
            SELECT inp.tx_id AS tx_id, inp.index AS index,
                   slot AS spend_slot
            FROM {bv}
            LATERAL VIEW explode(txs) bt AS tx
            LATERAL VIEW explode(tx.inputs) it AS inp
            """
        )
        iv = ctx.register_view("epoch_inputs", inputs_df)
        committed_view = ctx.table_view("wallet_utxos")
        known = (
            f"(SELECT * FROM {committed_view}"
            f" UNION ALL SELECT * FROM {created_view})"
            if committed_view
            else created_view
        )
        # address/amount denormalized onto the spend row so the balance
        # fold is incremental (delta = created − spent per epoch)
        # without re-joining the full UTxO set; spend slot → rollbackable
        spends = ctx.spark.sql(
            f"""
            SELECT /*+ BROADCAST(i) */
                   u.tx_hash, u.tx_index, u.address_name, u.amount,
                   i.spend_slot AS slot
            FROM {known} u
            JOIN {iv} i ON u.tx_hash = i.tx_id AND u.tx_index = i.index
            """
        )
        return {"wallet_utxos": created, "utxo_spends": spends}

    return _apply


def make_balance_reducer(watched: DataFrame):
    """Per-epoch balance snapshot per watched address (B18 + B23),
    slot-stamped with the epoch tip so rollback retracts snapshots.

    **Incremental fold**: new snapshot = previous snapshot + (created −
    spent) since the previous snapshot's slot. The delta scan is
    manifest-pruned to the file-groups above ``prev_slot`` (typically
    the current epoch only), so per-epoch cost is O(epoch), flat in
    chain length — where a from-scratch anti-join recompute was
    O(chain) per epoch, O(chain²) for a sync. Every snapshot row covers
    every watched address (0-filled), so the previous snapshot is a
    complete balance vector; lovelace sums are integers, so the
    incremental fold is exactly the from-scratch result (oracle-checked
    through rollback/replay in test_lifecycle_e2e). The ``slot >
    prev_slot`` predicate — not "this epoch's blocks" — also makes
    mid-epoch rollbacks exact: surviving rows between the last
    surviving snapshot and the fork are swept into the next delta."""

    def _apply(ctx) -> dict[str, DataFrame]:
        hi = ctx.epoch_range[1]
        # control-plane: previous snapshot slot, from the epoch's
        # pinned manifest
        prev_slot = ctx.table_tip("watched_address_balances")
        created_view = ctx.table_view("wallet_utxos", min_slot=prev_slot + 1)
        if created_view is None:
            return {}
        spent_view = ctx.table_view("utxo_spends", min_slot=prev_slot + 1)
        watched_view = ctx.register_view("watched_full", watched)
        # every aggregate/prev side broadcasts (≤ one row per watched
        # address — the only broadcastable side of the left outers)
        prev_cte = (
            f"""prev AS (
              SELECT address_name, balance AS prev_balance
              FROM {ctx.table_view("watched_address_balances", min_slot=prev_slot)}
              WHERE slot = {prev_slot}
            ),"""
            if prev_slot >= 0
            else """prev AS (
              SELECT CAST(NULL AS STRING) AS address_name,
                     CAST(NULL AS BIGINT) AS prev_balance
              WHERE FALSE
            ),"""
        )
        # one SIGNED delta aggregate (created +amount, spent -amount)
        # instead of separate plus/minus CTEs — halves the joins and
        # aggregations on the epoch's slowest write (the balance
        # snapshot is the commit critical path at small batch sizes)
        spent_arm = (
            f"""UNION ALL
              SELECT address_name, -amount AS amt
              FROM {spent_view} WHERE slot > {prev_slot}"""
            if spent_view is not None
            else ""
        )
        snap = ctx.spark.sql(
            f"""
            WITH {prev_cte}
            delta AS (
              SELECT address_name, sum(amt) AS d FROM (
                SELECT address_name, amount AS amt
                FROM {created_view} WHERE slot > {prev_slot}
                {spent_arm}
              ) GROUP BY address_name
            )
            SELECT /*+ BROADCAST(p), BROADCAST(d) */
                   'balance_by_address' AS reducer,
                   w.name AS address_name,
                   w.address,
                   CAST({hi} AS BIGINT) AS slot,
                   coalesce(p.prev_balance, 0) + coalesce(d.d, 0) AS balance
            FROM {watched_view} w
            LEFT JOIN prev p  ON w.name = p.address_name
            LEFT JOIN delta d ON w.name = d.address_name
            """
        )
        return {"watched_address_balances": snap}

    return _apply


def build_example_registry(spark: SparkSession, watched: DataFrame) -> ReducerRegistry:
    reg = ReducerRegistry()
    reg.register(Reducer("block_tests", _blocks_reducer, tables=["block_tests"]))
    reg.register(
        Reducer("transaction_tests", _transactions_reducer, tables=["transaction_tests"])
    )
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
    return reg


def current_balances(spark: SparkSession, store) -> DataFrame | None:
    """Serving view: every watched address's balance in the newest
    snapshot (B28, the row the reference's balance reducer keeps per
    address).

    Exact from the newest snapshot alone: every snapshot holds one
    0-filled row per watched address (the balance reducer's ``prev``
    CTE relies on the same fact), so no latest-per-key window over
    all snapshots is needed. One manifest is pinned; its balance tip
    prunes the read to the groups reaching it, which ``read_arrow``
    reads in-process; the frame handed back is a local relation, so
    a ``.filter(...).collect()`` on it starts no Spark job. Its size
    is bounded by the watched set, not by chain length. An address
    removed from the watched set is absent from the newest snapshot
    and so is no longer served (a window over all snapshots kept
    serving its stale last balance)."""
    name = "watched_address_balances"
    manifest = store.current_manifest()
    groups = store.table_groups(name, manifest=manifest)
    if not groups:
        return None
    snaps = store.read_arrow(
        name, min_slot=max(g.max_slot for g in groups), manifest=manifest
    )
    if snaps is None:
        return None
    newest = snaps.filter(pc.equal(snaps["slot"], pc.max(snaps["slot"])))
    return spark.createDataFrame(
        newest.select(["address_name", "address", "slot", "balance"])
    )
