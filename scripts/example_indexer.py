"""Runnable example indexer — the repo's twin of the reference's
Example project (src/Argus.Sync.Example: 8 reducers + models + a
bounded live-smoke monitor with CI exit codes, Example/README.md:40-75).

End to end: build the 4-reducer example DAG (blocks, transactions,
UTxO ledger, incremental balance snapshots) → feed it a synthetic
ordered chain with one scripted mid-stream reorg → commit epochs
atomically into a ParquetStateStore → print the telemetry dashboard
(per-reducer progress bars, the reference's TUI shape) and the serving
view (latest balance per watched address) → run the smoke monitor's
post-hoc progress assertion, vacuum retraction leftovers, and gate the
exit code on fsck.

Exit sequence mirrors the reference's LiveSmokeMonitor contract and
extends it: smoke (per-reducer progress) → vacuum (sweep groups the
reorg retracted) → store.fsck (manifest ↔ filesystem integrity: no
missing groups, no orphans, consistent windows) → exit 0 only if
smoke AND fsck pass.

Usage:
    python scripts/example_indexer.py [sf_dir] [n_blocks] [inject-orphan]
    # defaults: /root/testdata/sf0.001, 300 blocks, reorg at seq 200
    # "inject-orphan": plant an unreferenced file-group before the
    # fsck gate (self-test — the run must then exit nonzero)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_blocks = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    inject_orphan = len(sys.argv) > 3 and sys.argv[3] == "inject-orphan"

    from argus_spark.chain.synth import synth_chain_events, synth_watched
    from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
    from argus_spark.lifecycle.smoke import SmokeMonitor
    from argus_spark.lifecycle.store import ParquetStateStore
    from argus_spark.lifecycle.telemetry import Telemetry, render_dashboard
    from argus_spark.reducers.examples import (
        build_example_registry,
        current_balances,
    )
    from argus_spark.session import get_spark
    from argus_spark.sources.ingest import first_n_blocks

    spark = get_spark("argus_example_indexer")
    td = tempfile.mkdtemp(prefix="argus_example_")
    try:
        watched = synth_watched(spark, sf_dir).cache()
        blocks = first_n_blocks(spark, sf_dir, n_blocks)

        # Scripted reorg: after the 200th event, roll back to ~80% of
        # the chain (exclusive point — keep the point itself), then the
        # feed replays forward. MockChainSyncProvider.cs:108-134 shape.
        slots = [r.slot for r in blocks.select("slot").orderBy("slot").collect()]
        reorg_seq = min(200, len(slots) - 1)
        reorg_slot = slots[int(reorg_seq * 0.8)]
        events_df = synth_chain_events(
            spark, sf_dir, rollbacks=[(reorg_seq, reorg_slot, "exclusive")],
            limit=n_blocks,
        )
        events = [ChainEvent.from_row(r) for r in events_df.orderBy("seq").collect()]

        telemetry = Telemetry()
        store = ParquetStateStore(os.path.join(td, "store"))
        registry = build_example_registry(spark, watched)
        # Driver knobs come from an appsettings-shaped config — the
        # reference's exact key paths (lifecycle/config.py): a user's
        # existing appsettings.json drops in here via
        # IndexerConfig.from_json(path).
        from argus_spark.lifecycle.config import IndexerConfig

        cfg = IndexerConfig.from_dict(
            {
                "CardanoNodeConnection": {
                    "Hash": "genesis", "Slot": 0,
                    "MaxRollbackSlots": 10**12, "RollbackBuffer": 10,
                },
                "Sync": {
                    "Commit": {"BatchSize": 100, "MaxDelayMs": 10**12},
                    "SingleInstanceLock": {"Enabled": True, "LeaseSeconds": 30},
                    "Dashboard": {"DisplayType": "Full"},
                },
            }
        )
        registry = cfg.apply_allowlist(registry)
        lock = cfg.make_lock(store.root)
        if lock is not None and not lock.wait_for_acquisition(timeout_s=30):
            raise SystemExit("another indexer holds the store lock")
        try:
            driver = IndexDriver(
                spark, registry, store, blocks,
                telemetry=telemetry, **cfg.driver_kwargs(),
            )
            stats = driver.run(events)
        finally:
            if lock is not None:
                lock.release()

        tip = max(slots)
        print(render_dashboard(spark, telemetry, tip, full=cfg.dashboard_full()))
        print(
            f"\n{stats.blocks} blocks / {stats.epochs} epochs / "
            f"{stats.rollbacks} rollback(s) in {stats.wall_seconds:.2f}s "
            f"({stats.blocks / stats.wall_seconds:.0f} blk/s)"
        )

        serving = current_balances(spark, store)
        if serving is not None:
            print("\nTop balances (serving view):")
            for r in serving.orderBy(serving.balance.desc()).limit(10).collect():
                print(f"  {r['address_name']:<12} slot={r['slot']:>8} "
                      f"balance={r['balance']}")

        report = SmokeMonitor(
            store, expected=[r.name for r in registry], timeout_s=0
        ).run(start_slots={r.name: -1 for r in registry})
        print(f"\nsmoke: ok={report.ok} stalled={report.stalled}")

        # Maintenance before audit: groups retracted by the reorg stay
        # on disk as vacuum candidates (retraction is a manifest-level
        # group drop — O(reorg depth), no data rewrite); vacuum sweeps
        # them, after which a clean run has ZERO orphans and fsck is a
        # hard gate.
        swept = store.vacuum()
        print(f"vacuum: removed {swept} unreferenced group(s)")

        if inject_orphan:  # self-test: the fsck gate must catch this
            orphan = os.path.join(td, "store", "data", "wallet_utxos",
                                  "injected_orphan_group")
            os.makedirs(orphan, exist_ok=True)
            with open(os.path.join(orphan, "part-00000.parquet"), "w") as f:
                f.write("not a parquet file")

        fsck = store.fsck(spark)
        fsck_ok = fsck["ok"] and not fsck["orphans"]
        print(
            f"fsck: ok={fsck_ok} groups={fsck['groups_checked']} "
            f"errors={fsck['errors']} orphans={fsck['orphans']}"
        )
        return report.exit_code if fsck_ok else 1
    finally:
        shutil.rmtree(td, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
