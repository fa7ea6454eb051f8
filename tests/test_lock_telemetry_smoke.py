"""A19 single-writer lock, A21 telemetry, A22 smoke monitor, A2
adaptive depth — the operational surface around the core lifecycle."""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from argus_spark.lifecycle.lock import LockLostError, SingleInstanceLock
from argus_spark.lifecycle.smoke import SmokeMonitor
from argus_spark.lifecycle.store import ParquetStateStore, ReducerStateRow
from argus_spark.lifecycle.telemetry import Telemetry
from argus_spark.sources.chain_feed import adaptive_pipeline_depth


class TestSingleInstanceLock:
    """Mirrors PostgresSingleInstanceLock / MongoSingleInstanceLock
    contract tests (SingleInstanceLockTest.cs:11-17)."""

    def test_mutual_exclusion(self, tmp_path):
        a = SingleInstanceLock(str(tmp_path), lease_s=30)
        b = SingleInstanceLock(str(tmp_path), lease_s=30)
        assert a.try_acquire()
        assert not b.try_acquire()
        assert a.held() and not b.held()

    def test_reacquire_is_idempotent_for_owner(self, tmp_path):
        a = SingleInstanceLock(str(tmp_path))
        assert a.try_acquire()
        assert a.try_acquire()

    def test_release_frees(self, tmp_path):
        a = SingleInstanceLock(str(tmp_path))
        b = SingleInstanceLock(str(tmp_path))
        a.try_acquire()
        a.release()
        assert b.try_acquire()

    def test_expired_lease_stolen(self, tmp_path):
        a = SingleInstanceLock(str(tmp_path), lease_s=0.05)
        b = SingleInstanceLock(str(tmp_path), lease_s=30)
        a.try_acquire()
        time.sleep(0.08)
        assert b.try_acquire()
        assert not a.held()

    def test_renew_extends(self, tmp_path):
        a = SingleInstanceLock(str(tmp_path), lease_s=0.3)
        a.try_acquire()
        for _ in range(3):
            time.sleep(0.1)
            a.renew()
        assert a.held()

    def test_renew_after_loss_raises(self, tmp_path):
        a = SingleInstanceLock(str(tmp_path), lease_s=0.05)
        a.try_acquire()
        time.sleep(0.08)
        b = SingleInstanceLock(str(tmp_path))
        b.try_acquire()
        with pytest.raises(LockLostError):
            a.renew()

    def test_context_manager(self, tmp_path):
        with SingleInstanceLock(str(tmp_path)) as a:
            assert a.held()
        assert not a.held()

    def test_wait_times_out(self, tmp_path):
        a = SingleInstanceLock(str(tmp_path), lease_s=30)
        b = SingleInstanceLock(str(tmp_path))
        a.try_acquire()
        t0 = time.monotonic()
        assert not b.wait_for_acquisition(timeout_s=0.3, poll_s=0.05)
        assert time.monotonic() - t0 < 2.0

    def test_corrupt_lock_file_is_stealable(self, tmp_path):
        path = os.path.join(str(tmp_path), "_lock.json")
        with open(path, "w") as fh:
            fh.write("{not json")
        a = SingleInstanceLock(str(tmp_path))
        assert a.try_acquire()
        assert json.load(open(path))["owner"] == a.owner

    def test_double_steal_single_winner(self, tmp_path):
        """The TOCTOU the marker protocol closes: two processes both
        observe the same expired lease and both try to steal. Exactly
        one may end up holding; the loser must NOT unlink the winner's
        fresh lock."""
        dead = SingleInstanceLock(str(tmp_path), lease_s=0.01)
        dead.try_acquire()
        time.sleep(0.05)
        a = SingleInstanceLock(str(tmp_path), lease_s=30)
        b = SingleInstanceLock(str(tmp_path), lease_s=30)
        # both read the SAME expired lease before either steals
        cur_a = a._read()
        cur_b = b._read()
        assert a._steal(cur_a)
        # b's steal attempt runs after a already took over
        assert not b._steal(cur_b)
        assert a.held() and not b.held()

    def test_steal_loser_cannot_unlink_fresh_lock(self, tmp_path):
        """Directly: the slow stealer's unlink path must never remove a
        fresh lease created after its stale read (the lease content
        token no longer matches)."""
        dead = SingleInstanceLock(str(tmp_path), lease_s=0.01)
        dead.try_acquire()
        time.sleep(0.05)
        slow = SingleInstanceLock(str(tmp_path), lease_s=30)
        stale = slow._read()  # slow observes the expired lease... then stalls
        fast = SingleInstanceLock(str(tmp_path), lease_s=30)
        assert fast.try_acquire()  # fast steals and now holds a fresh lease
        assert not slow._steal(stale)
        assert fast.held() and not slow.held()

    def test_stale_steal_marker_expires(self, tmp_path):
        """A claimer that crashed mid-steal leaves its marker behind;
        after a lease interval the slot must be recoverable."""
        dead = SingleInstanceLock(str(tmp_path), lease_s=0.01)
        dead.try_acquire()
        time.sleep(0.05)
        a = SingleInstanceLock(str(tmp_path), lease_s=0.1)
        cur = a._read()
        marker = a._steal_marker_path(cur)
        with open(marker, "w"):
            pass  # simulate a crashed claimer's leftover marker
        old = time.time() - 1.0
        os.utime(marker, (old, old))
        # crashed claimer never unlinked the lease either; expire path:
        # first attempt clears the stale marker, then the steal succeeds
        a.try_acquire()
        assert a.wait_for_acquisition(timeout_s=2.0, poll_s=0.05)
        assert a.held()


class TestAdaptiveDepth:
    """Pins the exact reference table (AdaptivePipelineDepthTest.cs:5-20,
    N2NProvider.cs:263-279)."""

    @pytest.mark.parametrize(
        "gap,expected",
        [(0, 1), (4, 1), (20, 2), (100, 5), (500, 20), (2_000, 100)],
    )
    def test_maps_gap_to_depth_under_max_100(self, gap, expected):
        assert adaptive_pipeline_depth(100, gap) == expected

    def test_far_from_tip_clamps_to_max(self):
        assert adaptive_pipeline_depth(100, 10**9) == 100
        assert adaptive_pipeline_depth(3000, 10**9) == 3000

    def test_monotone_in_gap(self):
        depths = [adaptive_pipeline_depth(2000, g) for g in range(0, 60_000, 97)]
        assert depths == sorted(depths)
        assert min(depths) >= 1


class TestTelemetry:
    def test_epoch_rows_and_summary(self, spark):
        t = Telemetry()
        t.record_epoch(1, 0, 99, 100, {"a": 0.5, "b": 0.2})
        t.record_epoch(2, 100, 199, 100, {"a": 0.3, "b": 0.1})
        summary = {r["reducer"]: r for r in t.summary_df(spark).collect()}
        assert summary["a"]["epochs"] == 2
        assert summary["a"]["blocks"] == 200
        assert abs(summary["a"]["total_s"] - 0.8) < 1e-9
        assert summary["a"]["latest_slot"] == 199

    def test_progress_vs_tip(self, spark):
        t = Telemetry()
        t.record_epoch(1, 0, 50, 51, {"a": 0.1})
        rows = {r["reducer"]: r for r in t.progress_df(spark, tip_slot=100).collect()}
        assert rows["a"]["pct"] == 50.0
        # a reducer ahead of the reported tip caps the effective tip
        t.record_epoch(2, 51, 200, 150, {"a": 0.1})
        rows = {r["reducer"]: r for r in t.progress_df(spark, tip_slot=100).collect()}
        assert rows["a"]["pct"] == 100.0

    def test_events_recorded(self, spark):
        t = Telemetry()
        t.record_event("rollback", "exclusive", 42)
        rows = t.events_df(spark).collect()
        assert rows[0]["kind"] == "rollback" and rows[0]["slot"] == 42

    def test_render_dashboard(self, spark):
        from argus_spark.lifecycle.telemetry import render_dashboard

        t = Telemetry()
        t.record_epoch(1, 0, 49, 50, {"a": 0.5, "b": 0.25})
        out = render_dashboard(spark, t, tip_slot=100)
        lines = out.splitlines()
        assert lines[0].startswith("reducer")
        row_a = next(line for line in lines if line.startswith("a"))
        assert "49.00%" in row_a and "[" in row_a and "#" in row_a
        assert "100.0" in row_a  # 50 blocks / 0.5 s

    def test_render_dashboard_basic_mode(self, spark):
        """full=False = the reference's non-"Full" DisplayType
        (Dashboard.cs:18): sync progress only — no bars/throughput."""
        from argus_spark.lifecycle.telemetry import render_dashboard

        t = Telemetry()
        t.record_epoch(1, 0, 49, 50, {"a": 0.5, "b": 0.25})
        out = render_dashboard(spark, t, tip_slot=100, full=False)
        lines = out.splitlines()
        assert len(lines) == 2  # one line per reducer, no header
        assert lines[0].startswith("a") and "49.00%" in lines[0]
        assert "[" not in out and "#" not in out  # no progress bars


def _seed_states(store: ParquetStateStore, slots: dict[str, int]) -> None:
    states = {
        n: ReducerStateRow(name=n, created_at=0.0, start_point=None, resume_slot=s)
        for n, s in slots.items()
    }
    store.commit(appends={}, states=lambda: states, meta={"seed": True})


class TestSmokeMonitor:
    def test_passes_when_all_advance(self, tmp_path):
        store = ParquetStateStore(str(tmp_path))
        _seed_states(store, {"a": 10, "b": 10})
        mon = SmokeMonitor(store, ["a", "b"], min_slots=5, timeout_s=1, poll_s=0.05)
        start = {"a": 10, "b": 10}
        _seed_states(store, {"a": 20, "b": 16})
        rep = mon.run(start_slots=start)
        assert rep.ok and rep.exit_code == 0
        assert rep.advanced("a") == 10

    def test_fails_on_stall(self, tmp_path):
        store = ParquetStateStore(str(tmp_path))
        _seed_states(store, {"a": 10, "b": 10})
        mon = SmokeMonitor(store, ["a", "b"], min_slots=5, timeout_s=0.3, poll_s=0.05)
        start = {"a": 10, "b": 10}
        _seed_states(store, {"a": 20, "b": 12})  # b under min_slots
        rep = mon.run(start_slots=start)
        assert not rep.ok and rep.exit_code == 1
        assert rep.stalled == ["b"]

    def test_missing_reducer_counts_as_stalled(self, tmp_path):
        store = ParquetStateStore(str(tmp_path))
        mon = SmokeMonitor(store, ["ghost"], timeout_s=0.2, poll_s=0.05)
        rep = mon.run()
        assert rep.exit_code == 1 and rep.stalled == ["ghost"]


class TestTelemetryDriverIntegration:
    def test_driver_records_epochs_and_rollbacks(self, spark, tmp_path):
        from argus_spark.chain.synth import synth_blocks, synth_watched
        from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
        from argus_spark.reducers.examples import build_example_registry
        from tests.conftest import SF_SMOKE

        blocks = synth_blocks(spark, SF_SMOKE)
        watched = synth_watched(spark, SF_SMOKE)
        slots = [r.slot for r in blocks.select("slot").orderBy("slot").limit(20).collect()]
        t = Telemetry()
        store = ParquetStateStore(str(tmp_path / "store"))
        drv = IndexDriver(
            spark, build_example_registry(spark, watched), store, blocks,
            batch_size=10, max_delay_s=1e9, telemetry=t,
        )
        events = [ChainEvent("roll_forward", block_slot=s) for s in slots]
        events.append(
            ChainEvent("roll_back", rollback_slot=slots[9], rollback_type="exclusive")
        )
        drv.run(events)
        summary = {r["reducer"]: r for r in t.summary_df(spark).collect()}
        assert set(summary) == {r.name for r in drv._order}
        assert all(r["epochs"] >= 1 for r in summary.values())
        ev = [r for r in t.events_df(spark).collect() if r["kind"] == "rollback"]
        assert len(ev) == 1 and ev[0]["slot"] == slots[9] + 1


def test_example_indexer_end_to_end(spark):
    """The runnable example app (scripts/example_indexer.py) must stay
    green: reorg replay converges, smoke gate exits 0. Runs in-process
    (get_spark reuses the fixture session)."""
    import os
    import runpy
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "example_indexer.py",
    )
    mod = runpy.run_path(script, run_name="example")
    argv = sys.argv
    sys.argv = ["example_indexer.py", "/root/testdata/sf0.001", "150"]
    try:
        assert mod["main"]() == 0
    finally:
        sys.argv = argv


def test_example_indexer_fsck_gate_catches_injected_orphan(spark):
    """The exit sequence is smoke → fsck → exit code: a planted
    unreferenced file-group must flip the run to nonzero even though
    the smoke monitor itself is green (the reference's
    LiveSmokeMonitor exit contract, extended with integrity)."""
    import os
    import runpy
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "example_indexer.py",
    )
    mod = runpy.run_path(script, run_name="example")
    argv = sys.argv
    sys.argv = [
        "example_indexer.py", "/root/testdata/sf0.001", "60", "inject-orphan",
    ]
    try:
        assert mod["main"]() == 1
    finally:
        sys.argv = argv


def test_example_curation_end_to_end(spark):
    """The runnable curation pipeline (scripts/example_curation.py)
    must stay green: dedup → decontaminate → quality-curate → pack,
    with the token-conservation exit gate passing."""
    import os
    import runpy
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "example_curation.py",
    )
    mod = runpy.run_path(script, run_name="example")
    argv = sys.argv
    sys.argv = ["example_curation.py", "/root/testdata/sf0.001", "10"]
    try:
        assert mod["main"]() == 0
    finally:
        sys.argv = argv


class TestLeaseKeeper:
    def test_keeps_short_lease_alive(self, tmp_path):
        """Work running far past LeaseSeconds stays protected: the
        keeper renews at renew_s cadence, so a rival can never steal."""
        import time

        from argus_spark.lifecycle.lock import LeaseKeeper

        a = SingleInstanceLock(str(tmp_path), lease_s=0.3, renew_s=0.1)
        rival = SingleInstanceLock(str(tmp_path), lease_s=30)
        assert a.try_acquire()
        with LeaseKeeper(a) as k:
            deadline = time.monotonic() + 1.2  # 4 lease lifetimes
            while time.monotonic() < deadline:
                assert not rival.try_acquire()
                time.sleep(0.05)
            assert a.held() and not k.lost
        a.release()
        assert rival.try_acquire()

    def test_latches_lost_and_fires_callback(self, tmp_path):
        import time

        from argus_spark.lifecycle.lock import LeaseKeeper

        a = SingleInstanceLock(str(tmp_path), lease_s=0.2, renew_s=10)
        assert a.try_acquire()
        fired = []
        k = LeaseKeeper(a, on_lost=lambda: fired.append(1))
        # sabotage: force an immediate renewal attempt after expiry
        k.lock.renew_s = 0.3
        k.__enter__()
        time.sleep(0.6)  # lease (0.2s) expires before first renew (0.3s)
        k.stop()
        assert k.lost and fired == [1]


def test_example_datacard_end_to_end(spark):
    """The runnable data-card generator (scripts/example_datacard.py)
    must stay green: its exit gates are exact integer identities over
    the composed audit surface (keep ∪ dropped partitions the corpus,
    signal counts in range, τ-sweep monotone, copy counts capped)."""
    import os
    import runpy
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "example_datacard.py",
    )
    mod = runpy.run_path(script, run_name="example")
    argv = sys.argv
    sys.argv = ["example_datacard.py", "/root/testdata/sf0.001"]
    try:
        assert mod["main"]() == 0
    finally:
        sys.argv = argv
