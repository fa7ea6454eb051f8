"""The benchmark workloads, driven through the indexer's public entry
points. Each returns a ``Result`` the runner turns into metrics.

* ``backfill``  — closed loop through ``IndexDriver.run``
* ``tip_serve`` — open-loop feed files with reorgs into
  ``StreamingIndexer.run_continuous``, beside one closed-loop reader
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import chain_gen
import oracle
from tracing import Ledger, StoreProxy, Tracer, median, now, wrap_driver_run, wrap_reducers

from argus_spark.lifecycle.driver import ChainEvent, IndexDriver
from argus_spark.lifecycle.store import MANIFEST_DIR, ParquetStateStore
from argus_spark.reducers.examples import build_example_registry, current_balances
from argus_spark.sources.chain_feed import write_feed_file
from argus_spark.streaming.indexer import StreamingIndexer
from pyspark.sql import functions as F

HISTORY_BLOCKS = 1000  # blocks committed before the measured phase
# timed set-ups per run, each one epoch of the history (it must divide
# HISTORY_BLOCKS); setup_s is their median. Each leaves a file-group per
# table and a manifest, so the measured phase starts on a fragmented
# store; every further epoch would cost ~2 s of run time
SETUP_REPS = 4
DRAIN_TIMEOUT_S = 30.0
READER_JOB_GROUP = "perfbench-reader"


@dataclass
class Ctx:
    spark: object
    chain: chain_gen.Chain
    params: dict  # this workload's entry of workloads.json
    gen: dict  # generator parameters
    seconds: float
    seed: int
    tracer: Tracer
    work: str
    blocks_df: object
    watched_df: object


@dataclass
class Result:
    setup_s: list[float]
    ledger: Ledger
    t0: float
    ops_lat: list[float]  # seconds, the workload's foreground op
    ops_done: int
    ops_wall: float
    attempted: int
    failed: int
    blocks_expected: int
    store: object = None
    read_mismatches: int = 0
    late_max: float = 0.0
    backlog_max: int = 0
    jobs: int = 0
    driver_stats: list = field(default_factory=list)
    progress: list = field(default_factory=list)
    reads: dict = field(default_factory=dict)  # kind -> latencies (s)
    errors: list = field(default_factory=list)
    valid: bool = True
    invalid_reason: str = ""


def blocks_needed(params: dict, seconds: float) -> int:
    """Chain length a run can consume: history plus the measured phase."""
    rate = params.get("rate_bps") or params["max_bps"]
    return HISTORY_BLOCKS + int(rate * seconds) + 1


def _fwd(slots):
    return (ChainEvent("roll_forward", int(s)) for s in slots)


def setup(ctx: Ctx):
    """Back-fill the history in ``SETUP_REPS`` equal epochs, each by a
    store object, registry and driver built from nothing on the same store
    root (an indexer restarting to catch up); returns the store and the
    per-rep seconds."""
    path = os.path.join(ctx.work, "store")
    per_rep = HISTORY_BLOCKS // SETUP_REPS
    times = []
    for rep in range(SETUP_REPS):
        t0 = now()
        store = ParquetStateStore(path)
        reg = build_example_registry(ctx.spark, ctx.watched_df)
        drv = IndexDriver(ctx.spark, reg, store, ctx.blocks_df, batch_size=per_rep)
        drv.run(_fwd(ctx.chain.slots[rep * per_rep : (rep + 1) * per_rep]))
        times.append(now() - t0)
    return store, times


def _jobs(spark, group: str | None = None) -> int:
    """Spark jobs run so far in ``group`` (None: jobs outside any group)."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def backfill(ctx: Ctx) -> Result:
    p = ctx.params
    store, setup_s = setup(ctx)
    ledger = Ledger()
    proxy = StoreProxy(store, ledger, ctx.tracer)
    reg = build_example_registry(ctx.spark, ctx.watched_df)
    wrap_reducers(reg, ctx.tracer)
    drv = IndexDriver(ctx.spark, reg, proxy, ctx.blocks_df, batch_size=p["batch_size"])
    wrap_driver_run(drv, ctx.tracer)
    todo = ctx.chain.slots[HISTORY_BLOCKS:]
    pulled = 0
    jobs0 = _jobs(ctx.spark)
    t0 = now()
    deadline = t0 + ctx.seconds

    def events():
        nonlocal pulled
        for s in todo:
            t = now()
            if t >= deadline:
                return
            ledger.block(int(s), t)
            pulled += 1
            yield ChainEvent("roll_forward", int(s))

    errors = []
    try:
        drv.run(events())
    except Exception as e:  # a failed epoch fails its blocks; reported, not raised
        errors.append(repr(e))
    done = ledger.blocks_committed
    return Result(
        setup_s=setup_s, ledger=ledger, t0=t0, ops_lat=ledger.commit_lat,
        ops_done=done, ops_wall=max(ledger.last_publish - t0, 1e-9),
        attempted=pulled, failed=pulled - done,
        blocks_expected=HISTORY_BLOCKS + pulled,
        store=store, jobs=_jobs(ctx.spark) - jobs0,
        driver_stats=[drv.stats], errors=errors,
    )


class TipWriter(threading.Thread):
    """Open-loop feed generator: tip block ``i`` is due at ``t0 + i/rate``
    and is written (one feed file per due block) no matter how far the
    indexer lags. Each event's stamp is its due time, so a stall counts
    against every block due during it. Seeded reorgs roll back ``depth``
    blocks and re-deliver them in the same file."""

    def __init__(self, ctx: Ctx, ledger: Ledger, feed: str, t0: float, rate: float) -> None:
        super().__init__(daemon=True)
        self.ctx, self.ledger, self.feed = ctx, ledger, feed
        self.t0, self.rate = t0, rate
        self.h = HISTORY_BLOCKS
        self.reorgs = chain_gen.rollback_plan(
            dict(ctx.gen, rollback_every=ctx.params["rollback_every"]),
            int(rate * ctx.seconds) + 1,
            ctx.seed,
        )
        self.delivered = 0  # tip blocks delivered (highest index + 1)
        self.events = 0
        self.late_max = 0.0
        self.backlog: list[int] = []  # sampled once per due block
        self.error: str | None = None

    def run(self) -> None:
        try:
            self._run()
        except Exception as e:  # surfaces as failed events in the result
            self.error = repr(e)

    def _run(self) -> None:
        slots = self.ctx.chain.slots
        end = self.t0 + self.ctx.seconds
        seq = 0
        i = 0
        while True:
            due = self.t0 + i / self.rate
            if due >= end:
                return
            wait = due - now()
            if wait > 0:
                time.sleep(wait)
            self.late_max = max(self.late_max, now() - due)
            b = self.h + i
            evs = [(b, "roll_forward")]
            depth = self.reorgs.get(i)
            if depth:
                evs.append((b - depth, "roll_back"))
                evs.extend((j, "roll_forward") for j in range(b - depth + 1, b + 1))
            rows = []
            for j, action in evs:
                if action == "roll_forward":
                    self.ledger.block(int(slots[j]), due)
                    rows.append({"seq": seq, "action": action, "block_slot": int(slots[j])})
                else:
                    self.ledger.rollback(due)
                    rows.append(
                        {"seq": seq, "action": action, "rollback_type": "exclusive",
                         "rollback_slot": int(slots[j])}
                    )
                seq += 1
            write_feed_file(self.feed, i, rows)
            self.events += len(rows)
            self.delivered = i + 1
            self.backlog.append(self.ledger.backlog())
            i += 1

    def validity(self, trigger_s: float) -> str:
        """Why the run is invalid, or "" when the generator kept its
        schedule (never a whole block gap late) and the backlog did not
        keep growing. The backlog is a sawtooth that rises by ``rate``
        blocks a second while a trigger runs and drops at its publish; the
        first third of the run ramps up from empty, so the last third may
        average at most twice the middle third plus one median trigger's
        worth of blocks."""
        if self.late_max > 1.0 / self.rate:
            return f"generator ran {1000 * self.late_max:.0f} ms late"
        n = len(self.backlog) // 3
        if n:
            middle = sum(self.backlog[n : 2 * n]) / n
            last = sum(self.backlog[-n:]) / n
            if last > 2 * middle + self.rate * trigger_s:
                return f"backlog grew from {middle:.0f} to {last:.0f} blocks"
        return ""


def _start_tip(ctx: Ctx, store, ledger: Ledger):
    p = ctx.params
    proxy = StoreProxy(store, ledger, ctx.tracer)
    reg = build_example_registry(ctx.spark, ctx.watched_df)
    wrap_reducers(reg, ctx.tracer)
    feed = os.path.join(ctx.work, "feed")
    os.makedirs(feed, exist_ok=True)
    si = StreamingIndexer(
        ctx.spark, reg, proxy, ctx.blocks_df, feed, os.path.join(ctx.work, "ckpt"),
        batch_size=p["batch_size"],
    )
    wrap_driver_run(si.driver, ctx.tracer)
    q = si.run_continuous(processing_time=f"{p['trigger_ms']} milliseconds")
    # the query's first (empty) trigger initialises the source; wait for
    # it so query start-up stays out of the measured window
    deadline = now() + 60
    while q.lastProgress is None and q.isActive and now() < deadline:
        time.sleep(0.05)
    return proxy, si, q, feed


def batches(progress: list) -> list:
    """The progress reports of triggers that ran a batch."""
    return [x for x in progress if "addBatch" in x.get("durationMs", {})]


def _drain(ctx: Ctx, ledger: Ledger, q, writer: TipWriter) -> tuple[list[str], list]:
    """Wait until every delivered block committed (or the query died or
    the drain timed out), then stop the query."""
    errors = []
    writer.join()
    if writer.error:
        errors.append(writer.error)
    deadline = now() + DRAIN_TIMEOUT_S
    while ledger.backlog() and q.isActive and now() < deadline:
        time.sleep(0.02)
    progress = list(q.recentProgress)
    exc = q.exception()
    if exc is not None:
        errors.append(str(exc))
    q.stop()
    return errors, progress


class Reader(threading.Thread):
    """One closed-loop client: the next request is issued when the
    previous one returned. Keys are Zipf-skewed over a seeded ranking of
    the watched addresses and of the watched outputs created in the
    history (which no tip block can roll back or create)."""

    KINDS = ("balance", "utxo_probe", "unspent")

    def __init__(self, ctx: Ctx, proxy, t0: float) -> None:
        super().__init__(daemon=True)
        self.ctx, self.proxy, self.t0 = ctx, proxy, t0
        c = ctx.chain
        h = HISTORY_BLOCKS
        self.rng = np.random.default_rng([ctx.seed, 2])
        n_tx = int(np.searchsorted(c.tx_block, h))
        watched = np.isin(c.out_addr, c.watched_ids)
        self.hist_outs = np.flatnonzero(watched & (c.out_tx < n_tx))
        self.rng.shuffle(self.hist_outs)
        spent = np.zeros(len(c.out_tx), dtype=bool)
        spent[c.in_out[c.in_tx < n_tx]] = True
        self.spent_in_history = spent
        self.addr_order = self.rng.permutation(len(c.watched_ids))
        self.out_of_addr = {}
        wpos = np.searchsorted(c.watched_ids, c.out_addr)
        for o in np.flatnonzero(watched):
            self.out_of_addr.setdefault(int(wpos[o]), set()).add(o)
        self.key_of = {(c.tx_hashes[c.out_tx[o]], int(c.out_index[o])): o
                       for o in np.flatnonzero(watched)}
        self.lat: list[float] = []
        self.by_kind: dict[str, list[float]] = {k: [] for k in self.KINDS}
        self.attempted = self.failed = self.mismatches = 0
        self.wall = 0.0
        self.errors: list[str] = []

    def _zipf(self, n: int) -> int:
        s = float(self.ctx.params["key_zipf_s"])
        while True:
            k = int(self.rng.zipf(s)) - 1
            if k < n:
                return k

    def warm_up(self) -> None:
        """One untimed request of each kind, so the measured window does
        not pay first-use costs (plan caches, class loading)."""
        for kind in self.KINDS:
            getattr(self, "_" + kind)()

    def run(self) -> None:
        # the reads' Spark jobs get their own group, so they are not
        # counted as the writer's
        self.ctx.spark.sparkContext.setJobGroup(READER_JOB_GROUP, "perfbench reads")
        end = self.t0 + self.ctx.seconds
        n = 0
        while now() < end:
            # fixed round-robin mix: the kinds differ in cost, so a seeded
            # mix would move the median with the seed
            kind = self.KINDS[n % len(self.KINDS)]
            n += 1
            t = now()
            self.attempted += 1
            try:
                ok = getattr(self, "_" + kind)()
            except Exception as e:  # counted as a failed read
                ok = None
                if len(self.errors) < 5:
                    self.errors.append(repr(e))
            dt = now() - t
            self.lat.append(dt)
            self.by_kind[kind].append(dt)
            if not ok:
                self.failed += 1
                self.mismatches += ok is False
        self.wall = now() - self.t0

    def _balance(self) -> bool:
        c = self.ctx.chain
        a = int(self.addr_order[self._zipf(len(c.watched_ids))])
        name = c.watched_names[a]
        rows = self.ctx.tracer.call(
            "serve.balance",
            lambda: current_balances(self.ctx.spark, self.proxy)
            .filter(F.col("address_name") == name)
            .collect(),
            top=True,
        )
        return len(rows) == 1 and rows[0]["address"] == c.addresses[c.watched_ids[a]]

    def _utxo_probe(self) -> bool:
        c = self.ctx.chain
        o = int(self.hist_outs[self._zipf(len(self.hist_outs))])
        h, i = c.tx_hashes[c.out_tx[o]], int(c.out_index[o])
        rows = self.ctx.tracer.call(
            "serve.utxo_probe",
            lambda: self.proxy.read_table(self.ctx.spark, "wallet_utxos")
            .filter((F.col("tx_hash") == h) & (F.col("tx_index") == i))
            .collect(),
            top=True,
        )
        return len(rows) == 1 and rows[0]["amount"] == int(c.out_lovelace[o])

    def _unspent(self) -> bool:
        c = self.ctx.chain
        a = int(self.addr_order[self._zipf(len(c.watched_ids))])
        name = c.watched_names[a]

        def q():
            utxos = self.proxy.read_table(self.ctx.spark, "wallet_utxos").filter(
                F.col("address_name") == name
            )
            spends = self.proxy.read_table(self.ctx.spark, "utxo_spends")
            if spends is not None:
                utxos = utxos.join(
                    spends.select("tx_hash", "tx_index"), ["tx_hash", "tx_index"], "left_anti"
                )
            return utxos.select("tx_hash", "tx_index", "amount").collect()

        rows = self.ctx.tracer.call("serve.unspent", q, top=True)
        mine = self.out_of_addr.get(a, set())
        for r in rows:
            o = self.key_of.get((r["tx_hash"], int(r["tx_index"])))
            if o is None or o not in mine or self.spent_in_history[o]:
                return False
            if r["amount"] != int(c.out_lovelace[o]):
                return False
        return True


def tip_serve(ctx: Ctx) -> Result:
    """Open-loop tip writer into ``StreamingIndexer.run_continuous`` with
    one closed-loop reader beside it; the reads are the workload's ops."""
    p = ctx.params
    store, setup_s = setup(ctx)
    ledger = Ledger()
    proxy, si, q, feed = _start_tip(ctx, store, ledger)
    reader = Reader(ctx, proxy, 0.0)
    reader.warm_up()
    # the writer's jobs: the query runs its batches in a job group named
    # after its run id, and the driver's worker threads run theirs outside
    # any group (the reader has a group of its own)
    def writer_jobs():
        return _jobs(ctx.spark, str(q.runId)) + _jobs(ctx.spark)

    jobs0 = writer_jobs()
    t0 = reader.t0 = now()
    writer = TipWriter(ctx, ledger, feed, t0, p["rate_bps"])
    writer.start()
    reader.start()
    reader.join()
    errors, progress = _drain(ctx, ledger, q, writer)
    unpublished = writer.events - ledger.blocks_committed - len(ledger.rollback_lat)
    trigger_ms = [x["durationMs"]["triggerExecution"] for x in batches(progress)]
    invalid = writer.validity(median(trigger_ms) / 1000.0)
    return Result(
        setup_s=setup_s, ledger=ledger, t0=t0, ops_lat=reader.lat,
        ops_done=reader.attempted - reader.failed, ops_wall=max(reader.wall, 1e-9),
        attempted=writer.events + reader.attempted, failed=unpublished + reader.failed,
        blocks_expected=HISTORY_BLOCKS + writer.delivered,
        store=store, read_mismatches=reader.mismatches,
        late_max=writer.late_max, backlog_max=max(writer.backlog, default=0),
        jobs=writer_jobs() - jobs0, driver_stats=[si.driver.stats],
        progress=progress, reads=reader.by_kind, errors=errors + reader.errors,
        valid=not invalid, invalid_reason=invalid,
    )


WORKLOADS = {"backfill": backfill, "tip_serve": tip_serve}


def committed_state(spark, store) -> tuple[dict, dict]:
    """Per-table row counts and latest balances, read back through the
    store's public read path (untraced)."""
    counts = {}
    for t in ("block_tests", "transaction_tests", "wallet_utxos", "utxo_spends"):
        df = store.read_table(spark, t)
        counts[t] = 0 if df is None else df.count()
    bal = current_balances(spark, store)
    balances = {} if bal is None else {
        r["address_name"]: r["balance"] for r in bal.select("address_name", "balance").collect()
    }
    return counts, balances


def verify(ctx: Ctx, res: Result) -> int:
    exp = oracle.expected(ctx.chain, res.blocks_expected)
    counts, balances = committed_state(ctx.spark, res.store)
    return oracle.mismatch_rows(exp, counts, balances)


def store_shape(store) -> dict:
    """Manifest count and size, and the most file-groups any table has."""
    m = store.current_manifest()
    mdir = os.path.join(store.root, MANIFEST_DIR)
    files = [f for f in os.listdir(mdir) if f.endswith(".json")]
    return {
        "manifest_files": len(files),
        "manifest_bytes": len(json.dumps(m)),
        "groups_per_table_max": max((len(g) for g in m["tables"].values()), default=0),
    }
