"""IndexDriver — the checkpointed, rollback-aware micro-batch engine
(SURVEY §2.A A8-A18; §3.1-3.3 lifecycle traces).

Consumes an ordered stream of chain events (roll_forward(block_slot) /
roll_back(slot, type)); folds blocks through the reducer DAG in
topological order; commits data + checkpoints atomically per epoch via
ParquetStateStore.

Commit triggers (A9, ReducerGraphProcessor.cs:166-173):
  * batch full (``batch_size`` blocks, default 500 — the measured
    throughput knee, CardanoIndexWorker.cs:55-60)
  * age > ``max_delay_s`` (default 1.0)
  * drain (end of feed / rollback arriving)

Empty epochs (A10): an epoch whose reducers output no rows writes no
file-group, but it still publishes one manifest carrying its
checkpoint advance, so a quiet period costs one fsync'd manifest per
epoch. Argus defers such commits to the next data-bearing one
(IBlockUnitOfWork.cs:70-80); here deferring saved nothing, because a
deferred checkpoint had to be republished by a commit at run end.

Rollback (A12): commit the open batch first (pre-fork blocks are
valid), then one atomic retraction commit — every reducer's declared
tables lose ``slot >= X``, every window rewinds — in topo order
semantics but a single manifest publish.

Resume (A14/A15): per-reducer skip slots from committed checkpoints;
a fresh dependent starts at its parent's position instead of genesis;
a root graph resumes from the minimum latest across its members.

Commits are synchronous: each epoch publishes on the driver thread
before the next epoch's plans are built. Argus pipelines its batch
commits to hide Postgres fsync latency
(docs/design/unified-branch-batch-commit.md:107-114); a local parquet
sink has no such latency to hide, and on local[N] overlapping epochs
measured slower and far less stable (cross-epoch write jobs racing
over shared cold caches gave 2-6x wall-clock swings). Within an epoch
work is concurrent: same-level reducers build plans in parallel, every
table writes concurrently, and the tip-points collect overlaps both.
Every committed read of an epoch is pinned to the manifest current when
the epoch started, so another root publishing mid-epoch on a shared
store cannot shift what a reducer sees.

Control flow (event sequencing, checkpoint windows) is driver-side
Python over tiny metadata; block payloads only ever move through
DataFrame transforms — nothing on the data path is collected.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from argus_spark.lifecycle.dag import Reducer, ReducerRegistry
from argus_spark.lifecycle.state import (
    DEFAULT_MAX_ROLLBACK_SLOTS,
    DEFAULT_WINDOW,
    Point,
    check_rollback_depth,
    latest_slot,
    normalize_rollback,
    window_roll_back,
    window_roll_forward,
)
from argus_spark.lifecycle.store import ParquetStateStore, ReducerStateRow

# Temp views are session-global, and MultiRootDriver runs per-root
# drivers on concurrent threads over ONE SparkSession — so every view a
# reducer registers must be namespaced per driver or two roots can
# silently bind each other's epoch plans (a root on epoch [100,600]
# analyzing over another root's [0,500] blocks). Each IndexDriver draws
# a process-unique namespace; ReducerContext prefixes every view with
# it. Plans are safe once built: spark.sql() inlines the view's
# analyzed plan at analysis time, so a later createOrReplaceTempView
# (next epoch, same driver) never mutates a plan already built.
_view_ns_counter = itertools.count()

# refcounted session-wide AQE disable (see IndexDriver.run docstring)
_aqe_lock = __import__("threading").Lock()
_aqe_state: dict[int, tuple[int, str | None]] = {}  # session id -> (count, saved)


def _aqe_acquire(spark: SparkSession) -> None:
    with _aqe_lock:
        sid = id(spark)
        count, saved = _aqe_state.get(sid, (0, None))
        if count == 0:
            try:
                saved = spark.conf.get("spark.sql.adaptive.enabled")
                spark.conf.set("spark.sql.adaptive.enabled", "false")
            except Exception:
                saved = None
        _aqe_state[sid] = (count + 1, saved)


def _aqe_release(spark: SparkSession) -> None:
    with _aqe_lock:
        sid = id(spark)
        count, saved = _aqe_state.get(sid, (1, None))
        if count <= 1:
            _aqe_state.pop(sid, None)
            if saved is not None:
                try:
                    spark.conf.set("spark.sql.adaptive.enabled", saved)
                except Exception:
                    pass
        else:
            _aqe_state[sid] = (count - 1, saved)


@dataclass
class ChainEvent:
    action: str  # 'roll_forward' | 'roll_back'
    block_slot: int | None = None
    rollback_slot: int | None = None
    rollback_type: str | None = None

    @staticmethod
    def from_row(row) -> "ChainEvent":
        return ChainEvent(
            action=row["action"],
            block_slot=row["block_slot"],
            rollback_slot=row["rollback_slot"],
            rollback_type=row["rollback_type"],
        )


class ReducerContext:
    """What a reducer sees during an epoch: the epoch's blocks (already
    filtered past its own checkpoint) and read-your-writes table access
    (B17 — committed sink state unioned with this epoch's uncommitted
    appends, the ``.Local`` + DB union,
    LovelaceBalanceByAddressReducer.cs:91-97)."""

    def __init__(
        self,
        spark: SparkSession,
        store: ParquetStateStore,
        blocks: DataFrame,
        pending: dict[str, list[DataFrame]],
        epoch_range: tuple[int, int],
        manifest: dict | None = None,
        view_ns: str = "g",
        sub_ns: str = "",
    ) -> None:
        self.spark = spark
        self.store = store
        self.blocks = blocks
        self._pending = pending
        self.epoch_range = epoch_range
        self._manifest = manifest
        # ``sub_ns`` (the reducer's name) further scopes view names
        # WITHIN a driver: same-level reducers build their plans on
        # concurrent threads, and two of them registering "blocks"
        # under the driver namespace alone would race exactly like the
        # cross-driver case the driver namespace exists for.
        if sub_ns:
            safe = "".join(c if c.isalnum() else "_" for c in sub_ns)
            view_ns = f"{view_ns}_{safe}"
        self.view_ns = view_ns

    def table(self, name: str, min_slot: int | None = None) -> DataFrame | None:
        """Committed snapshot ∪ this epoch's earlier reducers' pending
        outputs. Committed reads pin to the manifest the epoch started
        on, so a concurrent publish (another root on a shared store)
        cannot shift committed state mid-epoch."""
        committed = self.store.read_table(
            self.spark, name, min_slot, manifest=self._manifest
        )
        parts = list(self._pending.get(name, []))
        if committed is not None:
            parts.append(committed)
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def table_view(self, name: str, min_slot: int | None = None) -> str | None:
        """:meth:`table` registered as a temp view, for reducers that
        build their epoch plan with one ``spark.sql`` call (see
        reducers/examples.py — a SQL string analyzes JVM-side in one
        Py4J hop, where the equivalent DataFrame chain pays a round-
        trip per operator). Returns the view name, or None when the
        table has no committed or pending data."""
        df = self.table(name, min_slot)
        if df is None:
            return None
        return self.register_view(f"t_{name}", df)

    def blocks_view(self) -> str:
        """The epoch's blocks registered as a driver-namespaced temp
        view — what SQL-building reducers must use instead of a fixed
        literal name (two concurrent roots registering ``argus_blocks``
        would race, one building its plan over the other's epoch)."""
        return self.register_view("blocks", self.blocks)

    def register_view(self, name: str, df: DataFrame) -> str:
        """Register ``df`` as a temp view namespaced to this driver
        (``argus_{view_ns}_{name}``) and return the view name. Session-
        global temp views are shared across MultiRootDriver threads;
        the namespace makes concurrent per-root registration safe."""
        view = f"argus_{self.view_ns}_{name}"
        df.createOrReplaceTempView(view)
        return view

    def table_tip(self, name: str) -> int:
        """Highest ``max_slot`` of ``name``'s groups in the epoch's
        pinned manifest, or -1 when the table has never been written.
        An appended group records its epoch's slot range and an output
        that evaluated empty writes no group, so this is the tip of the
        newest epoch that wrote ``name``; a copy-on-write retraction
        records the range of the rows it kept. For a table stamped with
        its epoch's tip, like the balance snapshot, it is therefore the
        slot of the newest snapshot."""
        return max(
            (
                g.max_slot
                for g in self.store.table_groups(name, manifest=self._manifest)
            ),
            default=-1,
        )


@dataclass
class DriverStats:
    blocks: int = 0
    epochs: int = 0
    rollbacks: int = 0
    skipped: int = 0
    reducer_seconds: dict[str, float] = field(default_factory=dict)
    wall_seconds: float = 0.0


class IndexDriver:
    def __init__(
        self,
        spark: SparkSession,
        registry: ReducerRegistry,
        store: ParquetStateStore,
        blocks_df: DataFrame,
        batch_size: int = 500,
        max_delay_s: float = 1.0,
        window_k: int = DEFAULT_WINDOW,
        max_rollback_slots: int = DEFAULT_MAX_ROLLBACK_SLOTS,
        telemetry=None,  # optional lifecycle.telemetry.Telemetry (A21)
        compact_every: int | None = None,  # epochs between maintenance passes
        compact_min_groups: int = 8,  # only touch tables fragmented past this
    ) -> None:
        self.spark = spark
        self.registry = registry
        self.compact_every = compact_every
        self.compact_min_groups = compact_min_groups
        self.store = store
        self.blocks_df = blocks_df
        self.batch_size = batch_size
        self.max_delay_s = max_delay_s
        self.window_k = window_k
        self.max_rollback_slots = max_rollback_slots
        self.telemetry = telemetry
        # process-unique temp-view namespace (see _view_ns_counter)
        self.view_ns = f"d{next(_view_ns_counter)}"
        registry.validate()
        self._order = registry.topo_order()
        self._levels = registry.topo_levels()
        # Same-level reducers register temp views concurrently under a
        # per-reducer sub-namespace derived by SANITIZING the reducer
        # name (non-alphanumerics → "_"); two names that collide after
        # sanitization ("tx-tests" / "tx.tests") would share a
        # namespace and re-open the exact view race the namespace
        # prevents — reject at construction, not mid-epoch.
        sanitized: dict[str, str] = {}
        for r in self._order:
            s = "".join(c if c.isalnum() else "_" for c in r.name)
            if s in sanitized:
                raise ValueError(
                    f"reducer names {sanitized[s]!r} and {r.name!r} collide "
                    "after view-namespace sanitization; rename one"
                )
            sanitized[s] = r.name
        # each reducer's last committed checkpoint row, in topo order,
        # loaded once: a commit never re-reads the store for it, and the
        # driver replaces it only once a commit has published.
        # created_at stays None until the reducer's first commit.
        self._committed: dict[str, ReducerStateRow] = {}
        # pools created lazily at first flush (tests build many drivers
        # that never run); threads are reaped by executor atexit
        self._ctl_pool_ = None
        self._plan_pool_ = None
        self._load_state()
        self.stats = DriverStats()

    @property
    def _plan_pool(self):
        # level-parallel plan building (see _flush): one thread per
        # same-level reducer, capped — plan building is Py4J-bound, so
        # modest width already overlaps the JVM round-trips
        if self._plan_pool_ is None:
            from concurrent.futures import ThreadPoolExecutor

            width = min(8, max(len(lvl) for lvl in self._levels))
            self._plan_pool_ = ThreadPoolExecutor(max_workers=width)
        return self._plan_pool_

    @property
    def _ctl_pool(self):
        # one worker for the tip-points collect, so it overlaps the
        # epoch's plan building and data writes
        if self._ctl_pool_ is None:
            from concurrent.futures import ThreadPoolExecutor

            self._ctl_pool_ = ThreadPoolExecutor(max_workers=1)
        return self._ctl_pool_

    # ---------------- state / resume (A13-A15) ----------------

    def _load_state(self) -> None:
        states = self.store.reducer_states()
        for r in self._order:
            st = states.get(r.name) or ReducerStateRow(
                r.name, created_at=None, start_point=None
            )
            # exact committed floor: persisted resume cursor, falling back
            # to the window's newest point (pre-cursor manifests)
            mine = st.resume_slot
            wlatest = latest_slot(st.window())
            if wlatest is not None:
                mine = max(mine, wlatest)
            if mine < 0 and r.depends_on is not None:
                # A14 — fresh dependent of a synced parent starts at the
                # parent's position, not genesis (StartPoints.cs:98-180)
                mine = self._committed[r.depends_on].resume_slot
            self._committed[r.name] = replace(st, resume_slot=mine)

    def graph_resume_slot(self) -> int:
        """A15 — safe intersection: min of members' committed floors.
        Blocks at or below this are skipped on replay (idempotent
        at-least-once → exactly-once effect, B41)."""
        floors = [st.resume_slot for st in self._committed.values()]
        return min(floors) if floors else -1

    # ---------------- main loop ----------------

    def run(self, events) -> DriverStats:
        """Process an iterable of ChainEvent (or chain_events rows) in
        order. Returns stats. Restartable: committed state resumes.

        AQE is disabled for the duration of the run because the epoch
        plans run faster without it: they are small and explicitly
        sized (write_parts), so AQE's re-planning only adds work. In
        perfbench on a 4-core host, a build that left AQE on lost
        backfill ``ops_per_s`` in 6 of 6 paired seeds (change/parent
        ratios 0.63 to 0.95, median 0.85) and raised
        ``op_latency_p50_ms`` (median ratio 1.17).

        The toggle is session-wide: while any run is in progress, every
        query on the session plans without AQE, including readers such
        as perfbench's ``tip_serve`` reader and analytics queries. It
        is REFCOUNTED so concurrent per-root drivers (MultiRootDriver)
        on one session don't re-enable AQE under each other — the conf
        restores when the last running driver exits."""
        _aqe_acquire(self.spark)
        try:
            return self._run(events)
        finally:
            _aqe_release(self.spark)

    def _run(self, events) -> DriverStats:
        t0 = time.monotonic()
        pending: list[int] = []
        batch_opened = time.monotonic()
        graph_floor = self.graph_resume_slot()

        for ev in events:
            if not isinstance(ev, ChainEvent):
                ev = ChainEvent.from_row(ev)
            if ev.action == "roll_forward":
                if ev.block_slot is None:
                    raise ValueError("roll_forward event without a block_slot")
                if ev.block_slot <= graph_floor and not pending:
                    # replayed block below every member's checkpoint
                    self.stats.skipped += 1
                    continue
                if not pending:
                    batch_opened = time.monotonic()
                pending.append(ev.block_slot)
                full = len(pending) >= self.batch_size
                aged = (time.monotonic() - batch_opened) >= self.max_delay_s
                if full or aged:
                    self._flush(pending)
                    pending = []
            elif ev.action == "roll_back":
                # A12 — commit the open batch first: pre-fork blocks are valid
                if pending:
                    self._flush(pending)
                    pending = []
                self._apply_rollback(ev)
                graph_floor = self.graph_resume_slot()
            else:
                raise ValueError(f"unknown action {ev.action!r}")
        if pending:  # drain trigger (at tip / end of feed)
            self._flush(pending)
        self.stats.wall_seconds = time.monotonic() - t0
        return self.stats

    # ---------------- epoch flush (A8, A9, A11) ----------------

    def _flush(self, slots: list[int]) -> None:
        """Build one epoch's plans and commit it synchronously: data
        writes, the checkpoint advance and the manifest publish all
        land before this returns."""
        lo, hi = min(slots), max(slots)
        blocks = self.blocks_df.filter(
            (F.col("slot") >= lo) & (F.col("slot") <= hi)
        )
        n_blocks = len(slots)
        blocks_cached = n_blocks > 1
        if blocks_cached:
            # Reused by every reducer in the epoch AND by any write job
            # racing the tips collect; block-manager locks dedupe cold-
            # cache computation across the concurrent consumers.
            blocks = blocks.cache()

        # One manifest snapshot for the whole epoch: every committed
        # read and table tip resolves against it. Manifests are
        # immutable once written, so it stays readable throughout.
        snapshot = self.store.current_manifest()
        pending: dict[str, list[DataFrame]] = {}
        cached_out: list[DataFrame] = []
        epoch_times: dict[str, float] = {}

        # checkpoint advance source: the newest K points of the epoch
        # (folding newest K gives the same window as folding all N).
        # Control-plane (a few rows, not a data-path collect) — runs
        # concurrently with plan building and the data writes; the
        # commit resolves it only at manifest assembly.
        def _tips() -> list[Point]:
            return [
                Point(slot=row["slot"], hash=row["hash"])
                for row in blocks.select("slot", "hash")
                .orderBy(F.desc("slot"))
                .limit(self.window_k)
                .collect()
            ][::-1]

        tips_fut = self._ctl_pool.submit(_tips)

        def _apply_one(r: Reducer) -> tuple[str, dict[str, DataFrame], float]:
            floor = self._committed[r.name].resume_slot
            my_blocks = blocks.filter(F.col("slot") > floor) if floor >= lo else blocks
            ctx = ReducerContext(
                self.spark, self.store, my_blocks, pending, (lo, hi),
                manifest=snapshot, view_ns=self.view_ns, sub_ns=r.name,
            )
            t = time.monotonic()
            outputs = r.apply(ctx) or {}
            if stray := set(outputs) - set(r.tables):
                raise ValueError(
                    f"reducer {r.name!r} wrote undeclared tables {sorted(stray)}"
                )
            return r.name, outputs, time.monotonic() - t

        try:
            # Plan building runs LEVEL-parallel: reducers in one topo
            # level are independent (a child only ever reads declared
            # ancestors), and each apply is Py4J/analysis-bound — a
            # sequential walk paid ~0.3s/epoch of serialized SQL
            # analysis at batch-500 cadence (the measured fixed cost
            # that bounds blocks/s). Threads overlap the JVM round-
            # trips; outputs merge in deterministic topo-list order
            # below, and pending mutates only BETWEEN levels, so every
            # child still sees its parent's uncommitted epoch output
            # (read-your-writes B17) and never a same-level peer's.
            for lvl in self._levels:
                lvl_t0 = time.monotonic()
                if len(lvl) == 1:
                    results = [_apply_one(lvl[0])]
                else:
                    results = list(self._plan_pool.map(_apply_one, lvl))
                # Concurrent threads' per-reducer deltas include time
                # spent WAITING on each other (shared Py4J gateway +
                # GIL), so summed raw deltas over-report a level by up
                # to len(lvl)x. Rescale so the level's attributed times
                # sum to its wall clock, preserving relative
                # proportions — keeps reducer_seconds additive (Σ ≈
                # epoch plan-build wall) for telemetry/dashboards.
                lvl_wall = time.monotonic() - lvl_t0
                raw_sum = sum(dt for _, _, dt in results)
                scale = lvl_wall / raw_sum if raw_sum > 0 and len(lvl) > 1 else 1.0
                for name, outputs, dt in results:
                    dt *= scale
                    epoch_times[name] = dt
                    self.stats.reducer_seconds[name] = (
                        self.stats.reducer_seconds.get(name, 0.0) + dt
                    )
                    for tbl, df in outputs.items():
                        # Every output is cached: its own sink write and
                        # each dependent's plan share one
                        # materialization (block-manager write locks
                        # compute a cached partition once however many
                        # concurrent writes demand it).
                        df = df.cache()
                        cached_out.append(df)
                        pending.setdefault(tbl, []).append(df)

            appends: dict[str, tuple[DataFrame, int, int]] = {}
            for tbl, dfs in pending.items():
                df = dfs[0]
                for d in dfs[1:]:
                    df = df.unionByName(d)
                appends[tbl] = (df, lo, hi)

            rows: dict[str, ReducerStateRow] = {}

            def _states() -> dict[str, ReducerStateRow]:
                # runs inside store.commit after the data writes land;
                # the driver adopts the rows only once the commit returns
                tip_points = tips_fut.result()
                windows, resume = {}, {}
                for name, st in self._committed.items():
                    w = st.window()
                    for p in tip_points:
                        if p.slot > st.resume_slot:
                            w = window_roll_forward(w, p, self.window_k)
                    windows[name] = w
                    resume[name] = max(st.resume_slot, hi)
                rows.update(self._state_rows(windows, resume))
                return rows

            # Size output files to the epoch, not the session: a 500-
            # block epoch's outputs fit one row-group — writing them as
            # 32 tasks/files costs ~2x the write (and 32-way file fan-
            # out per table per epoch). ~1 output partition per 250
            # blocks. The cap divides the executor pool across the
            # epoch's CONCURRENT table writes — N tables × full width
            # saturates every task slot and serializes the "parallel"
            # writes into waves; the epoch's writes as a whole get the
            # pool. HOW the width is applied depends on the regime: an
            # epoch whose natural width fits the cap coalesces (free);
            # a bigger epoch repartitions — coalesce would propagate
            # the narrow width up through its compute-heavy lineage
            # (measured 4x knee collapse), while one small shuffle
            # decouples lineage parallelism from output width.
            par = self.spark.sparkContext.defaultParallelism
            width_cap = max(1, par // max(1, len(appends)))
            natural = max(1, n_blocks // 250)
            manifest = self.store.commit(
                appends=appends,
                states=_states,
                meta={"epoch": [lo, hi], "n_blocks": n_blocks},
                write_parts=min(natural, width_cap),
                write_shuffle=natural > width_cap,
            )
            self._committed.update(rows)
        finally:
            for df in cached_out:
                df.unpersist()
            if blocks_cached:
                blocks.unpersist()
        if self.telemetry is not None:
            self.telemetry.record_epoch(manifest["id"], lo, hi, n_blocks, epoch_times)
        self.stats.blocks += n_blocks
        self.stats.epochs += 1
        if self.compact_every and self.stats.epochs % self.compact_every == 0:
            self._maintain()

    def _maintain(self) -> None:
        """Scheduled maintenance: frozen-zone compaction + vacuum.
        Only file-groups wholly below the rollback horizon (tip −
        max_rollback_slots) are merged, so retraction cost stays
        O(reorg depth) while read amplification and file fan-out stay
        bounded in chain length — the Delta/Iceberg OPTIMIZE analogue,
        commit-atomic via the same manifest publish."""
        tip = max((st.resume_slot for st in self._committed.values()), default=-1)
        horizon = tip - self.max_rollback_slots
        if horizon <= 0:
            return
        for tbl in (t for r in self._order for t in r.tables):
            if len(self.store.table_groups(tbl)) >= self.compact_min_groups:
                self.store.compact(tbl, upto_slot=horizon)
        self.store.vacuum()

    def _state_rows(
        self, windows: dict[str, list[Point]], resume: dict[str, int]
    ) -> dict[str, ReducerStateRow]:
        """The checkpoint rows a commit publishes. The driver takes them
        as its state only after the commit returns: a commit that raises
        leaves windows, cursors and ``created_at`` as they were, so a
        retry on the same driver replays the unpublished blocks."""
        now = time.time()
        return {
            name: replace(
                st,
                created_at=now if st.created_at is None else st.created_at,
                latest_points=[p.as_dict() for p in windows[name]],
                resume_slot=resume[name],
            )
            for name, st in self._committed.items()
        }

    # ---------------- rollback (A5, A12, A16, A17) ----------------

    def _apply_rollback(self, ev: ChainEvent) -> None:
        delete_from = normalize_rollback(ev.rollback_slot, ev.rollback_type)
        current = max(
            (st.resume_slot for st in self._committed.values()), default=-1
        )
        check_rollback_depth(
            current if current >= 0 else None, delete_from, self.max_rollback_slots
        )
        self.rewind_to(delete_from)
        self.stats.rollbacks += 1
        if self.telemetry is not None:
            self.telemetry.record_event("rollback", ev.rollback_type or "", delete_from)

    def rewind_to(
        self,
        delete_from: int,
        meta: dict[str, Any] | None = None,
        overrides: dict[str, int] | None = None,
        exclude: list[str] | None = None,
    ) -> None:
        """A17 operator rewind / A12 reorg retraction: one atomic commit
        deleting ``slot >= delete_from`` from every reducer's declared
        tables + rewound windows.

        ``overrides`` / ``exclude`` are the reference's rollback-mode
        per-reducer controls (CardanoIndexWorker.cs:181-202, 256-261):
        ``overrides[reducer] = slot`` rewinds that reducer (its windows,
        resume cursor, and owned tables) to its own point instead of
        ``delete_from``; reducers in ``exclude`` are untouched. The
        whole multi-point retraction still publishes as ONE atomic
        commit. After a per-reducer rewind the graph resumes from the
        minimum floor (A15) and deeper-rewound reducers replay while
        their siblings skip already-applied blocks (per-reducer floor
        filter in _flush) — the same mechanics as dependent start-point
        adjustment. The driver adopts the rewound windows and cursors
        only once the commit publishes, so a rejected spec or a failed
        commit changes nothing."""
        overrides = dict(overrides or {})
        excluded = set(exclude or ())
        known = {r.name for r in self._order}
        unknown = (set(overrides) | excluded) - known
        if unknown:
            raise ValueError(f"unknown reducers in rewind spec: {sorted(unknown)}")
        if dup := set(overrides) & excluded:
            raise ValueError(f"reducers both overridden and excluded: {sorted(dup)}")
        # effective per-reducer cut
        eff = {
            r.name: overrides.get(r.name, delete_from)
            for r in self._order
            if r.name not in excluded
        }
        cuts = {
            t: eff[r.name] for r in self._order if r.name in eff for t in r.tables
        }
        windows = {n: st.window() for n, st in self._committed.items()}
        resume = {n: st.resume_slot for n, st in self._committed.items()}
        for name, cut in eff.items():
            windows[name] = window_roll_back(windows[name], cut, self.window_k)
            resume[name] = min(resume[name], cut - 1)
        rows = self._state_rows(windows, resume)
        self.store.commit(
            appends={},
            states=lambda: rows,
            retract_from=cuts,
            meta=meta or {"rollback_to": delete_from},
        )
        self._committed.update(rows)
