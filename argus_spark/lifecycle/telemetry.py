"""Telemetry — per-reducer progress + timing, queryable as DataFrames
(SURVEY §2.A A21).

The reference keeps concurrent dictionaries of per-reducer processing
times and latest slots, renders a TUI dashboard, and reports % progress
vs the node's effective tip (CardanoIndexWorker.Telemetry.cs:9-110,
Dashboard.cs:13-348). Here the same facts land in plain rows the
engine's own operators can query (avg time per reducer = B22, latest
slot = B20, progress vs tip = slot arithmetic B36) — the dashboard is
just a DataFrame away, and at scale the rows can be appended to a
metrics table like any other sink.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH_SCHEMA = (
    "epoch_id LONG, reducer STRING, lo_slot LONG, hi_slot LONG, "
    "n_blocks LONG, seconds DOUBLE, ts DOUBLE"
)
EVENT_SCHEMA = "ts DOUBLE, kind STRING, detail STRING, slot LONG"


@dataclass
class _EpochRow:
    epoch_id: int
    reducer: str
    lo_slot: int
    hi_slot: int
    n_blocks: int
    seconds: float
    ts: float


class Telemetry:
    """Accumulates epoch/reducer metrics; snapshot via :meth:`epochs_df`
    / :meth:`events_df` / :meth:`progress_df`."""

    def __init__(self) -> None:
        self._epochs: list[_EpochRow] = []
        self._events: list[tuple[float, str, str, int]] = []
        self._latest: dict[str, int] = {}

    # ---------------- recording (driver-side hooks) ----------------

    def record_epoch(
        self,
        epoch_id: int,
        lo: int,
        hi: int,
        n_blocks: int,
        reducer_seconds: dict[str, float],
    ) -> None:
        now = time.time()
        for name, secs in reducer_seconds.items():
            self._epochs.append(
                _EpochRow(epoch_id, name, lo, hi, n_blocks, secs, now)
            )
            self._latest[name] = max(self._latest.get(name, -1), hi)

    def record_event(self, kind: str, detail: str = "", slot: int = -1) -> None:
        self._events.append((time.time(), kind, detail, slot))

    # ---------------- queryable views ----------------

    def epochs_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (r.epoch_id, r.reducer, r.lo_slot, r.hi_slot, r.n_blocks, r.seconds, r.ts)
            for r in self._epochs
        ]
        return spark.createDataFrame(rows, EPOCH_SCHEMA)

    def events_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self._events, EVENT_SCHEMA)

    def summary_df(self, spark: SparkSession) -> DataFrame:
        """Per-reducer dashboard row: epochs, blocks, total/avg seconds,
        latest slot (B20/B22 over the metrics rows)."""
        return (
            self.epochs_df(spark)
            .groupBy("reducer")
            .agg(
                F.count("*").alias("epochs"),
                F.sum("n_blocks").alias("blocks"),
                F.sum("seconds").alias("total_s"),
                F.avg("seconds").alias("avg_s"),
                F.max("hi_slot").alias("latest_slot"),
            )
        )

    def progress_df(self, spark: SparkSession, tip_slot: int) -> DataFrame:
        """% progress vs the effective tip (Telemetry.cs:14-17: each
        reducer's latest slot over the max of tip and all reducers)."""
        eff = max([tip_slot, *self._latest.values()]) if self._latest else tip_slot
        rows = [
            (name, slot, eff, round(100.0 * max(slot, 0) / eff, 2) if eff > 0 else 0.0)
            for name, slot in sorted(self._latest.items())
        ]
        return spark.createDataFrame(
            rows, "reducer STRING, latest_slot LONG, tip_slot LONG, pct DOUBLE"
        )


def render_dashboard(
    spark: SparkSession,
    telemetry: Telemetry,
    tip_slot: int,
    width: int = 30,
    full: bool = True,
) -> str:
    """Text dashboard over the telemetry rows — the reference's TUI
    (CardanoIndexWorker.Dashboard.cs:13-348: per-reducer progress bar,
    %, latest slot, throughput). ``full=False`` is the reference's
    non-"Full" ``Sync:Dashboard:DisplayType`` mode (Dashboard.cs:18):
    sync progress only — reducer, %, latest slot. Rendering is
    driver-side formatting of the same summary/progress DataFrames any
    metrics sink would read; the collect is a handful of per-reducer
    rows (control-plane)."""
    prog = {
        r["reducer"]: r for r in telemetry.progress_df(spark, tip_slot).collect()
    }
    if not full:
        return "\n".join(
            f"{name:<24} {row['pct']:6.2f}% @ {row['latest_slot']}"
            for name, row in sorted(prog.items())
        )
    lines = [
        f"{'reducer':<24} {'progress':<{width + 9}} {'slot':>10} "
        f"{'blocks':>8} {'blk/s':>9} {'avg s/epoch':>12}"
    ]
    for r in telemetry.summary_df(spark).orderBy("reducer").collect():
        p = prog.get(r["reducer"])
        pct = p["pct"] if p else 0.0
        filled = int(round(width * pct / 100.0))
        bar = "#" * filled + "-" * (width - filled)
        bps = r["blocks"] / r["total_s"] if r["total_s"] else 0.0
        lines.append(
            f"{r['reducer']:<24} [{bar}] {pct:6.2f}% {r['latest_slot']:>10} "
            f"{r['blocks']:>8} {bps:>9.1f} {r['avg_s']:>12.3f}"
        )
    return "\n".join(lines)

