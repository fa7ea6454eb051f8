"""MultiRootDriver — one concurrent processor per root subgraph
(SURVEY §2.A; src/Argus.Sync/Workers/CardanoIndexWorker.DependencyGraph.cs:8-96:
the reference builds the dependency graph, then starts ONE chain
connection + processing task PER ROOT, so independent subgraphs sync,
checkpoint, and roll back at their own cadence).

The Spark shape: split the registry into per-root sub-registries
(``with_allowlist(subgraph_of(root))``), give each its own IndexDriver
over the SAME store, and run them on concurrent threads. Safety comes
from properties the store/driver already provide:

  * commits and compactions interleave without lost updates — manifest
    read/assembly/publish serializes under the store's publish lock,
    each re-reading the latest manifest (and ``_publish`` hard-fails on
    a version collision);
  * each driver pins its epoch's committed reads to one manifest and
    derives resume cursors from ITS OWN reducers' states, so foreign
    subgraphs' commits and states in the shared manifest don't confuse
    it;
  * rollback retraction and scheduled compaction are scoped to the
    subgraph's declared tables (``Reducer.tables``), and the registry
    rejects a table declared by two reducers, so one chain's reorg
    never deletes a different subgraph's rows, and one root's
    maintenance never merges (and so never vacuums) groups another
    root's open epoch still reads — the per-root chain-connection
    semantics, the invariant the reference imposes by construction
    (each reducer writes its own models).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from argus_spark.lifecycle.dag import GraphError, ReducerRegistry
from argus_spark.lifecycle.driver import DriverStats, IndexDriver


@dataclass
class MultiRootStats:
    per_root: dict[str, DriverStats] = field(default_factory=dict)

    @property
    def blocks(self) -> int:
        return sum(s.blocks for s in self.per_root.values())

    @property
    def epochs(self) -> int:
        return sum(s.epochs for s in self.per_root.values())


class MultiRootDriver:
    def __init__(
        self,
        spark: SparkSession,
        registry: ReducerRegistry,
        store,
        blocks_df: DataFrame,
        kwargs_by_root: dict[str, dict] | None = None,
        **driver_kwargs,
    ) -> None:
        """``driver_kwargs`` apply to every root's IndexDriver;
        ``kwargs_by_root`` overrides per root name — the reference's
        per-connection cadence (each root's worker picks its own batch
        sizing against its own chain connection)."""
        registry.validate()
        roots = registry.roots()
        if not roots:
            raise GraphError("registry has no roots")
        self.drivers: dict[str, IndexDriver] = {}
        for root in roots:
            sub = registry.with_allowlist(registry.subgraph_of(root.name))
            kw = dict(driver_kwargs)
            kw.update((kwargs_by_root or {}).get(root.name, {}))
            self.drivers[root.name] = IndexDriver(
                spark, sub, store, blocks_df, **kw
            )

    def run(self, events_by_root=None, events=None) -> MultiRootStats:
        """Run every root's processor concurrently.

        ``events`` — one shared event feed: every root consumes the
        full stream (the common case: all roots follow the same chain).
        ``events_by_root`` — per-root feeds with independent cadence
        and rollbacks (the reference's N connections shape).
        """
        if (events is None) == (events_by_root is None):
            raise ValueError("pass exactly one of events / events_by_root")
        if events is not None:
            shared = list(events)
            events_by_root = {name: shared for name in self.drivers}
        stats = MultiRootStats()
        with ThreadPoolExecutor(max_workers=len(self.drivers)) as ex:
            futs = {
                name: ex.submit(drv.run, list(events_by_root[name]))
                for name, drv in self.drivers.items()
            }
            for name, fut in futs.items():
                stats.per_root[name] = fut.result()
        return stats
