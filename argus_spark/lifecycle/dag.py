"""Reducer model + dependency DAG (SURVEY §2.A A7, A20).

A reducer is a named transform applied per epoch:

    apply(ctx) -> dict[table_name, DataFrame]   # rows to append

Every appended row MUST carry a ``slot`` column — the universal
rollback key (src/Argus.Sync/Data/Models/IReducerModel.cs:8-11).
Retraction is automatic: the engine deletes ``slot >= X`` from every
table the reducer owns.

Dependencies form a single-parent DAG (DependsOnAttribute.cs:8); roots
get their own processing chain; children run after parents within the
same epoch and may read the parent's uncommitted epoch output through
the ctx (read-your-writes, the ``.Local`` equivalent —
DependentDataConsumptionTest.cs:24-40).
"""

from __future__ import annotations

from collections import deque
from collections.abc import Callable
from dataclasses import dataclass, field


class GraphError(Exception):
    pass


@dataclass
class Reducer:
    name: str
    # (ReducerContext) -> dict[str, DataFrame].
    # THREADING CONTRACT: the driver invokes `apply` on worker threads,
    # concurrently with same-level peers (level-parallel plan build).
    # The DAG read contract (declared ancestors' pending rows visible,
    # everything else as-of the previous commit) is preserved, but any
    # Python state an apply closure shares across reducers — counters,
    # caches, non-thread-safe clients — must be thread-safe or
    # per-reducer.
    apply: Callable
    # Single parent, like [DependsOn(typeof(T))]. CONTRACT: a reducer
    # that reads another reducer's SAME-EPOCH uncommitted output
    # (ctx.table on its table) MUST declare it here — the driver runs
    # independent reducers level-parallel and only exposes declared
    # ancestors' pending rows within the epoch (exactly the reference's
    # read-your-writes guarantee, DependentDataConsumptionTest.cs:24-40;
    # an undeclared cross-read sees that table as of the previous
    # commit).
    depends_on: str | None = None
    tables: list[str] = field(default_factory=list)  # owned output tables


class ReducerRegistry:
    """Registration + validation + topological ordering (the Spark-side
    equivalent of assembly scan + ActiveReducers allow-list,
    Extensions/ReducerExtension.cs:21-138)."""

    def __init__(self) -> None:
        self._reducers: dict[str, Reducer] = {}

    def register(self, reducer: Reducer) -> "ReducerRegistry":
        if not reducer.name or not reducer.name.strip():
            raise GraphError("reducer name must be non-empty")
        if reducer.name in self._reducers:
            raise GraphError(f"duplicate reducer name: {reducer.name}")
        self._reducers[reducer.name] = reducer
        return self

    def with_allowlist(self, active: list[str] | None) -> "ReducerRegistry":
        """ActiveReducers allow-list: keep only listed reducers (and
        validate the survivors still form a closed DAG)."""
        if active is None:
            return self
        unknown = set(active) - set(self._reducers)
        if unknown:
            raise GraphError(f"allow-list names unknown reducers: {sorted(unknown)}")
        out = ReducerRegistry()
        for name in active:
            r = self._reducers[name]
            if r.depends_on is not None and r.depends_on not in active:
                raise GraphError(
                    f"reducer {name} depends on {r.depends_on} which is not active"
                )
            out.register(r)
        return out

    def validate(self) -> None:
        for r in self._reducers.values():
            if r.depends_on is not None and r.depends_on not in self._reducers:
                raise GraphError(
                    f"reducer {r.name} depends on unregistered {r.depends_on}"
                )
        # cycle check via parent walk (single-parent ⇒ cycles are loops)
        for r in self._reducers.values():
            seen = {r.name}
            cur = r.depends_on
            while cur is not None:
                if cur in seen:
                    raise GraphError(f"dependency cycle through {cur}")
                seen.add(cur)
                cur = self._reducers[cur].depends_on

    def roots(self) -> list[Reducer]:
        return [r for r in self._reducers.values() if r.depends_on is None]

    def topo_order(self) -> list[Reducer]:
        """BFS from roots, parents before children — the per-epoch
        execution order (CardanoIndexWorker.DependencyGraph.cs:8-96)."""
        self.validate()
        children: dict[str, list[str]] = {n: [] for n in self._reducers}
        for r in self._reducers.values():
            if r.depends_on is not None:
                children[r.depends_on].append(r.name)
        order: list[Reducer] = []
        q = deque(sorted(r.name for r in self.roots()))
        while q:
            name = q.popleft()
            order.append(self._reducers[name])
            q.extend(sorted(children[name]))
        if len(order) != len(self._reducers):
            raise GraphError("graph contains unreachable reducers (cycle?)")
        return order

    def topo_levels(self) -> list[list[Reducer]]:
        """Topo order grouped into dependency levels: a reducer in
        level i has its parent (if any) in a level < i, so reducers
        within one level are mutually independent. The driver builds a
        level's epoch plans CONCURRENTLY (plan building is Py4J/
        analysis-bound, not compute) and merges outputs in this list's
        deterministic order. Note the contract sharpening vs a purely
        sequential walk: a reducer only sees the uncommitted epoch
        output of reducers in EARLIER levels — i.e. of its declared
        ancestors — which is exactly the reference's read-your-writes
        guarantee (DependentDataConsumptionTest.cs:24-40 reads a
        declared parent's ``.Local``; undeclared cross-reads were never
        part of the contract)."""
        order = self.topo_order()
        level: dict[str, int] = {}
        out: list[list[Reducer]] = []
        for r in order:
            lvl = 0 if r.depends_on is None else level[r.depends_on] + 1
            level[r.name] = lvl
            while len(out) <= lvl:
                out.append([])
            out[lvl].append(r)
        return out

    def subgraph_of(self, root: str) -> list[str]:
        """All members of a root's chain (for safe intersection, A15)."""
        members = []
        for r in self.topo_order():
            cur: Reducer | None = r
            while cur is not None:
                if cur.name == root:
                    members.append(r.name)
                    break
                cur = self._reducers.get(cur.depends_on) if cur.depends_on else None
        return members

    def __iter__(self):
        return iter(self._reducers.values())

    def __len__(self) -> int:
        return len(self._reducers)

    def get(self, name: str) -> Reducer:
        return self._reducers[name]
