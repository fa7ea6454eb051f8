"""Measurement plumbing: the commit ledger that turns publish times into
latencies, an in-memory span tracer, the store proxy that feeds both,
and a peak-RSS sampler for the process tree.

Spans are recorded only in traced runs; the ledger runs in both modes
because commit latency is an end-to-end metric. All spans are taken
around public calls from these files; nothing inside ``argus_spark`` is
instrumented.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import defaultdict, deque

now = time.monotonic


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    return float(v[max(0, math.ceil(q / 100.0 * len(v)) - 1)])


def median(values) -> float:
    return percentile(values, 50)


def tail(values) -> tuple[int, float]:
    """The highest percentile, in steps of 5, with at least ten samples
    beyond it, and its value (the median when there are too few)."""
    n = len(values)
    q = max(50, 5 * int(20 * (n - 10) / n)) if n else 50
    return q, percentile(values, q)


class Ledger:
    """Pending block stamps, matched to the commit that publishes them.

    A stamp is the block's due time at the generator (open loop) or the
    moment the driver pulled it (closed loop). A slot may be pending more
    than once when a reorg re-delivers it before the first delivery
    committed; its stamps leave in FIFO order, one per commit covering
    the slot, so each delivery is timed against its own commit."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._pending: dict[int, deque] = {}
        self._rollbacks: deque = deque()
        self.commit_lat: list[float] = []
        self.rollback_lat: list[float] = []
        self.blocks_committed = 0
        self.last_publish = 0.0

    def block(self, slot: int, stamp: float) -> None:
        with self._lock:
            self._pending.setdefault(slot, deque()).append(stamp)

    def rollback(self, stamp: float) -> None:
        with self._lock:
            self._rollbacks.append(stamp)

    def backlog(self) -> int:
        with self._lock:
            return sum(len(q) for q in self._pending.values())

    def published(self, t: float, meta: dict | None) -> None:
        meta = meta or {}
        with self._lock:
            if "epoch" in meta:
                lo, hi = meta["epoch"]
                for slot in [s for s in self._pending if lo <= s <= hi]:
                    q = self._pending[slot]
                    self.commit_lat.append(t - q.popleft())
                    self.blocks_committed += 1
                    if not q:
                        del self._pending[slot]
                self.last_publish = t
            elif "rollback_to" in meta and self._rollbacks:
                self.rollback_lat.append(t - self._rollbacks.popleft())
                self.last_publish = t


class Tracer:
    """In-memory spans ``(name, start, end, parent, tag)``. Disabled
    tracers record nothing and cost one attribute test per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = iter(range(1, 1 << 62))
        self._local = threading.local()
        self._lock = threading.Lock()
        # parent for spans opened on threads with no open span (the
        # driver's commit pool runs store.commit off the caller's thread)
        self.root: int | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self.book_s = 0.0  # time spent inside the tracer's own bookkeeping

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def call(self, name: str, fn, *args, tag=None, top=False, **kwargs):
        """Run ``fn`` inside a span. ``top`` marks a span with no parent
        even when the driver's run span is open (a client thread's
        request is not part of the driver's work)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        b0 = now()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else (None if top else self.root)
        sid = next(self._ids)
        stack.append(sid)
        b1 = now()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = now()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, b1, t1, parent, tag))
                self.book_s += (b1 - b0) + (now() - t1)

    def durations(self, name: str) -> list[float]:
        return [s[3] - s[2] for s in self.spans if s[1] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span's interval
        that its child spans cover (overlapping children merged)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sid, _n, t0, t1, parent, _tag in self.spans:
            if parent is not None:
                children[parent].append((t0, t1))
        out: dict[str, float] = defaultdict(float)
        for sid, name, t0, t1, _p, _tag in self.spans:
            covered, end = 0.0, t0
            for c0, c1 in sorted(children.get(sid, [])):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[name] += (t1 - t0) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sid, name, t0, t1, parent, tag in self.spans:
                fh.write(
                    json.dumps(
                        {"id": sid, "name": name, "start": t0, "end": t1,
                         "parent": parent, "tag": tag}
                    )
                    + "\n"
                )


class StoreProxy:
    """Stands in for a ``ParquetStateStore``: forwards every attribute,
    reports each publish to the ledger, and (traced) times the public
    ``commit``, ``read_table``, ``current_manifest``, ``table_groups`` and
    ``reducer_states`` calls and counts what the commits wrote."""

    def __init__(self, store, ledger: Ledger, tracer: Tracer) -> None:
        self._store = store
        self._ledger = ledger
        self._tracer = tracer
        # file-groups already counted; a commit's new groups are the ones
        # its returned manifest lists beyond these
        self._known = set(self._groups(store.current_manifest())) if tracer.enabled else set()

    def __getattr__(self, name):
        return getattr(self._store, name)

    def commit(self, *args, **kwargs):
        tr = self._tracer
        meta = kwargs.get("meta") or {}
        name = "store.retract_commit" if kwargs.get("retract_from") is not None else "store.commit"
        manifest = tr.call(name, self._store.commit, *args, tag=meta.get("epoch"), **kwargs)
        self._ledger.published(now(), meta)
        if tr.enabled:
            self._count_writes(manifest, name == "store.retract_commit")
        return manifest

    def read_table(self, *args, **kwargs):
        return self._tracer.call("store.read_table", self._store.read_table, *args, **kwargs)

    def current_manifest(self, *args, **kwargs):
        return self._tracer.call(
            "store.current_manifest", self._store.current_manifest, *args, **kwargs
        )

    def table_groups(self, *args, **kwargs):
        return self._tracer.call("store.table_groups", self._store.table_groups, *args, **kwargs)

    def reducer_states(self, *args, **kwargs):
        return self._tracer.call(
            "store.reducer_states", self._store.reducer_states, *args, **kwargs
        )

    @staticmethod
    def _groups(manifest: dict) -> dict[str, dict]:
        return {
            g["path"]: g for groups in manifest.get("tables", {}).values() for g in groups
        }

    def _count_writes(self, manifest: dict, retraction: bool) -> None:
        b0 = now()
        groups = self._groups(manifest)
        new = [g for p, g in groups.items() if p not in self._known]
        self._known = set(groups)
        tr = self._tracer
        tr.count("store.commits")
        tr.count("store.rows_written", sum(g["rows"] for g in new))
        files = 0
        for g in new:
            d = os.path.join(self._store.root, g["path"])
            files += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        tr.count("store.files_written", files)
        if retraction:
            tr.count("store.groups_rewritten", len(new))
        with tr._lock:
            tr.book_s += now() - b0


def wrap_reducers(registry, tracer: Tracer) -> None:
    """Time each registered reducer's apply callable (plan building)."""
    if not tracer.enabled:
        return
    for r in registry.topo_order():
        inner = r.apply

        def _apply(ctx, _inner=inner, _name=f"reducers.{r.name}.apply"):
            return tracer.call(_name, _inner, ctx, tag=list(ctx.epoch_range))

        r.apply = _apply


def wrap_driver_run(driver, tracer: Tracer) -> None:
    """Time ``IndexDriver.run`` on one driver instance; the run span is
    the parent of commits made on the driver's commit threads."""
    if not tracer.enabled:
        return
    inner = driver.run

    def _run(events):
        def _go():
            prev = tracer.root
            tracer.root = tracer._local.stack[-1]
            try:
                return inner(events)
            finally:
                tracer.root = prev

        return tracer.call("driver.run", _go)

    driver.run = _run


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the JVM included), sampled from /proc every ``PERIOD_S`` seconds."""

    PERIOD_S = 0.1

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in descendants(os.getpid(), include_self=True))
        self.peak_kb = max(self.peak_kb, total)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int, include_self: bool = False) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return ([root] if include_self else []) + out
