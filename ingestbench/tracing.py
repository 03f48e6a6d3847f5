"""In-memory span tracing for the traced run, installed from outside the
package.

The tracer wraps the package's public entry points at run time (nothing
in the package is edited) and records one span per call: name, start,
end, parent span and batch id. Spans stay in memory and are written out
when the run ends.

Layers that only build lazy DataFrames (the value converter, the
Debezium transform, the CDC last-wins collapse) cost nothing at call
time; their work runs inside the write jobs. For those the tracer keeps
the layer's input and output DataFrames on traced batches, and the
runner evaluates both into Spark's ``noop`` sink after the batch span has
closed. The layer's own cost is the output evaluation minus the input
evaluation.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import asdict, dataclass

# wrapped entry point -> span name; the prefix before the first dot is the
# layer, named after the package module that owns the entry point
BATCH_SPAN = "streaming.process_batch"
TABLE_METHODS = ("append", "upsert", "read", "metadata")
CATALOG_METHODS = ("load_table", "table_exists", "create_table_if_not_exists")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    batch: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Capture:
    """A lazy layer's input and output on one traced batch."""

    batch: int
    name: str
    before: object
    after: object


class Tracer:
    """Span recorder. ``active`` is switched per batch by the runner; when
    it is off every wrapper calls straight through."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.captures: list[Capture] = []
        self.commits: list[tuple[str, dict]] = []  # (table root, snapshot)
        self.active = False
        self.batch: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        # a span opened on a helper thread (the package's commit pools)
        # belongs to whatever the main thread is blocked in
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            span = Span(
                len(self.spans),
                name,
                parent.id if parent else None,
                self.batch,
                time.perf_counter(),
            )
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        span = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    # ---------------------------------------------------------- wrapping
    def _patch(self, owner, attr: str, replacement) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def _method(self, owner, attr: str, name: str, on_return=None) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            out = tracer.call(name, orig, *args, **kwargs)
            if on_return is not None and tracer.active:
                on_return(args, out)
            return out

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap SinkPipeline.process_batch, the LakehouseTable write/read/
        metadata entry points, the Catalog lookups and the CDC collapse."""
        from iceberg_kafka_connect_spark.operators import cdc
        from iceberg_kafka_connect_spark.sinks.catalog import Catalog
        from iceberg_kafka_connect_spark.sinks.table import LakehouseTable
        from iceberg_kafka_connect_spark.streaming.pipeline import (
            SinkPipeline,
        )

        self._method(SinkPipeline, "process_batch", BATCH_SPAN)

        def _commit(args, snap):
            if isinstance(snap, dict) and "manifest" in snap:
                with self._lock:
                    self.commits.append((args[0].root, snap))

        for m in TABLE_METHODS:
            self._method(
                LakehouseTable,
                m,
                f"table.{m}",
                _commit if m in ("append", "upsert") else None,
            )
        for m in CATALOG_METHODS:
            self._method(Catalog, m, f"catalog.{m}")
        # LakehouseTable.upsert imports collapse_last_wins from the module
        # at call time, so replacing the module attribute reaches it
        self._patch(
            cdc, "collapse_last_wins",
            self.lazy_layer("cdc.collapse", cdc.collapse_last_wins),
        )

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def lazy_layer(self, name: str, fn):
        """Wrap a DataFrame -> DataFrame layer: a span for the call (plan
        construction) and, on traced batches, its input and output."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            out = tracer.call(name, fn, df, *args, **kwargs)
            if tracer.active:
                tracer.captures.append(Capture(tracer.batch, name, df, out))
            return out

        return wrapper

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# ------------------------------------------------------------- analysis
def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.duration
        - _union_length([(c.start, c.end) for c in children.get(s.id, [])])
        for s in spans
    }


def check_batches(spans: list[Span], tol: float = 1e-3) -> list[str]:
    """Every child lies inside its parent, and per batch span the self
    times of its whole subtree add up to the batch duration plus the time
    concurrent siblings overlap. Returns the violations."""
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    errors = []
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None and (s.start < p.start - tol or s.end > p.end + tol):
            errors.append(f"span {s.id} {s.name} escapes parent {p.id}")

    def subtree(root: Span):
        out, todo = [], [root]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children.get(cur.id, []))
        return out

    for b in spans:
        if b.name != BATCH_SPAN:
            continue
        nodes = subtree(b)
        overlap = sum(
            sum(c.duration for c in children.get(n.id, []))
            - _union_length(
                [(c.start, c.end) for c in children.get(n.id, [])]
            )
            for n in nodes
        )
        total = sum(selfs[n.id] for n in nodes)
        if abs(total - overlap - b.duration) > tol + 1e-6 * len(nodes):
            errors.append(
                f"batch {b.batch}: self times {total:.6f}s - overlap "
                f"{overlap:.6f}s != batch span {b.duration:.6f}s"
            )
    return errors


def layer_summary(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Span name -> call count and total self time over all spans."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s.name, {"calls": 0, "self_s": 0.0})
        row["calls"] += 1
        row["self_s"] += selfs[s.id]
    return out


def per_batch(spans: list[Span]) -> dict[int, dict[str, dict[str, float]]]:
    """Batch id -> span name -> {calls, self_s}, over the spans that ran
    inside each batch span."""
    selfs = self_times(spans)
    out: dict[int, dict[str, dict[str, float]]] = {}
    for s in spans:
        if s.batch is None:
            continue
        row = out.setdefault(s.batch, {}).setdefault(
            s.name, {"calls": 0, "self_s": 0.0}
        )
        row["calls"] += 1
        row["self_s"] += selfs[s.id]
    return out
