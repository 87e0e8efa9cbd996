"""Span recorder for the traced run.

Spans are kept in memory — name, start, end, parent, op id — and
written out when the run ends. Each layer boundary is recorded by
wrapping the layer's public function from the benchmark's own code
(:func:`install`); the program itself is not edited. A span also owns
a Spark job group, so the jobs and tasks a call launched are read back
from Spark's status tracker and attributed to the innermost span.

Self time is a span's duration minus the part of it covered by its
child spans. Along one op the self times therefore sum to the op's
root duration exactly — the check :func:`self_sum_error` reports.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = 0
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def self_sum_error(spans: list[Span]) -> float:
    """Largest |Σ self times of an op − its root span's duration| over
    all ops; zero up to float rounding when spans nest properly."""
    selfs = self_times(spans)
    sums: dict[int, float] = {}
    roots: dict[int, float] = {}
    for s, st in zip(spans, selfs):
        sums[s.op] = sums.get(s.op, 0.0) + st
        if s.parent is None:
            roots[s.op] = roots.get(s.op, 0.0) + s.duration
    return max((abs(sums[o] - roots.get(o, 0.0)) for o in sums), default=0.0)


class Recorder:
    """In-memory span store. ``active`` toggles recording, so one run
    can alternate traced and untraced cycles with the wrappers in
    place."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[int] = []
        self._op = 0
        self._pending: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op += 1
        idx = len(self.spans)
        group = f"pb-{self._op}-{idx}"
        s = Span(name, time.perf_counter(), parent=parent, op=self._op,
                 group=group, attrs=attrs)
        self.spans.append(s)
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
            self._pending.append(idx)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    top = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(top.group, top.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def resolve_jobs(self) -> None:
        """Read job and task counts for spans recorded since the last
        call. Call between ops, outside any timed region: it first
        waits for Spark's listener bus to drain, and the status tracker
        keeps only the most recent jobs."""
        if self.sc is None or not self._pending:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for idx in self._pending:
            s = self.spans[idx]
            for jid in tracker.getJobIdsForGroup(s.group):
                s.jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        s.tasks += stage.numCompletedTasks
        self._pending.clear()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**asdict(s), "self_s": st}) + "\n")


def wrap(recorder: Recorder, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with recorder.span(name):
            return fn(*args, **kwargs)

    return traced


# (module path, attribute, span name). Functions imported by name into
# another module are patched at each binding the program calls through.
# ``history.recent`` returns a lazy top-K, so its span is opened by the
# workload around the call and its collect instead. ``warehouse.read``
# and ``warehouse.register_views`` return lazy DataFrames too: their
# spans cover resolving the live version and listing its files; the
# scan runs inside the ``op.read.*`` span that collects the result.
LAYER_FUNCTIONS = (
    ("qms_datawarehouse_spark.sources.readers", "read_json_auto",
     "sources.readers.read_json_auto"),
    ("qms_datawarehouse_spark.engine", "sync_dataframe", "engine.sync_dataframe"),
    ("qms_datawarehouse_spark.engine", "clean_records", "transform.clean_records"),
    ("qms_datawarehouse_spark.engine", "merge_upsert_stats",
     "merge.merge_upsert_stats"),
    ("qms_datawarehouse_spark.operators.checkpoint", "get_last_synced",
     "checkpoint.get_last_synced"),
    ("qms_datawarehouse_spark.operators.checkpoint", "set_last_synced",
     "checkpoint.set_last_synced"),
    ("qms_datawarehouse_spark.operators.history", "record", "history.record"),
)
WAREHOUSE_METHODS = (
    ("read", "warehouse.read"),
    ("register_views", "warehouse.register_views"),
    ("write_version", "warehouse.write_version"),
    ("write_version_partial", "warehouse.write_version_partial"),
)


def install(recorder: Recorder) -> list[tuple[object, str, object]]:
    """Wrap every layer boundary; returns the undo list for
    :func:`uninstall`."""
    import importlib

    from qms_datawarehouse_spark.warehouse import ParquetWarehouse

    undo = []
    for module_path, attr, name in LAYER_FUNCTIONS:
        module = importlib.import_module(module_path)
        original = getattr(module, attr)
        undo.append((module, attr, original))
        setattr(module, attr, wrap(recorder, name, original))
    for attr, name in WAREHOUSE_METHODS:
        original = getattr(ParquetWarehouse, attr)
        undo.append((ParquetWarehouse, attr, original))
        setattr(ParquetWarehouse, attr, wrap(recorder, name, original))
    return undo


def uninstall(undo: list[tuple[object, str, object]]) -> None:
    for owner, attr, original in reversed(undo):
        setattr(owner, attr, original)
