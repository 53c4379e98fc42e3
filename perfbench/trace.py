"""Spans for the traced run.

The tracer wraps public functions and methods of the program's layers in
place (module attributes and class attributes; the source is untouched),
records one span per call, and turns the Spark jobs each operation
submitted into ``spark.job`` child spans read from Spark's status store.
Spans stay in memory until the run ends.

A span's *self* time is its duration minus the part of it covered by its
child spans; a layer's self time is the sum over its spans.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import math
import os
import sys
import time
from contextlib import contextmanager, nullcontext

PKG = "iceberg_hybrid_spark"

# Layers, longest prefix first: a span belongs to the first layer its
# name starts with.
LAYERS = (
    "lake.replication", "lake.catalog", "lake.table", "lake.gc",
    "session", "sources", "queries", "functions", "streaming", "control",
    "spark",
)

# (module, attribute, span name).  "Class.method" wraps a method.
TARGETS = (
    ("session", "get_spark", "session.get_spark"),
    ("sources.tables", "load_table", "sources.load_table"),
    ("lake.table", "HyTable.create", "lake.table.create"),
    ("lake.table", "HyTable.append", "lake.table.append"),
    ("lake.table", "HyTable.upsert_mor", "lake.table.upsert_mor"),
    ("lake.table", "HyTable.delete_where_mor", "lake.table.delete_where_mor"),
    ("lake.table", "HyTable.read", "lake.table.read"),
    ("lake.table", "HyTable.incremental_read", "lake.table.incremental_read"),
    ("lake.table", "HyTable.snapshots", "lake.table.snapshots"),
    ("lake.table", "HyTable.publish", "lake.table.publish"),
    ("lake.table", "HyTable.rewrite_data_files", "lake.table.rewrite_data_files"),
    ("lake.table", "HyTable.expire_snapshots", "lake.table.expire_snapshots"),
    ("lake.table", "HyTable.orphan_files", "lake.table.orphan_files"),
    ("lake.table", "HyTable._write_data_files", "lake.table.write_data_files"),
    ("lake.table", "HyTable._commit", "lake.table.commit"),
    ("lake.table", "file_md5", "lake.table.file_md5"),
    ("lake.table", "_parquet_column_stats", "lake.table.footer_stats"),
    ("lake.catalog", "HyCatalog.run_maintenance", "lake.catalog.run_maintenance"),
    ("lake.gc", "produce_candidates", "lake.gc.produce_candidates"),
    ("lake.gc", "apply_delete_plan", "lake.gc.apply_delete_plan"),
    ("lake.replication", "plan", "lake.replication.plan"),
    ("lake.replication", "copy_files", "lake.replication.copy_files"),
    ("lake.replication", "verify", "lake.replication.verify"),
    ("lake.replication", "replicate", "lake.replication.replicate"),
    ("lake.replication", "audit_closure", "lake.replication.audit_closure"),
    ("streaming.ingest", "dedup_ingest_batch", "streaming.dedup_ingest_batch"),
    ("control.sync", "MultiRegionCoordinator.coordinate_write",
     "control.sync.coordinate_write"),
    ("control.sync", "MultiRegionCoordinator.process_pending_events",
     "control.sync.process_pending_events"),
    ("control.router", "ReadRouter.route_read", "control.router.route_read"),
    ("control.tokens", "TokenStore.save_token", "control.tokens.save_token"),
    ("control.tokens", "TokenStore.load_token", "control.tokens.load_token"),
    ("control.registry", "Registry.update_region_status",
     "control.registry.update_region_status"),
)

# Every public function defined in these modules is wrapped as well.
FUNCTION_MODULES = (
    "functions.dedup", "functions.similarity", "functions.text",
    "functions.sketch", "functions.contamination", "functions.skew",
    "functions.bpe",
)


def _probe_commit(args, kwargs, snap):
    table = args[0]
    return {"meta_bytes": os.path.getsize(table._version_path(snap.sequence_number))}


def _probe_plan(args, kwargs, todo):
    src, target_seq = args[0], args[2] if len(args) > 2 else kwargs.get("target_seq")
    snap = src.snapshot_by_seq(target_seq) if target_seq is not None else src.current_snapshot()
    n = len(snap.manifest) if snap else 0
    return {"files_to_copy": len(todo), "files_skipped": n - len(todo)}


def _probe_copy(args, kwargs, metrics):
    return {"files_copied": metrics.files_copied, "bytes_copied": metrics.bytes_copied}


def _probe_verify(args, kwargs, _):
    snap = args[1]
    sample = args[2] if len(args) > 2 else kwargs.get("sample_fraction")
    checksums = args[3] if len(args) > 3 else kwargs.get("checksums")
    if checksums is None:
        checksums = sample is None
    files = list(snap.manifest)
    if sample is not None:  # the L0 tier checks a prefix, as verify() does
        files = files[:max(1, min(len(files), math.ceil(len(files) * sample)))]
    return {"files_verified": len(files),
            "bytes_hashed": sum(f.size_bytes for f in files) if checksums else 0}


def _probe_rewrite(args, kwargs, snap):
    return {"bytes_written": sum(f.size_bytes for f in snap.manifest)}


# Counters read off a wrapped call's arguments and result.
PROBES = {
    "lake.table.commit": _probe_commit,
    "lake.replication.plan": _probe_plan,
    "lake.replication.copy_files": _probe_copy,
    "lake.replication.verify": _probe_verify,
    "lake.table.rewrite_data_files": _probe_rewrite,
}


def layer_of(name: str) -> str:
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            return layer
    return "other"


class Span:
    __slots__ = ("sid", "parent", "op", "name", "t0", "t1", "attrs")

    def __init__(self, sid, parent, op, name, t0, t1=0, attrs=None):
        self.sid, self.parent, self.op, self.name = sid, parent, op, name
        self.t0, self.t1, self.attrs = t0, t1, attrs or {}

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) / 1e6

    def to_json(self) -> dict:
        return {"id": self.sid, "parent": self.parent, "op": self.op,
                "name": self.name, "start_ns": self.t0, "end_ns": self.t1,
                **({"attrs": self.attrs} if self.attrs else {})}


class NullTracer:
    """Stand-in for untraced runs: every hook is a no-op."""

    enabled = False
    active = False
    spark = None

    def op(self, kind):
        return nullcontext()

    def span(self, name, **attrs):
        return nullcontext()

    def paused(self):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self):
        self.spark = None  # set once the session is up
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: str | None = None
        self._ops = 0
        self._paused = 0
        self._installed: list[tuple[object, str, object]] = []
        self.tracer_ns = 0  # time spent inside the tracer's own bookkeeping

    @property
    def active(self) -> bool:
        return not self._paused

    # ---- recording -----------------------------------------------------

    def _open(self, name, attrs=None) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, self._op, name, time.time_ns(), 0, attrs)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.t1 = time.time_ns()
        self._stack.pop()

    @contextmanager
    def span(self, name, **attrs):
        if self._paused:
            yield None
            return
        s = self._open(name, attrs)
        try:
            yield s
        finally:
            self._close(s)

    @contextmanager
    def op(self, kind):
        """One client operation: a root span plus its own Spark job group,
        so the jobs it submits can be found in the status store."""
        if self._paused:
            yield None
            return
        self._ops += 1
        self._op = f"{kind}#{self._ops}"
        t = time.perf_counter_ns()
        self.spark.sparkContext.setJobGroup(self._op, kind)
        self.tracer_ns += time.perf_counter_ns() - t
        try:
            with self.span(f"op.{kind}") as s:
                yield s
        finally:
            self._op = None
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def paused(self):
        """Calls the benchmark itself makes (checks, counters) record nothing."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    # ---- wrapping ------------------------------------------------------

    def _wrap(self, fn, name):
        tracer = self
        probe = PROBES.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._paused:
                return fn(*args, **kwargs)
            t = time.perf_counter_ns()
            s = tracer._open(name)
            tracer.tracer_ns += time.perf_counter_ns() - t
            try:
                out = fn(*args, **kwargs)
            finally:
                t = time.perf_counter_ns()
                tracer._close(s)
                tracer.tracer_ns += time.perf_counter_ns() - t
            if probe is not None:
                t = time.perf_counter_ns()
                tracer._paused += 1
                try:
                    s.attrs.update(probe(args, kwargs, out))
                finally:
                    tracer._paused -= 1
                tracer.tracer_ns += time.perf_counter_ns() - t
            return out

        traced.__perfbench_original__ = fn
        return traced

    def install(self) -> None:
        """Wrap every target, and rebind each module-level alias of a
        wrapped function (``from x import f`` copies) to the wrapper."""
        importlib.import_module(f"{PKG}.queries").all_specs()  # load the registry
        for mod in FUNCTION_MODULES:
            importlib.import_module(f"{PKG}.{mod}")
        targets = list(TARGETS)
        for mod_name in FUNCTION_MODULES:
            mod = sys.modules[f"{PKG}.{mod_name}"]
            for attr, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not attr.startswith("_")
                        and obj.__module__ == mod.__name__):
                    targets.append((mod_name, attr, f"{mod_name}.{attr}"))
        replaced: dict[int, object] = {}
        for mod_name, attr, name in targets:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, _, leaf = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            orig = inspect.getattr_static(holder, leaf)
            wrapped = self._wrap(orig, name)
            setattr(holder, leaf, wrapped)
            self._installed.append((holder, leaf, orig))
            if not owner:
                replaced[id(orig)] = wrapped
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PKG) or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                w = replaced.get(id(obj))
                if w is not None and obj is not w:
                    setattr(mod, attr, w)
                    self._installed.append((mod, attr, obj))

    def uninstall(self) -> None:
        for holder, leaf, orig in reversed(self._installed):
            setattr(holder, leaf, orig)
        self._installed.clear()

    # ---- Spark status store ------------------------------------------

    def collect_spark(self) -> None:
        """Turn every job of a traced operation into a ``spark.job`` span,
        child of the innermost span open when the job was submitted."""
        sc = self.spark.sparkContext
        time.sleep(0.5)  # let the listener bus drain the last job events
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        by_op: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.op is not None:
                by_op.setdefault(s.op, []).append(s)
        it = jobs.iterator()
        new = []
        while it.hasNext():
            j = it.next()
            group = j.jobGroup()
            if not group.isDefined() or group.get() not in by_op:
                continue
            if not j.submissionTime().isDefined() or not j.completionTime().isDefined():
                continue
            t0 = j.submissionTime().get().getTime() * 1_000_000
            t1 = j.completionTime().get().getTime() * 1_000_000
            stages = j.stageIds()
            attrs = {"job_id": j.jobId(), "stages": 0, "tasks": 0,
                     "input_bytes": 0, "shuffle_bytes": 0, "run_ms": 0}
            for i in range(stages.size()):
                try:
                    st = store.lastStageAttempt(stages.apply(i))
                except Exception:  # skipped stage: never ran, no data
                    continue
                if not st.submissionTime().isDefined():
                    continue
                attrs["stages"] += 1
                attrs["tasks"] += st.numTasks()
                attrs["input_bytes"] += st.inputBytes()
                attrs["shuffle_bytes"] += st.shuffleReadBytes()
                attrs["run_ms"] += st.executorRunTime()
            parent = _innermost(by_op[group.get()], t0)
            new.append(Span(0, parent.sid, parent.op, "spark.job", t0, t1, attrs))
        for s in sorted(new, key=lambda s: s.t0):
            s.sid = len(self.spans)
            self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.to_json()) + "\n")


def _innermost(spans: list[Span], t_ns: int) -> Span:
    """Deepest span of one operation open at ``t_ns`` (spans are in open
    order, so the last one containing the instant is the innermost)."""
    best = spans[0]
    for s in spans:
        if s.t0 <= t_ns <= s.t1:
            best = s
    return best


def _covered(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class SpanIndex:
    """Aggregates over a finished span list."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def self_ns(self, s: Span) -> int:
        kids = [(c.t0, c.t1) for c in self.children.get(s.sid, ())]
        return (s.t1 - s.t0) - _covered(kids, s.t0, s.t1)

    def descendants(self, s: Span):
        stack = list(self.children.get(s.sid, ()))
        while stack:
            c = stack.pop()
            yield c
            stack.extend(self.children.get(c.sid, ()))

    def spark_jobs(self, s: Span) -> list[Span]:
        return [c for c in self.descendants(s) if c.name == "spark.job"]

    def spark_ns(self, s: Span) -> int:
        return _covered([(j.t0, j.t1) for j in self.spark_jobs(s)], s.t0, s.t1)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def _in_ops(self):
        return (s for s in self.spans if s.op is not None and not s.name.startswith("op."))

    def layer_self_ms(self) -> dict[str, float]:
        """Self time per layer, over the spans of client operations."""
        out: dict[str, float] = {}
        for s in self._in_ops():
            layer = layer_of(s.name)
            out[layer] = out.get(layer, 0.0) + self.self_ns(s) / 1e6
        return out

    def layer_calls(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self._in_ops():
            out[layer_of(s.name)] = out.get(layer_of(s.name), 0) + 1
        return out
