"""The traced run's instruments, all outside the program: span wrappers
patched over public functions, a Spark job group per benchmark op,
Spark's own event log, and the JVM's codegen counters.

A span records name, start, end and its parent span on the same
thread. A layer's self time is its span minus the spans nested in it.
The tracer also times its own bookkeeping, which is the basis of
``trace.overhead_pct``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from harness import tree_bytes_files

# span name -> (module path, attribute owner, attribute). Patched where
# the caller looks the name up: table.py and facets.py import
# parse_filter into their own namespaces; scan_df imports
# segment_overlaps from expr.prune at call time; Table.query imports
# compute_facets from operators.facets at call time.
_SPANS = {
    "server.handle": ("vectordb_spark.server", "EngineAPI", "handle"),
    "catalog.table_open": ("vectordb_spark.catalog", "Database", "table"),
    "expr.parse": ("vectordb_spark.table", None, "parse_filter"),
    "expr.parse_facets": ("vectordb_spark.operators.facets", None, "parse_filter"),
    "table.df": ("vectordb_spark.table", "Table", "df"),
    "table.scan_df": ("vectordb_spark.table", "Table", "scan_df"),
    "table.search_df": ("vectordb_spark.table", "Table", "search_df"),
    "table.query": ("vectordb_spark.table", "Table", "query"),
    "table.get": ("vectordb_spark.table", "Table", "get"),
    "table.insert": ("vectordb_spark.table", "Table", "insert"),
    "table.insert_df": ("vectordb_spark.table", "Table", "insert_df"),
    "table.delete": ("vectordb_spark.table", "Table", "delete"),
    "table.compact": ("vectordb_spark.table", "Table", "compact"),
    "table.vacuum": ("vectordb_spark.table", "Table", "vacuum"),
    "ann.refresh": ("vectordb_spark.table", "Table", "refresh_index"),
    "ann.search": ("vectordb_spark.table", "Table", "search_indexed_df"),
    "text.refresh": ("vectordb_spark.table", "Table", "refresh_text_index"),
    "text.search": ("vectordb_spark.table", "Table", "search_text_df"),
    "sparse.refresh": ("vectordb_spark.table", "Table", "refresh_sparse_index"),
    "sparse.search": ("vectordb_spark.table", "Table", "search_sparse_indexed_df"),
    "facets": ("vectordb_spark.operators.facets", None, "compute_facets"),
}
_SNAPSHOT = ("table.df", "table.scan_df", "table.search_df")
_WRITES = ("table.insert", "table.insert_df", "table.delete", "table.compact")


@dataclass
class Span:
    name: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    """One benchmark operation, tied to Spark jobs by its job group."""

    kind: str
    group: str
    t0_ms: float
    t1_ms: float = 0.0
    compiles: int = 0


@dataclass
class _Writes:
    calls: int = 0
    bytes: int = 0
    files: int = 0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.overhead_s = 0.0
        self.segments_total = 0
        self.segments_kept = 0
        self.writes = _Writes()
        self.user_bytes = 0
        self.current_group: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self._seq = 0
        jvm = spark.sparkContext._jvm
        metrics = getattr(getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$"), "MODULE$")
        self._compile_hist = metrics.METRIC_COMPILATION_TIME()
        self._codegen_ms0 = 0.0
        self._codegen_ms1 = 0.0

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def install(self) -> None:
        import importlib

        for name, (mod_path, owner_name, attr) in _SPANS.items():
            mod = importlib.import_module(mod_path)
            owner = getattr(mod, owner_name) if owner_name else mod
            self._wrap(owner, attr, name)
        prune = importlib.import_module("vectordb_spark.expr.prune")
        orig = prune.segment_overlaps

        @functools.wraps(orig)
        def segment_overlaps(*a, **kw):
            kept = orig(*a, **kw)
            with self._lock:
                self.segments_total += 1
                self.segments_kept += bool(kept)
            return kept

        prune.segment_overlaps = segment_overlaps
        self._restore.append((prune, "segment_overlaps", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self
        is_write = name in _WRITES
        is_handle = name == "server.handle"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            b0 = time.perf_counter()
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            span = Span(name, parent)
            stack.append(span)
            outer_write = is_write and not any(s.name in _WRITES for s in stack[:-1])
            before = tree_bytes_files(args[0].path) if outer_write else None
            if is_handle and tracer.current_group is not None:
                # job groups are thread-local, and ThreadingHTTPServer
                # answers each request on a thread of its own
                tracer.spark.sparkContext.setJobGroup(tracer.current_group, "perfbench")
            span.start = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
                if parent is not None:
                    parent.child_s += span.dur
                if outer_write:
                    after = tree_bytes_files(args[0].path)
                    with tracer._lock:
                        tracer.writes.calls += 1
                        tracer.writes.bytes += after[0] - before[0]
                        tracer.writes.files += after[1] - before[1]
                with tracer._lock:
                    tracer.spans.append(span)
                    tracer.overhead_s += (span.start - b0) + (time.perf_counter() - span.end)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    # -------------------------------------------------------------- ops

    def compile_count(self) -> int:
        return int(self._compile_hist.getCount())

    def _compile_ms_total(self) -> float:
        # the histogram keeps its last 1028 samples; more compiles
        # than that in one run makes this a lower bound
        return float(sum(self._compile_hist.getSnapshot().getValues()))

    def begin_timed(self) -> None:
        b0 = time.perf_counter()
        self._codegen_ms0 = self._compile_ms_total()
        self.ops.clear()
        self.spans.clear()
        self.segments_total = self.segments_kept = 0
        self.writes = _Writes()
        self.user_bytes = 0
        self.overhead_s = time.perf_counter() - b0

    def end_timed(self) -> None:
        b0 = time.perf_counter()
        self._codegen_ms1 = self._compile_ms_total()
        self.overhead_s += time.perf_counter() - b0

    @contextmanager
    def op(self, kind: str, *, driver_thread: bool = True):
        """Tag every Spark job the op runs with its own job group. With
        ``driver_thread=False`` the group is set by the wrapped
        ``EngineAPI.handle`` on the server's request thread instead."""
        b0 = time.perf_counter()
        self._seq += 1
        # unique per tracer: a shared session's event log holds every run
        group = f"pb-{id(self):x}-{self._seq}"
        sc = self.spark.sparkContext
        if driver_thread:
            sc.setJobGroup(group, kind)
        self.current_group = group
        c0 = self.compile_count()
        op = Op(kind, group, 0.0)
        self.overhead_s += time.perf_counter() - b0
        op.t0_ms = time.time() * 1000
        try:
            yield op
        finally:
            op.t1_ms = time.time() * 1000
            b1 = time.perf_counter()
            op.compiles = self.compile_count() - c0
            self.current_group = None
            if driver_thread:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.ops.append(op)
            self.overhead_s += time.perf_counter() - b1

    # ---------------------------------------------------------- results

    def span_stats(self) -> dict[str, tuple[int, float]]:
        """name -> (calls, total seconds). Snapshot spans nested in
        another snapshot span are not counted again."""
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            name = s.name
            if name in _SNAPSHOT:
                if s.parent is not None and s.parent.name in _SNAPSHOT:
                    continue
                name = "table.snapshot"
            calls, total = out.get(name, (0, 0.0))
            out[name] = (calls + 1, total + s.dur)
        return out

    def handle_self_s(self) -> tuple[int, float]:
        hs = [s for s in self.spans if s.name == "server.handle"]
        return len(hs), sum(s.dur - s.child_s for s in hs)

    def codegen_ms(self) -> float:
        return self._codegen_ms1 - self._codegen_ms0


# ------------------------------------------------------------ event log


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)


def read_event_log(events_dir: str) -> dict[str, GroupStats]:
    """Per job group totals from Spark's uncompressed event log (a
    rolling ``eventlog_v2_*/events_*`` directory in Spark 4)."""
    paths = sorted(
        p for p in glob.glob(os.path.join(events_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line still being written
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = float(ev.get("Submission Time", 0))
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    groups.setdefault(group, GroupStats()).jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]].intervals.append(
                            (job_start[jid], float(ev.get("Completion Time", 0)))
                        )
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        groups[stage_group[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = groups[group]
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.run_ms += m.get("Executor Run Time", 0)
                    g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    g.gc_ms += m.get("JVM GC Time", 0)
                    g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    inp = m.get("Input Metrics") or {}
                    g.input_bytes += inp.get("Bytes Read", 0)
                    g.input_records += inp.get("Records Read", 0)
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
