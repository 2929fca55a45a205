"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. Makes the workload's inputs from the
seed, drives the program through its public entry points, checks its
outputs, and prints as the last line one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or
with ``--trace 1`` the per-layer ones). The line before it carries the
run's detail: workload figures, sample counts, the contention marker
and the first failures. Exits non-zero, printing no result, when the
program cannot be run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import curate  # noqa: E402
import ingest  # noqa: E402
import serve  # noqa: E402
from harness import (  # noqa: E402
    ContentionMarker,
    Ops,
    Session,
    make_workdir,
    remove_workdir,
)
from metrics import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = {"serve": serve, "ingest": ingest, "curate": curate}
DEFAULT_SECONDS = 24


class Context:
    """What a workload's ``run`` gets: the session, its op record, and
    the marks that bound the timed part."""

    def __init__(self, session: Session, tracer, data_dir: str):
        self.spark = session.spark
        self.tracer = tracer
        self.root = os.path.join(data_dir, "warehouse")
        self.ops = Ops()
        self.t_timed0: float | None = None
        self.t_timed1: float | None = None

    def start_timed(self) -> None:
        if self.tracer is not None:
            self.tracer.begin_timed()
        self.t_timed0 = time.perf_counter()

    def end_timed(self) -> None:
        self.t_timed1 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.end_timed()
            self.tracer.uninstall()

    def op(self, kind: str, *, driver_thread: bool = True):
        """Tags the op's Spark jobs in a traced run's timed part."""
        if self.tracer is None or self.t_timed0 is None or self.t_timed1 is not None:
            return nullcontext()
        return self.tracer.op(kind, driver_thread=driver_thread)


def _live_segments(table_path: str | None) -> int:
    """Segment count in the table's newest committed manifest."""
    if not table_path:
        return 0
    seqs = [n for n in os.listdir(table_path)
            if n.startswith("_meta.s") and n.endswith(".json") and n[7:-5].isdigit()]
    name = max(seqs, key=lambda n: int(n[7:-5])) if seqs else "_meta.json"
    with open(os.path.join(table_path, name)) as f:
        return len(json.load(f)["files"])


def layer_metrics(out: dict, tracer, groups: dict, timed_s: float, host: dict) -> dict:
    from tracing import GroupStats, union_ms

    spans = tracer.span_stats()

    def per_call_ms(*names: str) -> float:
        calls = sum(spans.get(n, (0, 0.0))[0] for n in names)
        total = sum(spans.get(n, (0, 0.0))[1] for n in names)
        return 1000 * total / calls if calls else 0.0

    ops = tracer.ops
    stats = [groups.get(o.group, GroupStats()) for o in ops]
    n = max(1, len(ops))

    def rows_read_per_result(kind: str) -> float:
        picked = [g for o, g in zip(ops, stats) if o.kind == kind]
        return sum(g.input_records for g in picked) / (10 * len(picked)) if picked else 0.0

    handle_calls, handle_total = spans.get("server.handle", (0, 0.0))
    _, handle_self = tracer.handle_self_s()
    wall_ms = sum(o.t1_ms - o.t0_ms for o in ops)
    run_ms = sum(g.run_ms for g in stats)
    cpu_ms = sum(g.cpu_ms for g in stats)
    w = tracer.writes
    values = {
        "server.http_ms": (wall_ms - 1000 * handle_total) / handle_calls if handle_calls else 0.0,
        "server.handle_self_ms": 1000 * handle_self / handle_calls if handle_calls else 0.0,
        "catalog.table_open_ms": per_call_ms("catalog.table_open"),
        "expr.parse_ms": per_call_ms("expr.parse", "expr.parse_facets"),
        "expr.segments_kept_ratio": (tracer.segments_kept / tracer.segments_total
                                     if tracer.segments_total else 0.0),
        "table.snapshot_ms": per_call_ms("table.snapshot"),
        "table.query_ms": per_call_ms("table.query"),
        "table.get_ms": per_call_ms("table.get"),
        "table.live_segments": _live_segments(out.get("table_path")),
        "table.insert_ms": per_call_ms("table.insert"),
        "table.delete_ms": per_call_ms("table.delete"),
        "table.insert_df_ms": per_call_ms("table.insert_df"),
        "table.compact_ms": per_call_ms("table.compact"),
        "table.vacuum_ms": per_call_ms("table.vacuum"),
        "table.write_amp": w.bytes / tracer.user_bytes if tracer.user_bytes else 0.0,
        "table.files_per_write": w.files / w.calls if w.calls else 0.0,
        "ann.refresh_ms": per_call_ms("ann.refresh"),
        "ann.search_ms": per_call_ms("ann.search"),
        "ann.rows_read_per_result": rows_read_per_result("ann"),
        "text.refresh_ms": per_call_ms("text.refresh"),
        "text.search_ms": per_call_ms("text.search"),
        "text.rows_read_per_result": rows_read_per_result("bm25"),
        "sparse.refresh_ms": per_call_ms("sparse.refresh"),
        "sparse.search_ms": per_call_ms("sparse.search"),
        "sparse.rows_read_per_result": rows_read_per_result("sparse"),
        "facets.ms": per_call_ms("facets"),
        "spark.jobs_per_op": sum(g.jobs for g in stats) / n,
        "spark.stages_per_op": sum(g.stages for g in stats) / n,
        "spark.tasks_per_op": sum(g.tasks for g in stats) / n,
        "spark.driver_ms_per_op": sum(
            (o.t1_ms - o.t0_ms) - union_ms(g.intervals, o.t0_ms, o.t1_ms)
            for o, g in zip(ops, stats)) / n,
        "spark.codegen_compiles_per_op": sum(o.compiles for o in ops) / n,
        "spark.codegen_ms_per_op": tracer.codegen_ms() / n,
        "spark.task_run_ms": run_ms / n,
        "spark.task_cpu_ms": cpu_ms / n,
        "spark.task_cpu_ratio": cpu_ms / run_ms if run_ms else 0.0,
        "spark.gc_ms": sum(g.gc_ms for g in stats) / n,
        "spark.shuffle_bytes": sum(g.shuffle_bytes for g in stats) / n,
        "spark.input_bytes": sum(g.input_bytes for g in stats) / n,
        "spark.spill_bytes": sum(g.spill_bytes for g in stats) / n,
        "host.cpu_pressure_pct": host["cpu_pressure_pct"] or 0.0,
        "host.calibration_ms": (host["calibration_ms_start"] + host["calibration_ms_end"]) / 2,
        "trace.overhead_pct": 100 * tracer.overhead_s / timed_s,
    }
    for name, v in out["detail"].items():
        if name in PER_LAYER:
            values[name] = v
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER.items()}


def execute(workload: str, seed: int, seconds: int, trace: bool, *, tiny: bool = False,
            session: Session | None = None, t_start: float | None = None) -> dict:
    """One run. With ``session`` given (the self-tests) the caller owns
    the Spark session and its work directory."""
    from tracing import Tracer, read_event_log

    t_start = time.perf_counter() if t_start is None else t_start
    mod = WORKLOADS[workload]
    marker = ContentionMarker()
    own = session is None
    workdir = make_workdir(ROOT, workload) if own else session.workdir
    tracer = None
    try:
        os.makedirs(os.path.join(workdir, "data"), exist_ok=True)
        data_dir = tempfile.mkdtemp(dir=os.path.join(workdir, "data"))
        g0 = time.perf_counter()
        inputs = mod.generate(seed, seconds, tiny, data_dir)
        gen_s = time.perf_counter() - g0
        if own:
            session = Session(workdir, trace=trace)
        if trace:
            tracer = Tracer(session.spark)
            tracer.install()
        ctx = Context(session, tracer, data_dir)
        out = mod.run(ctx, inputs)
        setup_s = ctx.t_timed0 - t_start - gen_s
        timed_s = ctx.t_timed1 - ctx.t_timed0
        rss = session.peak_rss_mb()
        if trace and not own:
            # the event log is complete once the listener bus drains
            session.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        if own:
            session.stop()
            session = None
        host = marker.finish()
        if trace:
            groups = read_event_log(os.path.join(workdir, "events"))
            metrics = layer_metrics(out, tracer, groups, timed_s, host)
        else:
            e2e = {"setup_s": setup_s, "peak_rss_mb": sum(rss),
                   "throughput_per_s": out["throughput_per_s"],
                   "latency_p50_ms": out["latency_p50_ms"]}
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    finally:
        if tracer is not None:
            tracer.uninstall()
        if own:
            if session is not None:
                session.stop()
            remove_workdir(workdir)
    ops = ctx.ops
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
        "detail": {"workload": workload, "seed": seed, "seconds": seconds,
                   "trace": trace, "input_gen_s": gen_s, "timed_s": timed_s,
                   "python_rss_mb": rss[0], "jvm_rss_mb": rss[1],
                   **out["detail"], "host": host, "failures": ops.failures},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=DEFAULT_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = execute(args.workload, args.seed, args.seconds, bool(args.trace),
                     t_start=T_START)
    detail = result.pop("detail")
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps(result, sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
