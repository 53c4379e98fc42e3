"""One benchmark run, in one process: generate inputs, set up, measure,
check, report.  Started by ``perfbench/run.py``, which prepares the
environment and the run directory; see ``perfbench/README.md``.

The last line on stdout is the result object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
describe the run for a human.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Import the package before tools/check_oracle.py (whose canonical form the
# checks use): that script puts a fixed checkout path first on sys.path.
import iceberg_hybrid_spark.lake.table  # noqa: E402,F401
import iceberg_hybrid_spark.queries  # noqa: E402,F401

sys.path.insert(1, os.path.join(ROOT, "tools"))

from perfbench import datagen  # noqa: E402
from perfbench.trace import LAYERS, NullTracer, SpanIndex, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUP_REPEATS = 3
# which samples feed the universal end-to-end metrics, per workload
# (on lake_ingest, appends and the reads after them: the median of a kind,
# not of a mix whose middle falls between two kinds)
OP_SAMPLES = {"lake_ingest": "append", "geo_replicate": "lag_all",
              "lake_analytics": "query"}
READ_SAMPLES = {"lake_ingest": "read_after_append", "geo_replicate": "read",
                "lake_analytics": "query"}


class Run:
    """Latency samples (seconds) and the attempted/failed tally of a run."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.cycles: list[float] = []        # duration of each client cycle
        self.marks: list[dict[str, int]] = []  # sample counts at each cycle's end
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.failures: list[str] = []
        self.last_ok = False
        self.figures: dict[str, float] = {}

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def sample(self, kind: str, seconds: float) -> None:
        self.samples.setdefault(kind, []).append(seconds)

    def cycle(self, wl) -> None:
        t0 = time.perf_counter()
        wl.cycle(self)
        self.cycles.append(time.perf_counter() - t0)
        self.marks.append({k: len(v) for k, v in self.samples.items()})

    def whole_periods(self, period: int) -> "tuple[int, dict[str, list[float]]]":
        """The cycles of the whole periods run, and their samples (all
        cycles when not even one period finished)."""
        used = len(self.cycles) // period * period or len(self.cycles)
        mark = self.marks[used - 1] if used else {}
        return used, {k: v[:mark.get(k, 0)] for k, v in self.samples.items()}

    def _fail(self, op: int, msg: str) -> None:
        self.failed_ops.add(op)
        if len(self.failures) < 20:
            self.failures.append(msg)

    @contextmanager
    def op(self, kind: str, tracer, also: str | None = None):
        """One client operation: timed, counted, and failed (not raised)
        when the program raises.  ``also`` files the latency under a
        second, narrower sample kind too."""
        self.attempted += 1
        idx = self.attempted
        self.last_ok = False
        t0 = time.perf_counter()
        try:
            with tracer.op(kind):
                yield
        except Exception as exc:  # noqa: BLE001 — a failed operation, counted
            self._fail(idx, f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        self.sample(kind, time.perf_counter() - t0)
        if also:
            self.sample(also, self.samples[kind][-1])
        self.last_ok = True

    def check(self, ok: bool, msg: str) -> bool:
        """A correctness check on the last operation; a miss fails it."""
        if not ok:
            self._fail(self.attempted, msg)
        return ok

    def final_check(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self._fail(self.attempted, msg)



class Ctx:
    """What the workloads share: inputs, tracer, and the set-up tally."""

    def __init__(self, seed: int, data_dir: str, counts: dict[str, int]):
        self.seed = seed
        self.data_dir = data_dir
        self.counts = counts
        self.tracer = NullTracer()
        self.setup_run = Run()
        self.reads: list[dict] = []

    def count_read(self, table, preds) -> None:
        """Traced cycles: how much of the head snapshot a read had to scan."""
        with self.tracer.paused():
            snap = table.current_snapshot()
            live = table.data_files(snap)
            scanned = table.prune_files(preds, snap) if preds else live
            dels = [f for f in snap.manifest if f.content != "data"]
        self.reads.append({"live": len(live), "scanned": len(scanned), "deletes": len(dels)})


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile): the highest sample with at least ten samples
    above it.  Needs at least 11 samples."""
    s = sorted(xs)
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def _status_mb(pid, field: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return _status_mb(jvm, "VmHWM") + _status_mb("self", "VmHWM")


def retained_mb(spark) -> float:
    """What the driver keeps: JVM heap still in use after a full GC, JVM
    non-heap (classes, JIT code), and this process's resident set after a
    collection.  Unlike the peak, it does not depend on when GC ran."""
    gc.collect()
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # A GC only queues Spark's ContextCleaner, which then drops the blocks
    # of unreferenced shuffles and broadcasts for the next GC to free: GC
    # until the heap stops shrinking.  One GC alone read 77-139 MB for the
    # same 72 MB kept.
    heap = float("inf")
    for _ in range(10):
        mx.gc()
        before, heap = heap, mx.getHeapMemoryUsage().getUsed()
        if before - heap < 2**20:
            break
        time.sleep(0.3)
    jvm = heap + mx.getNonHeapMemoryUsage().getUsed()
    return jvm / 2**20 + _status_mb("self", "VmRSS")


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(run_dir: str, traced: bool):
    from iceberg_hybrid_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.log.level": "ERROR",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ.get('TMPDIR', run_dir)} -XX:-UsePerfData",
    }
    if traced:  # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(wl, args, run_dir):
    """SETUP_REPEATS set-ups (a session, then the workload's sources); the
    first also launches the JVM, the others restart the SparkContext in
    it.  Returns the live session, each set-up's duration, and the first
    session start."""
    times, spark, session_start = [], None, 0.0
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(run_dir, args.trace)
        if rep == 0:
            session_start = time.perf_counter() - t0
        wl.open(spark)
        times.append(time.perf_counter() - t0)
    return spark, times, session_start


def measure(wl, run: Run, seconds: float, fault: str | None = None,
            plain: Run | None = None, tracer=None, seed: int = 0) -> float:
    """Cycles for ``seconds``, and at least one whole period, so a slow
    host still measures the same mix.  Traced runs interleave untraced
    cycles (into ``plain``) at random, so the two sides see the same
    history."""
    coin = random.Random(seed + 1)
    wl.start()
    t0 = time.perf_counter()
    cycles = 0
    while time.perf_counter() - t0 < seconds or cycles < wl.PERIOD:
        if plain is not None and coin.random() < 0.5:
            with tracer.paused():
                plain.cycle(wl)
        else:
            run.cycle(wl)
        cycles += 1
        if fault == "truncate-replica" and cycles == 3:
            print(f"fault: truncated {wl.truncate_one_replica_file()}", flush=True)
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(wl, run, setup_times, retained) -> dict:
    used, samples = run.whole_periods(wl.PERIOD)
    ops = [x * 1000.0 for x in samples.get(OP_SAMPLES[wl.name], [])]
    reads = [x * 1000.0 for x in samples.get(READ_SAMPLES[wl.name], [])]
    return {
        "setup_s": (median(setup_times), "s"),
        "op_ms_p50": (median(ops), "ms"),
        "read_ms_p50": (median(reads), "ms"),
        "cycles_per_s": (used / sum(run.cycles[:used]) if used else 0.0, "1/s"),
        "retained_mb": (retained, "MB"),
    }


def tracing_overhead_pct(traced: Run, plain: Run) -> float:
    """Traced minus untraced latency, per sample kind, over the untraced:
    medians weighted by the traced sample counts."""
    extra = base = 0.0
    for kind, xs in traced.samples.items():
        ys = plain.samples.get(kind, [])
        if not xs or not ys:
            continue
        extra += len(xs) * (median(xs) - median(ys))
        base += len(xs) * median(ys)
    return 100.0 * extra / base if base else 0.0


def workload_figures(run, plain, elapsed) -> dict:
    """The per-workload view, under the names of the reference's SLOs;
    printed for a human, every workload, every run."""
    s = {k: [x * 1000.0 for x in v + (plain.samples.get(k, []) if plain else [])]
         for k, v in run.samples.items()}
    out = {}
    for name, key in (("commit_ms", "commit"), ("append_ms", "append"),
                      ("dedup_ms", "dedup"), ("read_ms", "read"),
                      ("replica_lag_ms", "lag"), ("replica_lag_all_ms", "lag_all"),
                      ("query_ms", "query"), ("maintenance_ms", "maintenance")):
        n = len(s.get(key, []))
        if n:
            out[f"{name}_p50"] = (median(s[key]), "ms", f"n={n}")
        if n >= 21:  # else the tenth-from-top sample sits below the median
            v, p = tail(s[key])
            out[f"{name}_tail"] = (v, "ms", f"p{p:.0f} of n={n}")
    if s.get("pass"):
        out["query_mix_s"] = (median(s["pass"]) / 1000.0, "s", f"n={len(s['pass'])}")
    if run.figures.get("user_rows"):
        out["ingest_rows_per_s"] = (run.figures["user_rows"] / elapsed, "1/s", "")
    if "storage_bytes_per_user_byte" in run.figures:
        out["storage_bytes_per_user_byte"] = (run.figures["storage_bytes_per_user_byte"],
                                              "ratio", "")
    return out


def per_layer(idx: SpanIndex, run: Run, ctx: Ctx, session_start, warmup_s,
              overhead_pct, tracer) -> dict:
    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def spans(name):
        return idx.named(name)

    def ms_of(name):
        return mean(s.ms for s in spans(name))

    def ops(kind):
        return spans(f"op.{kind}")

    def jobs_per(kind, key=None):
        return mean(sum(1 if key is None else j.attrs[key] for j in idx.spark_jobs(o))
                    for o in ops(kind))

    def attr_sum(name, key):
        return sum(s.attrs.get(key, 0) for s in spans(name))

    n_ops = max(1, sum(1 for s in idx.spans if s.name.startswith("op.")))
    syncs = max(1, len(spans("lake.replication.replicate")))
    appends = spans("lake.table.append")
    reads = ctx.reads
    first_snapshots = []
    for o in ops("read"):
        snaps = [d for d in idx.descendants(o) if d.name == "lake.table.snapshots"]
        if snaps:
            first_snapshots.append(min(snaps, key=lambda d: d.t0).ms)
    queries = ops("query")
    families = {}
    for q in queries:
        plan = [c for c in idx.children.get(q.sid, ()) if c.name.startswith("queries.")]
        if plan:
            families.setdefault(plan[0].name.split(".")[1], []).append(q.ms)
    maint = max(1, len(spans("lake.catalog.run_maintenance")))
    m = {
        "session.start_s": (session_start, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "sources.load_table.ms": (ms_of("sources.load_table"), "ms"),
        "lake.table.append.self_ms": (
            mean((s.t1 - s.t0 - idx.spark_ns(s)) / 1e6 for s in appends), "ms"),
        "lake.table.append.spark_ms": (mean(idx.spark_ns(s) / 1e6 for s in appends), "ms"),
        "lake.table.meta_bytes_per_commit": (
            mean(s.attrs.get("meta_bytes", 0) for s in spans("lake.table.commit")), "bytes"),
        "lake.table.snapshots.ms": (ms_of("lake.table.snapshots"), "ms"),
        "lake.table.snapshots.calls_per_op": (len(spans("lake.table.snapshots")) / n_ops,
                                              "count"),
        "spark.jobs_per_commit": (jobs_per("commit"), "count"),
        "spark.tasks_per_commit": (jobs_per("commit", "tasks"), "count"),
        "lake.table.read_plan_ms": (ms_of("lake.table.read"), "ms"),
        "lake.table.files_scanned_per_read": (mean(r["scanned"] for r in reads), "count"),
        "lake.table.prune_ratio": (
            mean(1 - r["scanned"] / r["live"] for r in reads if r["live"]), "ratio"),
        "lake.table.delete_files_live": (mean(r["deletes"] for r in reads), "count"),
        "lake.storage_bytes_per_user_byte": (
            run.figures.get("storage_bytes_per_user_byte", 0.0), "ratio"),
        "spark.read.exec_ms": (mean(idx.spark_ns(o) / 1e6 for o in ops("read")), "ms"),
        "spark.tasks_per_read": (jobs_per("read", "tasks"), "count"),
        "lake.table.snapshots.cold_ms": (mean(first_snapshots), "ms"),
        "control.router.route_read.ms": (ms_of("control.router.route_read"), "ms"),
        "streaming.dedup_ingest_batch.ms": (ms_of("streaming.dedup_ingest_batch"), "ms"),
        "streaming.novel_ratio": (run.figures.get("novel_ratio", 0.0), "ratio"),
        "lake.catalog.run_maintenance.ms": (ms_of("lake.catalog.run_maintenance"), "ms"),
        "lake.table.rewrite_data_files.ms": (ms_of("lake.table.rewrite_data_files"), "ms"),
        "lake.maintenance.bytes_rewritten": (
            attr_sum("lake.table.rewrite_data_files", "bytes_written") / maint, "bytes"),
        "lake.table.expire_snapshots.ms": (ms_of("lake.table.expire_snapshots"), "ms"),
        "lake.gc.produce_candidates.ms": (ms_of("lake.gc.produce_candidates"), "ms"),
        "lake.replication.audit_closure.ms": (ms_of("lake.replication.audit_closure"), "ms"),
        "control.sync.coordinate_write.self_ms": (
            mean(idx.self_ns(s) / 1e6 for s in spans("control.sync.coordinate_write")), "ms"),
        "control.sync.process_pending_events.ms": (
            ms_of("control.sync.process_pending_events"), "ms"),
        "lake.replication.plan.ms": (ms_of("lake.replication.plan"), "ms"),
        "lake.replication.copy_files.ms": (ms_of("lake.replication.copy_files"), "ms"),
        "lake.replication.verify.ms": (ms_of("lake.replication.verify"), "ms"),
        "lake.table.publish.ms": (ms_of("lake.table.publish"), "ms"),
        "lake.replication.files_copied_per_sync": (
            attr_sum("lake.replication.copy_files", "files_copied") / syncs, "count"),
        "lake.replication.files_skipped_per_sync": (
            attr_sum("lake.replication.plan", "files_skipped") / syncs, "count"),
        "lake.replication.files_verified_per_sync": (
            attr_sum("lake.replication.verify", "files_verified") / syncs, "count"),
        "lake.replication.bytes_hashed_per_sync": (
            attr_sum("lake.replication.verify", "bytes_hashed") / syncs, "bytes"),
        "lake.replication.copy_ratio": (
            attr_sum("lake.replication.copy_files", "bytes_copied")
            / max(1, run.figures.get("bytes_committed", 0)), "ratio"),
        "control.sync.events_failed": (run.figures.get("events_failed", 0), "count"),
        "queries.plan_ms": (mean(s.ms for s in idx.spans
                                 if s.name.startswith("queries.") and s.name.endswith(".plan")),
                            "ms"),
        "spark.exec_ms": (mean(idx.spark_ns(q) / 1e6 for q in queries), "ms"),
        "spark.stages_per_query": (jobs_per("query", "stages"), "count"),
        "spark.tasks_per_query": (jobs_per("query", "tasks"), "count"),
        "spark.shuffle_bytes_per_query": (jobs_per("query", "shuffle_bytes"), "bytes"),
        "spark.input_bytes_per_query": (jobs_per("query", "input_bytes"), "bytes"),
    }
    for fam in ("relational", "events", "llm", "multimodal"):
        m[f"queries.{fam}.ms"] = (mean(families.get(fam, [])), "ms")
    self_ms = idx.layer_self_ms()
    calls = idx.layer_calls()
    for layer in LAYERS:
        m[f"layer.{layer}.self_ms_per_op"] = (self_ms.get(layer, 0.0) / n_ops, "ms")
        m[f"layer.{layer}.calls_per_op"] = (calls.get(layer, 0) / n_ops, "count")
    m["trace.overhead_pct"] = (overhead_pct, "%")
    m["trace.bookkeeping_ms_per_op"] = (tracer.tracer_ns / 1e6 / n_ops, "ms")
    m["trace.spans_per_op"] = (len(idx.spans) / n_ops, "count")
    return m


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.05)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--trace-out", default=None)
    p.add_argument("--fault", choices=("truncate-replica",), default=None)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    t_run = time.perf_counter()
    data_dir = os.path.join(args.run_dir, "data")
    wl_cls = WORKLOADS[args.workload]
    ctx = Ctx(args.seed, data_dir,
              datagen.generate(data_dir, args.seed, args.scale, wl_cls.TABLES))
    wl = wl_cls(ctx)

    if args.trace:  # spans from set-up on: session start and source loading
        ctx.tracer = tracer = Tracer()
        tracer.install()
    spark, setup_times, session_start = set_up(wl, args, args.run_dir)
    ctx.tracer.spark = spark
    runs = [ctx.setup_run]  # every operation of every phase is tallied
    t0 = time.perf_counter()
    with ctx.tracer.paused():
        wl.create(os.path.join(args.run_dir, "lake"))
    create_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    runs.append(Run())
    with ctx.tracer.paused():
        for _ in range(wl.WARM_CYCLES):
            wl.cycle(runs[-1])
    warmup_s = time.perf_counter() - t0

    run = Run()
    plain = Run() if args.trace else None
    runs += [run] + ([plain] if plain else [])
    elapsed = measure(wl, run, args.seconds, args.fault, plain, ctx.tracer, args.seed)
    with ctx.tracer.paused():
        try:
            wl.finish(run)
        except Exception as exc:  # noqa: BLE001 — a failed check, counted
            run.final_check(False, f"end-of-run checks: {type(exc).__name__}: {exc}")

    overhead_pct = 0.0
    if args.trace:
        tracer.uninstall()
        tracer.collect_spark()
        overhead_pct = tracing_overhead_pct(run, plain)
        if args.trace_out:
            os.makedirs(os.path.dirname(args.trace_out) or ".", exist_ok=True)
            tracer.dump(args.trace_out)

    peak, retained = peak_rss_mb(spark), retained_mb(spark)
    spark.stop()
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    correct = failed == 0

    print(f"workload {args.workload} seed {args.seed} scale {args.scale} "
          f"measured {elapsed:.2f}s, run {time.perf_counter() - t_run:.1f}s, "
          f"set-ups {[round(t, 3) for t in setup_times]}, create {create_s:.2f}s, "
          f"warm-up {warmup_s:.2f}s", flush=True)
    figures = workload_figures(run, plain, elapsed)
    figures["peak_rss_mb"] = (peak, "MB", "driver JVM + Python")
    figures["failed_ops_ratio"] = (failed / max(1, attempted), "ratio", f"{failed}/{attempted}")
    for name, (v, unit, note) in figures.items():
        print(f"  {name:32s} {v:14.4f} {unit:6s} {note}")
    for msg in [m for r in runs for m in r.failures]:
        print(f"  FAILED: {msg}")
    if args.trace:
        idx = SpanIndex(tracer.spans)
        metrics = per_layer(idx, run, ctx, session_start, warmup_s, overhead_pct, tracer)
    else:
        metrics = end_to_end(wl, run, setup_times, retained)
    for name, (v, unit) in metrics.items():
        print(f"  {name:40s} {v:16.4f} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
