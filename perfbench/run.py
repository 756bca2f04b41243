"""Benchmark entry point: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload combiner_topx --seed 1 --seconds 14 --trace 0

Run from the repository root; the program is imported from there. Phases:

1. set-up, timed as ``setup_s``: start the session, generate the
   inputs and build the workload's starting state once, then run the
   workload's ``warmups`` passes, whose first op is ``cold_job_s``;
2. measured phase: ``round(seconds / nominal_pass_s)`` whole passes of
   the workload's op mix (at least one), where ``nominal_pass_s`` is
   about what one pass took on the reference host. The count depends
   only on ``--seconds``, never on how fast the program runs, so every
   run measures the same work;
3. checks, untimed: every output against an independent answer.
   An op that raised or whose output is wrong counts in ``failed``.

With ``--trace 1`` the same work is repeated in a new JVM whose session
writes Spark's event log: the starting state is built again in a fresh
directory, the warm-up passes run untraced, and then the same measured
passes run with a span around every layer call (see ``spans.py``) and
are checked in turn. The last stdout line then carries the per-layer
metrics instead of the end-to-end ones; ``trace.overhead_s`` is the
traced phase's ``wall_s`` minus the untraced phase's.

The line before it, prefixed ``report:``, holds everything else: the
reported-only metrics (``op_p50_s``, ``op_tail_s``, ``cold_job_s``,
``peak_rss_mb``) and the workload-specific latencies (``topx_job_s``,
``commit_p50_s``, ``read_p50_s``, ...), each with its sample count, the
inputs made with their sizes and digests, and in traced mode the
per-span table (wall, self time, Spark counters).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans as sp  # noqa: E402
import workloads as wl  # noqa: E402

DML_KINDS = ("delete", "delete_dv", "update_dv", "merge", "compact")

# Per-layer metric -> unit, as listed in BENCHMARK.json. Every workload
# emits all of them; a layer the workload never calls reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "pipeline.plan_s": "s",
    "sources.io.read_s": "s",
    "sources.io.write_s": "s",
    "sources.io.files_written": "count",
    "sources.io.bytes_written": "B",
    "sources.io.jobs": "count",
    "sources.io.tasks": "count",
    "sources.io.executor_run_s": "s",
    "sources.io.gc_s": "s",
    "sources.io.shuffle_read_bytes": "B",
    "sources.io.shuffle_write_bytes": "B",
    "sources.io.spill_bytes": "B",
    "sources.io.input_rows": "count",
    "sources.io.driver_gap_s": "s",
    "txlog.commit_s": "s",
    "txlog.commit.jobs": "count",
    "txlog.commit.driver_gap_s": "s",
    "txlog.files_added_per_commit": "count",
    "txlog.delete_s": "s",
    "txlog.delete_dv_s": "s",
    "txlog.update_dv_s": "s",
    "txlog.merge_s": "s",
    "txlog.compact_s": "s",
    "txlog.spark_jobs_per_verb": "count",
    "txlog.dml.driver_gap_s": "s",
    "txlog.dml.self_s": "s",
    "txlog.dml.shuffle_write_bytes": "B",
    "txlog.bytes_written_per_user_byte": "ratio",
    "txlog.log_bytes": "B",
    "txlog.conflict_retries": "count",
    "streaming.txlog_sink.batch_s": "s",
    "streaming.txlog_sink.batches": "count",
    "txlog.read_prune_s": "s",
    "txlog.read_scan_s": "s",
    "txlog.read.driver_gap_s": "s",
    "txlog.files_scanned_ratio": "ratio",
    "txlog.rows_returned_per_row_scanned": "ratio",
    "txlog.time_travel_read_s": "s",
    "txlog.cdf_read_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


def mean(vals) -> float:
    vals = list(vals)
    return sum(vals) / len(vals) if vals else 0.0


def tail(vals) -> tuple[float, int] | None:
    """Highest nearest-rank percentile with at least ten samples above
    it, as (value, percentile); None below eleven samples, where no
    percentile has ten above it."""
    s = sorted(vals)
    if len(s) < 11:
        return None
    return s[-11], math.floor(100 * (len(s) - 10) / len(s))


class Bench:
    """State of one run: session, op samples, failures, spans."""

    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.work = work
        self.workload = wl.WORKLOADS[args.workload](args.tiny)
        self.passes = max(1, round(args.seconds / self.workload.nominal_pass_s))
        self.spark = None
        self._gateway = self._jvm = None  # py4j gateway, JVM process
        self.tracer: sp.Tracer | None = None
        self.phase = "setup"
        # one record per op: kind, phase, seconds, ok, int result
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.inputs: dict = {}
        self.user_bytes = 0
        self.pruned_reads: list = []  # traced mode: DataFrames of pruned reads
        self.stored: tuple[int, int] | None = None  # (bytes, rows)

    # -- ops and spans -------------------------------------------------

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def op(self, kind: str, fn, *args, **kw) -> int:
        """Time one op; an exception marks it failed. Returns its index."""
        rec = {"kind": kind, "phase": self.phase, "ok": True}
        with self.span("op." + kind):
            t0 = time.perf_counter()
            try:
                res = fn(*args, **kw)
                rec["result"] = res if isinstance(res, int) else None
            except Exception:
                rec["ok"] = False
                self.failures.append(f"{kind}: {traceback.format_exc()}")
            rec["s"] = time.perf_counter() - t0
        self.ops.append(rec)
        return len(self.ops) - 1

    def fail(self, i: int, msg: str) -> None:
        self.ops[i]["ok"] = False
        self.failures.append(f"{self.ops[i]['kind']}: {msg}")

    # -- phases --------------------------------------------------------

    def start_session(self, extra_conf: dict | None) -> float:
        from parquet_combiner_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.workload.name}", extra_conf=extra_conf)
        took = time.perf_counter() - t0
        gw = self.spark.sparkContext._gateway
        self._gateway, self._jvm = gw, getattr(gw, "proc", None)
        return took

    def stop_session(self) -> None:
        """Stop the SparkContext; the JVM stays up for the next one."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self) -> dict:
        w = self.workload
        session_s = self.start_session(None)
        t0 = time.perf_counter()
        w.build(self, os.path.join(self.work, "setup"))
        build_s = time.perf_counter() - t0
        self.warm_up()
        warm_s = time.perf_counter() - t0 - build_s
        self.session_s = session_s
        return {"setup_s": session_s + build_s + warm_s,
                "session_s": session_s, "build_s": build_s, "warmup_s": warm_s,
                "cold_job_s": self.ops[0]["s"]}

    def warm_up(self) -> None:
        for p in range(self.workload.warmups):
            self.workload.prepare(self, p)
            self.workload.run_pass(self, p)

    def measure(self) -> list[float]:
        """Wall seconds of each measured pass; they follow the warm-ups."""
        w = self.workload
        walls = []
        for p in range(w.warmups, w.warmups + self.passes):
            w.prepare(self, p)
            with self.span("pass", index=p):
                t0 = time.perf_counter()
                w.run_pass(self, p)
                walls.append(time.perf_counter() - t0)
        return walls

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the JVM's."""
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        jvm = 0.0
        if self._jvm is not None:
            with open(f"/proc/{self._jvm.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024
        return py + jvm

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for it.
        The next ``start_session`` launches a fresh JVM."""
        from pyspark import SparkContext

        self.stop_session()
        if self._gateway is None:
            return
        self._gateway.shutdown()
        self._gateway = None
        SparkContext._gateway = SparkContext._jvm = None
        if self._jvm is not None:
            self._jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                self._jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._jvm.kill()
                self._jvm.wait()
            self._jvm = None


# ---------------------------------------------------------------------------
# metrics


def e2e_metrics(b: Bench, setup: dict, walls: list[float]) -> tuple[dict, dict]:
    """The gated metrics, and the reported-only ones with sample counts.

    Only metrics whose spread between seeds stayed well inside their
    bound on a shared 4-core box are gated. Op latencies of sub-second
    ops, the one cold job per process and the JVM's memory high-water
    mark moved 15-40% between runs of the same workload there, so they
    are reported beside the gate instead of in it."""
    w = b.workload
    measured = [o for o in b.ops if o["phase"] == "measured"]
    head = [o["s"] for o in measured if o["kind"] == w.headline]
    nbytes, rows = b.stored
    notes = {
        "op_p50_s": {"value": median(head), "ops": w.headline, "n": len(head)},
        "cold_job_s": {"value": setup["cold_job_s"], "n": 1},
        "peak_rss_mb": {"value": b.peak_rss_mb(), "unit": "MB"},
        "stored": {"bytes": nbytes, "rows": rows},
    }
    t = tail(o["s"] for o in measured)
    if t is not None:  # left out below eleven samples
        notes["op_tail_s"] = {"value": t[0], "percentile": t[1],
                              "n": len(measured)}
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (median(walls), "s"),
        "stored_bytes_per_row": (nbytes / max(1, rows), "B/row"),
    }, notes


def named_latencies(b: Bench) -> dict:
    """The per-workload latencies, each with its sample count."""
    measured = [o for o in b.ops if o["phase"] == "measured"]

    def stat(kinds):
        v = [o["s"] for o in measured if o["kind"] in kinds]
        return {"value": median(v), "unit": "s", "n": len(v)} if v else None

    out = {
        "topx_job_s": stat(("topx",)),
        "all_aggs_job_s": stat(("all_aggs",)),
        "commit_p50_s": stat(("append",)),
        "dml_p50_s": stat(("delete", "delete_dv", "update_dv", "merge")),
        "read_p50_s": stat(("point", "range")),
    }
    return {k: v for k, v in out.items() if v}


def op_summary(b: Bench) -> dict:
    """Measured ops per kind: count and median seconds."""
    kinds: dict[str, list[float]] = {}
    for o in b.ops:
        if o["phase"] == "measured":
            kinds.setdefault(o["kind"], []).append(o["s"])
    return {k: {"n": len(v), "p50_s": median(v)} for k, v in kinds.items()}


def layer_metrics(b: Bench, spans, counters, traced_walls, untraced_walls,
                  facts: dict) -> dict:
    """The per-layer metrics of the traced phase. ``facts`` holds what
    was read from disk after it: commit history, log and table bytes,
    files written, and the share of files each pruned read scanned."""
    by_id = {s.id: s for s in spans}
    selfs = sp.self_times(spans)

    def named(name, under=None):
        out = []
        for s in spans:
            if s.name != name:
                continue
            par = by_id.get(s.parent) if s.parent else None
            if under is None or (par is not None and par.name == under):
                out.append(s)
        return out

    def ops(kind):
        return named("op." + kind)

    def c(ss, key):
        return [counters[s.id][key] for s in ss]

    writes = named("sources.io.write_parquet")
    appends = named("tools.txlog.commit", under="op.append")
    dml = [s for k in DML_KINDS for s in ops(k)]
    sinks = named("streaming.txlog_sink.stream_to_txlog_available_now")
    sink_commits = [len([x for x in spans if x.parent == s.id
                         and x.name == "tools.txlog.commit"]) for s in sinks]
    reads = ops("point") + ops("range")
    scans = named("bench.read_scan")
    scanned = sum(c(scans, "input_rows"))
    returned = sum(s.attrs.get("rows", 0) for s in scans)
    versions = {h["version"]: h["n_files"] for h in facts["history"]}
    append_versions = [o["result"] for o in b.ops if o["phase"] == "traced"
                       and o["kind"] == "append" and o.get("result") is not None]
    m = {
        "session.get_spark_s": b.session_s,
        "pipeline.plan_s": median(
            s.wall for s in named("pipeline.top_items")
            + named("pipeline.all_aggregations")),
        "sources.io.read_s": median(
            s.wall for s in named("sources.io.read_data_a")
            + named("sources.io.read_data_b")),
        "sources.io.write_s": median(s.wall for s in writes),
        "sources.io.files_written": facts["files_written"],
        "sources.io.bytes_written": mean(c(writes, "output_bytes")),
    }
    for k in ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_rows",
              "driver_gap_s"):
        m[f"sources.io.{k}"] = mean(c(writes, k))
    m.update({
        "txlog.commit_s": median(s.wall for s in appends),
        "txlog.commit.jobs": mean(c(appends, "jobs")),
        "txlog.commit.driver_gap_s": median(c(appends, "driver_gap_s")),
        "txlog.files_added_per_commit": mean(
            versions[v] for v in append_versions if v in versions),
    })
    for kind in DML_KINDS:
        m[f"txlog.{kind}_s"] = median(s.wall for s in ops(kind))
    m.update({
        "txlog.spark_jobs_per_verb": mean(c(dml, "jobs")),
        "txlog.dml.driver_gap_s": mean(c(dml, "driver_gap_s")),
        "txlog.dml.self_s": mean(
            selfs[k.id] for s in dml for k in spans if k.parent == s.id),
        "txlog.dml.shuffle_write_bytes": mean(c(dml, "shuffle_write_bytes")),
        "txlog.bytes_written_per_user_byte": (
            facts["table_bytes_written"] / facts["user_bytes"]
            if facts["user_bytes"] else 0.0),
        "txlog.log_bytes": facts["log_bytes_per_commit"],
        "txlog.conflict_retries": sum(
            1 for s in spans if s.name == "tools.txlog.commit"
            and s.error == "CommitConflict"),
        "streaming.txlog_sink.batch_s": mean(
            s.wall / n for s, n in zip(sinks, sink_commits) if n),
        "streaming.txlog_sink.batches": mean(sink_commits),
        "txlog.read_prune_s": median(
            s.wall for s in named("tools.txlog.read_table_where")),
        "txlog.read_scan_s": median(s.wall for s in scans),
        "txlog.read.driver_gap_s": mean(c(reads, "driver_gap_s")),
        "txlog.files_scanned_ratio": mean(facts["scan_ratios"]),
        "txlog.rows_returned_per_row_scanned":
            returned / scanned if scanned else 0.0,
        "txlog.time_travel_read_s": median(s.wall for s in ops("time_travel")),
        "txlog.cdf_read_s": median(s.wall for s in ops("cdf")),
        "trace.wall_s": median(traced_walls),
        "trace.overhead_s": median(traced_walls) - median(untraced_walls),
    })
    return m


def span_table(spans, counters) -> dict:
    """Per span name: calls, median wall, total self time, jobs, gap."""
    selfs = sp.self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        r = out.setdefault(s.name, {"calls": 0, "wall": [], "self_s": 0.0,
                                    "jobs": 0, "driver_gap_s": 0.0})
        r["calls"] += 1
        r["wall"].append(s.wall)
        r["self_s"] += selfs[s.id]
        r["jobs"] += counters[s.id]["jobs"] if s.id in counters else 0
        r["driver_gap_s"] += counters.get(s.id, {}).get("driver_gap_s", 0.0)
    for r in out.values():
        r["wall_p50_s"] = median(r.pop("wall"))
    return out


# ---------------------------------------------------------------------------


def run(args, work: str) -> tuple[dict, dict]:
    b = Bench(args, work)
    w = b.workload
    try:
        setup = b.setup()
        b.phase = "measured"
        walls = b.measure()
        b.stored = w.stored(b)
        e2e, notes = e2e_metrics(b, setup, walls)
        report = {"setup": setup, "pass_s": walls,
                  "e2e": {k: v for k, (v, _) in e2e.items()},
                  "named": named_latencies(b), "notes": notes,
                  "ops": op_summary(b)}
        t0 = time.perf_counter()
        w.check(b)
        report["check_s"] = time.perf_counter() - t0
        if args.trace:
            metrics, report["spans"] = traced_phase(b, walls)
            w.check(b)
        else:
            metrics = e2e
    finally:
        b.stop()
    attempted = len(b.ops)
    failed = sum(1 for o in b.ops if not o["ok"])
    report.update({
        "workload": w.name, "seed": args.seed, "passes": b.passes,
        "local": f"local[{nproc()}]", "inputs": b.inputs,
        "failed_ops_ratio": failed / attempted,
        "failures": [f.strip().splitlines()[-1][:300] for f in b.failures],
    })
    for f in b.failures:
        print(f, file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, report


def traced_phase(b: Bench, untraced_walls):
    """The untraced run again, in a fresh JVM with the event log on:
    build the starting state anew, warm up untraced, then run the same
    measured passes with every layer wrapped. Leaves an untraced session
    up for the checks."""
    from parquet_combiner_spark.tools import txlog

    w = b.workload
    b.stop()
    logdir = os.path.join(b.work, "eventlog")
    os.makedirs(logdir, exist_ok=True)
    b.start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + logdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    b.phase = "traced_setup"
    w.build(b, os.path.join(b.work, "traced"))
    b.warm_up()
    table = getattr(w, "table", None)
    before = wl.dir_bytes(table) if table else 0
    b.user_bytes = 0
    b.tracer = sp.Tracer()
    b.tracer.instrument()
    b.phase = "traced"
    try:
        walls = b.measure()
    finally:
        b.tracer.restore()
    history = txlog.history(table) if table else []
    log_dir = os.path.join(table, "_txlog") if table else ""
    facts = {
        "history": history,
        "table_bytes_written": (wl.dir_bytes(table) - before) if table else 0,
        "user_bytes": b.user_bytes,
        "log_bytes_per_commit": (wl.dir_bytes(log_dir) / max(1, len(history))
                                 if os.path.isdir(log_dir) else 0.0),
        "files_written": w.files_written(w.warmups),
        "scan_ratios": [],
    }
    if b.pruned_reads:
        total = len(txlog.read_table(b.spark, table).inputFiles())
        facts["scan_ratios"] = [len(df.inputFiles()) / total
                                for df in b.pruned_reads]
    b.stop_session()
    spans = b.tracer.spans
    jobs, stages = sp.parse_event_log(sp.find_event_log(logdir))
    counters = sp.span_counters(spans, jobs, stages)
    metrics = layer_metrics(b, spans, counters, walls, untraced_walls, facts)
    b.tracer = None
    b.start_session(None)
    return ({k: (v, PER_LAYER[k]) for k, v in metrics.items()},
            span_table(spans, counters))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes (not comparable to full runs)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    import parquet_combiner_spark  # noqa: F401  (fails outside a checkout)

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(work, "tmp"),
    })
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print("report: " + json.dumps(report, sort_keys=True, default=float))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
