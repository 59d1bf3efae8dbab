"""The traced run: spans around the layer entry points, Spark counters
from the event log, and the per-layer table.

Spans are recorded from outside the program. For the timed phase the
benchmark replaces the entry points the pipeline and the query loop call
(the ``Ledger`` methods, ``validate_files``, ``quarantine``,
``read_sales_csv``, ``enrich_sales`` and the four mart builders,
``write_parquet``, ``load_table``, ``QUERIES[name]`` and the sink action)
with wrappers that

- set a Spark job group named after the span, so every Spark job is
  attributed to the innermost span that submitted it;
- keep the span (name, start, end, parent) in memory;

and restores the originals afterwards. Self time is a span's duration
minus its children's. After the session stops, the event log (enabled in
the traced session only) gives each job's stages and task metrics.

To price the tracing itself, an untraced timed phase of the same length runs first
in a fresh session without the event log; the overhead is the traced
mean op time over the untraced one, minus one.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-layer metric -> (unit, better); the order BENCHMARK.json lists them
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "csv_source.validate_s": ("s", "lower"),
    "csv_source.quarantine_s": ("s", "lower"),
    "csv_source.read_plan_s": ("s", "lower"),
    "csv_source.input_mb": ("MB", "lower"),
    "ledger.stuck_in_start_s": ("s", "lower"),
    "ledger.split_processed_s": ("s", "lower"),
    "ledger.mark_start_s": ("s", "lower"),
    "ledger.mark_completed_s": ("s", "lower"),
    "ledger.spark_jobs": ("count", "lower"),
    "ledger.log_files": ("count", "lower"),
    "ledger.share": ("ratio", "lower"),
    "marts.enrich_plan_s": ("s", "lower"),
    "marts.plan_s": ("s", "lower"),
    "writers.write_s.customer_mart": ("s", "lower"),
    "writers.write_s.sales_team_mart": ("s", "lower"),
    "writers.write_s.customer_monthly_purchase": ("s", "lower"),
    "writers.write_s.sales_team_incentive": ("s", "lower"),
    "writers.files_written": ("count", "lower"),
    "writers.mb_written": ("MB", "lower"),
    "writers.tasks": ("count", "lower"),
    "writers.sales_team_mart_share": ("ratio", "lower"),
    "pipeline.self_s": ("s", "lower"),
    "tables.load_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.action_s": ("s", "lower"),
    "plans.build_share": ("ratio", "lower"),
    "checkpoints.live_rdds": ("count", "lower"),
    "checkpoints.storage_mb": ("MB", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.single_task_stages": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.input_mb": ("MB", "lower"),
    "spark.output_mb": ("MB", "lower"),
    "spark.slot_busy_ratio": ("ratio", "higher"),
    "trace.op_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.unattributed_jobs": ("count", "lower"),
}

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "single_task_stages", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "input_mb", "output_mb",
)
_ACC = {  # event-log accumulable -> (field, scale)
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.input.bytesRead": ("input_mb", 1e-6),
    "internal.metrics.output.bytesWritten": ("output_mb", 1e-6),
}


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    op: int
    t0: float  # epoch seconds
    t1: float = 0.0
    spark: dict = field(default_factory=lambda: dict.fromkeys(SPARK_FIELDS, 0.0))

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory spans; each span is the Spark job group of its jobs."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: dict[str, Span] = {}
        self.stack: list[Span] = []
        self.op = -1
        self.op_counters: list[dict] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.sid, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(f"perfbench-{len(self.spans)}", name, parent.sid if parent else None,
                 self.op, time.time())
        self.spans[s.sid] = s
        self.stack.append(s)
        self._set_group(s)
        p0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = s.t0 + (time.perf_counter() - p0)
            self.stack.pop()
            self._set_group(parent)

    def wrap(self, fn, name):
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


# --- installing wrappers -------------------------------------------------


def _sink_name(df, path, *args, **kwargs) -> str:
    return f"writers.write.{os.path.basename(path)}"


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Replace the layer entry points with traced wrappers; returns the
    (owner, attribute, original) list that ``uninstall`` restores."""
    from end_to_end_sales_etl_de_project_spark import ledger, pipeline
    from end_to_end_sales_etl_de_project_spark.plans import core, documents, events

    targets = [
        (pipeline, "validate_files", "csv_source.validate"),
        (pipeline, "quarantine", "csv_source.quarantine"),
        (pipeline, "read_sales_csv", "csv_source.read_plan"),
        (pipeline, "enrich_sales", "marts.enrich_plan"),
        (pipeline, "customer_mart", "marts.plan.customer_mart"),
        (pipeline, "sales_team_mart", "marts.plan.sales_team_mart"),
        (pipeline, "customer_monthly_purchase", "marts.plan.customer_monthly_purchase"),
        (pipeline, "sales_team_incentive", "marts.plan.sales_team_incentive"),
        (pipeline, "write_parquet", _sink_name),
    ]
    for method in ("stuck_in_start", "split_processed", "mark_start", "mark_completed"):
        targets.append((ledger.Ledger, method, f"ledger.{method}"))
    for mod in (core, documents, events):
        if hasattr(mod, "load_table"):
            targets.append((mod, "load_table", "tables.load"))
    undo = []
    for owner, attr, name in targets:
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(orig, name))
    return undo


def uninstall(undo) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# --- event log -----------------------------------------------------------


def read_event_log(path: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (group, submit time, stage ids) and completed stages with
    their task counts and summed task metrics, from one event-log file."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    failed: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append({
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev.get("Submission Time", 0) / 1000.0,
                    "stages": ev.get("Stage IDs", []),
                })
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                m = dict.fromkeys(SPARK_FIELDS, 0.0)
                m["tasks"] = info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    hit = _ACC.get(acc.get("Name"))
                    if hit:
                        m[hit[0]] += float(acc.get("Value", 0)) * hit[1]
                stages[info["Stage ID"]] = m
            elif kind == "SparkListenerTaskEnd":
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    failed[ev["Stage ID"]] = failed.get(ev["Stage ID"], 0) + 1
    for sid, n in failed.items():
        if sid in stages:
            stages[sid]["failed_tasks"] = n
    return jobs, stages


def attribute(spans: dict[str, Span], jobs: list[dict], stages: dict[int, dict]) -> int:
    """Add each job's completed stages to the span that submitted it: by
    job group, else (jobs from the program's own threads) by the
    innermost span open at submission. Returns jobs inside no span."""
    ordered = sorted(spans.values(), key=lambda s: s.t0)
    seen: set[int] = set()
    unattributed = 0
    for job in jobs:
        span = spans.get(job["group"])
        if span is None:
            inside = [s for s in ordered if s.t0 <= job["submit"] <= s.t1]
            span = min(inside, key=lambda s: s.dur) if inside else None
        if span is None:
            unattributed += 1
            continue
        span.spark["jobs"] += 1
        for sid in job["stages"]:
            if sid in stages and sid not in seen:
                seen.add(sid)
                m = stages[sid]
                span.spark["stages"] += 1
                span.spark["single_task_stages"] += m["tasks"] == 1
                for k in SPARK_FIELDS[2:]:
                    if k != "single_task_stages":
                        span.spark[k] += m[k]
    return unattributed


# --- the traced phase ----------------------------------------------------


@dataclass
class TracedRun:
    tracer: Tracer
    event_log: str
    app_id: str
    untraced: tuple
    traced: tuple
    session_start_s: float
    cores: int
    op_walls: list[float] = field(default_factory=list)


def run(bench, wl, seconds: float, timed_phase) -> TracedRun:
    """An untraced and a traced timed phase, each in a fresh session;
    leaves the traced session running for the output checks."""
    log_dir = os.path.join(bench.work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    bench.stop_session()
    wl.rebind(bench.start())
    untraced = timed_phase(wl, seconds)
    bench.stop_session()
    t0 = time.perf_counter()
    spark = bench.start(event_log=log_dir)
    start_s = time.perf_counter() - t0
    wl.rebind(spark)
    tracer = Tracer(spark.sparkContext)
    walls: list[float] = []
    wl.tracer = tracer
    undo = install(tracer)
    root = "pipeline.run_pipeline" if wl.name.startswith("etl") else "query"

    def start_op(op):
        tracer.op += 1
        return tracer.span(root)

    def on_op(op, dt):
        walls.append(dt)
        tracer.op_counters.append(wl.op_counters(op, spark))

    try:
        traced = timed_phase(wl, seconds, on_op=on_op, around=start_op)
    finally:
        uninstall(undo)
        wl.tracer = None
    return TracedRun(tracer, log_dir, spark.sparkContext.applicationId, untraced, traced,
                     start_s, int(spark.sparkContext.defaultParallelism), walls)


def _self_times(spans: list[Span]) -> dict[str, float]:
    child = {}
    for s in spans:
        if s.parent:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    return {s.sid: s.dur - child.get(s.sid, 0.0) for s in spans}


def finish(tr: TracedRun, wl, jvm_rss_mb: float, first_session_s: float) -> dict:
    """Parse the event log (the session must be stopped) and build the
    per-layer metrics and the printed layer table."""
    logs = [p for p in glob.glob(os.path.join(tr.event_log, "*")) if tr.app_id in os.path.basename(p)]
    jobs, stages = read_event_log(logs[0]) if logs else ([], {})
    spans = tr.tracer.spans
    unattributed = attribute(spans, jobs, stages)
    selfs = _self_times(list(spans.values()))
    n_ops = max(1, len(tr.op_walls))
    wall = sum(tr.op_walls)

    by_name: dict[str, dict] = {}
    for s in spans.values():
        row = by_name.setdefault(s.name, {"calls": 0, "dur": 0.0, "self": 0.0,
                                          **dict.fromkeys(SPARK_FIELDS, 0.0)})
        row["calls"] += 1
        row["dur"] += s.dur
        row["self"] += selfs[s.sid]
        for k in SPARK_FIELDS:
            row[k] += s.spark[k]

    def total(prefix: str, key: str = "dur") -> float:
        return sum(r[key] for n, r in by_name.items() if n == prefix or n.startswith(prefix + "."))

    def per_op(x: float) -> float:
        return x / n_ops

    counters = tr.tracer.op_counters
    def mean_counter(k: str) -> float:
        vals = [c.get(k, 0.0) for c in counters]
        return statistics.fmean(vals) if vals else 0.0

    spark_tot = {k: sum(r[k] for r in by_name.values()) for k in SPARK_FIELDS}
    ledger_jobs = sum(r["jobs"] for n, r in by_name.items() if n.startswith("ledger."))
    build, action = total("plans.build"), total("plans.action")
    untraced_mean = tr.untraced[1] / max(1, tr.untraced[2])
    traced_mean = tr.traced[1] / max(1, tr.traced[2])
    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    m = {
        "session.start_s": first_session_s,
        "session.peak_rss_mb": py_rss + jvm_rss_mb,
        "csv_source.validate_s": per_op(total("csv_source.validate")),
        "csv_source.quarantine_s": per_op(total("csv_source.quarantine")),
        "csv_source.read_plan_s": per_op(total("csv_source.read_plan")),
        "csv_source.input_mb": mean_counter("input_mb"),
        "ledger.stuck_in_start_s": per_op(total("ledger.stuck_in_start")),
        "ledger.split_processed_s": per_op(total("ledger.split_processed")),
        "ledger.mark_start_s": per_op(total("ledger.mark_start")),
        "ledger.mark_completed_s": per_op(total("ledger.mark_completed")),
        "ledger.spark_jobs": per_op(ledger_jobs),
        "ledger.log_files": wl.ledger_files() if hasattr(wl, "ledger_files") else 0,
        "ledger.share": total("ledger") / wall if wall else 0.0,
        "marts.enrich_plan_s": per_op(total("marts.enrich_plan")),
        "marts.plan_s": per_op(total("marts.plan")),
        "writers.files_written": mean_counter("files_written"),
        "writers.mb_written": mean_counter("mb_written"),
        "writers.tasks": per_op(total("writers", "tasks")),
        "writers.sales_team_mart_share": total("writers.write.sales_team_mart") / wall if wall else 0.0,
        "pipeline.self_s": per_op(total("pipeline.run_pipeline", "self")),
        "tables.load_s": per_op(total("tables.load")),
        "plans.build_s": per_op(build),
        "plans.action_s": per_op(action),
        "plans.build_share": build / (build + action) if build + action else 0.0,
        "checkpoints.live_rdds": mean_counter("live_rdds"),
        "checkpoints.storage_mb": mean_counter("storage_mb"),
        **{f"spark.{k}": per_op(spark_tot[k]) for k in SPARK_FIELDS},
        "spark.slot_busy_ratio": spark_tot["executor_run_s"] / (wall * tr.cores) if wall else 0.0,
        "trace.op_s": traced_mean,
        "trace.overhead_ratio": traced_mean / untraced_mean - 1 if untraced_mean else 0.0,
        "trace.unattributed_jobs": float(unattributed),
    }
    for sink in ("customer_mart", "sales_team_mart", "customer_monthly_purchase", "sales_team_incentive"):
        m[f"writers.write_s.{sink}"] = per_op(total(f"writers.write.{sink}"))
    metrics = {k: (float(m[k]), PER_LAYER[k][0]) for k in PER_LAYER}

    report = [
        f"traced: {tr.traced[2]} ops in {tr.traced[1]:.2f} s, {wall / n_ops:.3f} s/op; "
        f"untraced twin: {tr.untraced[2]} ops, {untraced_mean:.3f} s/op; "
        f"tracing overhead {m['trace.overhead_ratio']:+.1%}",
        f"{'span':<42}{'calls/op':>9}{'wall s/op':>10}{'self s/op':>10}{'self %':>8}"
        f"{'jobs/op':>8}{'stages/op':>10}{'tasks/op':>9}{'exec s/op':>10}",
    ]
    for name, r in sorted(by_name.items(), key=lambda kv: -kv[1]["self"]):
        report.append(
            f"{name:<42}{r['calls'] / n_ops:>9.2f}{r['dur'] / n_ops:>10.3f}{r['self'] / n_ops:>10.3f}"
            f"{100 * r['self'] / wall if wall else 0:>7.1f}%{r['jobs'] / n_ops:>8.1f}"
            f"{r['stages'] / n_ops:>10.1f}{r['tasks'] / n_ops:>9.1f}{r['executor_run_s'] / n_ops:>10.3f}")
    report.append(
        f"{unattributed} Spark jobs ran outside any span (checks, session set-up)")
    report.append("attribution: " + ", ".join([
        f"ledger share {m['ledger.share']:.1%}",
        f"sales_team_mart write share {m['writers.sales_team_mart_share']:.1%}",
        f"plan-build share {m['plans.build_share']:.1%}",
    ]))
    return {"metrics": metrics, "report": report}
