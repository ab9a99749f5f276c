"""Layer attribution for a traced run, from spans and the Spark event log.

Spans are recorded around calls into the engine from the benchmark's
own files: the benchmark's direct calls go through :meth:`Tracer.span`,
and :meth:`Tracer.wrap` replaces public engine, lake and manifest
entry points on the objects of one run with traced versions. Nothing
under ``dx/`` is edited. Before calling into a layer a span sets the
thread's ``spark.job.description`` to ``<workload>:<batch>:<layer>``
(and its span id in ``perfbench.span``), so every Spark job that call
launches carries the layer in the event log.

A job is attributed, in this order:

1. by the span open on its thread when it was submitted (the
   ``perfbench.span`` property; Spark overwrites the description of
   its own helper jobs, such as parallel file listing);
2. refined by the action that launched it: inside a replay batch (and
   outside its merge) ``isEmpty`` is the engine's empty probe and every
   other job belongs to its winner set (``count`` and the map-stage
   jobs adaptive execution submits for it); the first job of a point
   lookup is the one-row bucket-hash job;
3. for threads no span covers (the engine's lineage pool), by action
   and time window: a ``collect`` job without a description submitted
   while a replay batch span is open is the lineage aggregation.

Line numbers of ``dx/`` code are never used: a Python call site does
not reach the event log (``isEmpty`` shows up as
``isEmpty at NativeMethodAccessorImpl.java:0``).
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC = "spark.job.description"
SPAN = "perfbench.span"

# Share of task time that may stay unattributed before a traced run fails.
MAX_UNATTRIBUTED = 0.05


@dataclass
class Span:
    id: int
    layer: str
    batch: str
    parent: int | None
    start: float  # epoch seconds
    end: float


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and
    wrap nothing, so the untraced path runs the engine unmodified."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object, bool]] = []

    @contextmanager
    def span(self, layer: str, batch: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if batch is None:
            batch = parent.batch if parent is not None else "-"
        with self._lock:
            sid = next(self._ids)
        sc = self.spark.sparkContext if self.spark is not None else None
        prev = None
        if sc is not None:
            prev = (sc.getLocalProperty(DESC), sc.getLocalProperty(SPAN))
            sc.setLocalProperty(DESC, f"{self.workload}:{batch}:{layer}")
            sc.setLocalProperty(SPAN, str(sid))
        span = Span(sid, layer, batch, parent.id if parent else None, time.time(), 0.0)
        stack.append(span)
        try:
            yield
        finally:
            span.end = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(DESC, prev[0])
                sc.setLocalProperty(SPAN, prev[1])
            with self._lock:
                self.spans.append(span)

    def wrap(self, obj, name: str, layer: str, batch=None) -> None:
        """Route ``obj.name`` through a span. ``batch`` may be a
        function of the call's arguments that names the batch."""
        if not self.enabled:
            return
        orig = getattr(obj, name)
        had_own = name in getattr(obj, "__dict__", {})

        def traced(*args, **kwargs):
            b = batch(*args, **kwargs) if callable(batch) else batch
            with self.span(layer, b):
                return orig(*args, **kwargs)

        setattr(obj, name, traced)
        self._patches.append((obj, name, orig, had_own))

    def wrap_engine(self, engine) -> None:
        """Trace one ReplayEngine and the LakeTable it writes."""
        from dx import manifest

        self.wrap(engine, "max_lsn", "engine.plan")
        self.wrap(engine, "ddl_events", "engine.plan")
        self.wrap(engine, "run_batch", "engine.batch",
                  batch=lambda lo, hi, *a, **k: f"b{lo + 1}-{hi}")
        if not any(o is manifest for o, _, _, _ in self._patches):
            self.wrap(manifest, "already_applied", "manifest.already_applied")
        table = engine.table
        self.wrap(table, "merge", "lake.merge", batch=lambda *a, **k: k.get("batch_id", "-"))
        self.wrap(table, "checkpoint_watermark", "lake.checkpoint")
        self.wrap(table, "alter", "lake.alter")
        self.wrap(table, "compact", "lake.compact", batch="compact")
        self.wrap(table, "delta_depth", "lake.delta_depth")

    def unwrap_all(self) -> None:
        for obj, name, orig, had_own in reversed(self._patches):
            if had_own:  # a module function
                setattr(obj, name, orig)
            else:  # an instance attribute shadowing the class's method
                delattr(obj, name)
        self._patches.clear()


# ------------------------------------------------------------- event log
@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    desc: str | None
    span: int | None
    action: str
    stages: list[int]
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    output_bytes: int = 0
    failed_tasks: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)
    layer: str | None = None

    @property
    def wall(self) -> float:
        return max(0.0, self.end - self.submit)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of every application log under ``log_dir`` with their
    tasks' metrics. A stage's tasks count toward the first job that
    lists the stage (later jobs list it again only as skipped)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, errors="replace") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    infos = ev.get("Stage Infos") or []
                    final = max(infos, key=lambda s: s["Stage ID"])["Stage Name"] if infos else ""
                    span = props.get(SPAN)
                    job = Job(
                        id=ev["Job ID"], submit=ev["Submission Time"] / 1e3, end=0.0,
                        desc=props.get(DESC), span=int(span) if span else None,
                        action=final.split(" at ", 1)[0], stages=list(ev.get("Stage IDs", [])),
                    )
                    jobs[job.id] = job
                    for sid in job.stages:
                        stage_job.setdefault(sid, job.id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    job.tasks += 1
                    job.run_s += m.get("Executor Run Time", 0) / 1e3
                    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += m.get("JVM GC Time", 0) / 1e3
                    job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    if info.get("Failed") or (ev.get("Task End Reason") or {}).get(
                            "Reason", "Success") != "Success":
                        job.failed_tasks += 1
                    job.intervals.append(
                        (info.get("Launch Time", 0) / 1e3, info.get("Finish Time", 0) / 1e3)
                    )
    for job in jobs.values():
        if job.end == 0.0:
            job.end = max((b for _, b in job.intervals), default=job.submit)
    return sorted(jobs.values(), key=lambda j: (j.submit, j.id))


# ------------------------------------------------------------ attribution
def attribute(jobs: list[Job], spans: list[Span]) -> None:
    """Set ``job.layer`` for every job the rules can place."""
    by_id = {s.id: s for s in spans}
    batches = [s for s in spans if s.layer == "engine.batch"]
    seen_spans: set[int] = set()
    for job in jobs:  # submission order
        # the span id, not the description: Spark replaces the
        # description of its own helper jobs (parallel file listing)
        span = by_id.get(job.span)
        if span is not None:
            first = span.id not in seen_spans
            seen_spans.add(span.id)
            job.layer = _refine(span.layer, job.action, first)
        elif job.action == "collect" and any(
                b.start <= job.submit <= b.end for b in batches):
            job.layer = "engine.lineage"


def _refine(layer: str, action: str, first_in_span: bool) -> str:
    if layer == "engine.batch":
        # outside its merge span, a batch runs only the empty probe and
        # the winner set: ``count`` plus the adaptive-execution map-stage
        # jobs of its aggregation, which carry no action name
        return "engine.empty_probe" if action == "isEmpty" else "engine.winner_set"
    if layer == "lake.merge":
        return "lake.write"
    if layer == "lake.point":
        return "lake.bucket_of" if first_in_span else "lake.point_read"
    if layer == "lake.point_files":
        return "lake.bucket_of"
    return layer


def _union_within(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one interval."""
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_a is None or a > cur_b:
            if cur_a is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_a is not None:
        covered += cur_b - cur_a
    return covered


# (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("engine.plan_s", "s", "lower"),
    ("engine.empty_probe_s", "s", "lower"),
    ("engine.winner_set_s", "s", "lower"),
    ("engine.lineage_s", "s", "lower"),
    ("engine.jobs_per_batch", "count", "lower"),
    ("engine.driver_only_s", "s", "lower"),
    ("engine.batches", "count", "lower"),
    ("engine.empty_batches", "count", "lower"),
    ("engine.ddl_batches", "count", "lower"),
    ("dedup.shuffle_bytes", "bytes", "lower"),
    ("dedup.keep_ratio", "ratio", "higher"),
    ("lake.merge_s", "s", "lower"),
    ("lake.write_s", "s", "lower"),
    ("lake.write_task_cpu_s", "s", "lower"),
    ("lake.write_gc_s", "s", "lower"),
    ("lake.merge_self_s", "s", "lower"),
    ("lake.meta_file_reads", "count", "lower"),
    ("lake.bytes_written", "bytes", "lower"),
    ("lake.files_written", "count", "lower"),
    ("lake.write_amp", "ratio", "lower"),
    ("lake.compact_s", "s", "lower"),
    ("lake.compactions", "count", "lower"),
    ("lake.compact_bytes", "bytes", "lower"),
    ("lake.delta_depth_max", "count", "lower"),
    ("lake.point_files_kept", "count", "lower"),
    ("lake.prune_ratio", "ratio", "lower"),
    ("lake.bucket_of_s", "s", "lower"),
    ("lake.point_task_cpu_s", "s", "lower"),
    ("lake.scan_task_cpu_s", "s", "lower"),
    ("lake.scan_shuffle_bytes", "bytes", "lower"),
    ("manifest.already_applied_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("trace.unattributed_frac", "ratio", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]


@dataclass
class RunFacts:
    """What the workload observed during the traced run, besides
    spans and jobs: the engine's batch records and lake file facts."""

    batch_metrics: list = field(default_factory=list)
    meta_file_reads: int = 0
    files_written: int = 0
    bytes_on_disk: int = 0
    live_bytes: int = 0
    delta_depth_max: int = 0
    point_files: list[tuple[int, int]] = field(default_factory=list)  # (kept, total)
    overhead_frac: float = 0.0


def layer_metrics(jobs: list[Job], spans: list[Span], facts: RunFacts) -> dict[str, float]:
    """Per-layer totals over the traced run (its work is fixed, so
    totals compare across commits)."""
    def span_sum(layer):
        return sum(s.end - s.start for s in spans if s.layer == layer)

    def jobs_of(*layers):
        return [j for j in jobs if j.layer in layers]

    def wall(*layers):
        return sum(j.wall for j in jobs_of(*layers))

    batch_spans = [s for s in spans if s.layer == "engine.batch"]
    in_batches = [j for j in jobs if any(b.start <= j.submit <= b.end for b in batch_spans)]
    all_tasks = [iv for j in jobs for iv in j.intervals]
    driver_only = sum(
        (s.end - s.start) - _union_within(all_tasks, s.start, s.end)
        for s in spans if s.layer == "engine.run"
    )
    merge_self = 0.0
    for s in spans:
        if s.layer == "lake.merge":
            inside = [(j.submit, j.end) for j in jobs if j.span == s.id]
            merge_self += (s.end - s.start) - _union_within(inside, s.start, s.end)
    data = [m for m in facts.batch_metrics if not m.skipped and m.events > 0]
    empty = [m for m in facts.batch_metrics
             if not m.skipped and m.events == 0 and not m.ddl_applied]
    ddl = [m for m in facts.batch_metrics if not m.skipped and m.ddl_applied]
    events = sum(m.events for m in data)
    writes = jobs_of("lake.write")
    compacts = jobs_of("lake.compact")
    scans = jobs_of("lake.scan", "lake.changes")
    total_run = sum(j.run_s for j in jobs)
    unattributed = sum(j.run_s for j in jobs if j.layer is None)
    kept = [k for k, _ in facts.point_files]
    total_files = sum(t for _, t in facts.point_files)
    session = [s for s in spans if s.layer == "session.start"]
    return {
        "engine.plan_s": span_sum("engine.plan"),
        "engine.empty_probe_s": wall("engine.empty_probe"),
        "engine.winner_set_s": wall("engine.winner_set"),
        "engine.lineage_s": wall("engine.lineage"),
        "engine.jobs_per_batch": len(in_batches) / max(1, len(batch_spans)),
        "engine.driver_only_s": driver_only,
        "engine.batches": len(data),
        "engine.empty_batches": len(empty),
        "engine.ddl_batches": len(ddl),
        "dedup.shuffle_bytes": sum(j.shuffle_write for j in writes),
        "dedup.keep_ratio": sum(m.applied_rows for m in data) / events if events else 0.0,
        "lake.merge_s": span_sum("lake.merge"),
        "lake.write_s": sum(j.wall for j in writes),
        "lake.write_task_cpu_s": sum(j.cpu_s for j in writes),
        "lake.write_gc_s": sum(j.gc_s for j in writes),
        "lake.merge_self_s": merge_self,
        "lake.meta_file_reads": facts.meta_file_reads / max(1, len(batch_spans)),
        "lake.bytes_written": sum(j.output_bytes for j in writes + compacts),
        "lake.files_written": facts.files_written,
        "lake.write_amp": facts.bytes_on_disk / facts.live_bytes if facts.live_bytes else 0.0,
        "lake.compact_s": span_sum("lake.compact"),
        "lake.compactions": len({j.span for j in compacts}),
        "lake.compact_bytes": sum(j.output_bytes for j in compacts),
        "lake.delta_depth_max": facts.delta_depth_max,
        "lake.point_files_kept": sum(kept) / len(kept) if kept else 0.0,
        "lake.prune_ratio": sum(kept) / total_files if total_files else 0.0,
        "lake.bucket_of_s": wall("lake.bucket_of"),
        "lake.point_task_cpu_s": sum(j.cpu_s for j in jobs_of("lake.point_read")),
        "lake.scan_task_cpu_s": sum(j.cpu_s for j in scans),
        "lake.scan_shuffle_bytes": sum(j.shuffle_write for j in scans),
        "manifest.already_applied_s": span_sum("manifest.already_applied"),
        "session.start_s": session[0].end - session[0].start if session else 0.0,
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.task_cpu_s": sum(j.cpu_s for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.failed_tasks": sum(j.failed_tasks for j in jobs),
        "trace.unattributed_frac": unattributed / total_run if total_run else 0.0,
        "trace.overhead_frac": facts.overhead_frac,
    }


def layer_summary(jobs: list[Job]) -> list[str]:
    """One line per attributed layer: jobs, actions, job wall and task time."""
    by_layer: dict[str, list[Job]] = {}
    for j in jobs:
        by_layer.setdefault(j.layer or "(unattributed)", []).append(j)
    return [
        f"{layer}: {len(js)} jobs {sorted({j.action for j in js})} "
        f"wall {sum(j.wall for j in js):.3f}s task {sum(j.run_s for j in js):.3f}s"
        for layer, js in sorted(by_layer.items())
    ]


def unattributed_report(jobs: list[Job], limit: int = 20) -> list[str]:
    return [
        f"job {j.id} action={j.action} desc={j.desc!r} tasks={j.tasks} run={j.run_s:.3f}s"
        for j in jobs if j.layer is None
    ][:limit]
