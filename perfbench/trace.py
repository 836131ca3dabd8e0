"""The traced run: spans around calls into each layer, recorded from
outside the package, plus the Spark event log, reduced to per-layer
metrics.

Nothing under ``data_engineering_nd_spark/`` is edited. ``install`` swaps
each traced function for a wrapper that opens a span in the run's
``SpanLog``: methods on ``VersionedTable``, module functions (replaced in
every loaded package module that bound them by name) and PySpark's
reader/writer entry points, through which every file the package reads
or writes passes. Spark jobs are joined to spans afterwards by submission
time (``stats.attribute``), not by job group, because the package submits
jobs from ``ThreadPoolExecutor`` threads that do not inherit local
properties.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import sys
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field

from perfbench.stats import Span, attribute, covered, outermost, union

PKG = "data_engineering_nd_spark"

#: layer -> (module, class or None, function names; None = every public
#: function the module defines except the registered ``*_query`` callables)
LAYERS: dict[str, tuple[str, str | None, tuple[str, ...] | None]] = {
    "tables.commit": (f"{PKG}.tables", "VersionedTable", ("commit", "commit_partitioned")),
    "tables.merge": (f"{PKG}.tables", "VersionedTable", ("merge", "merge_when", "merge_dv")),
    "tables.change_feed": (f"{PKG}.tables", "VersionedTable", ("change_feed",)),
    "tables.delete": (f"{PKG}.tables", "VersionedTable", ("delete_where", "delete_where_dv")),
    "tables.maintenance": (
        f"{PKG}.tables",
        "VersionedTable",
        ("optimize", "compact", "vacuum", "purge_dv"),
    ),
    "streaming.sink": (
        f"{PKG}.streaming.sink",
        None,
        ("upsert_stream", "pump_change_feed", "refresh_aggregate_from_feed", "refresh_minmax_from_feed"),
    ),
    "graph": (f"{PKG}.operators.graph", None, None),
    "similarity": (f"{PKG}.operators.similarity", None, None),
    "dedup": (f"{PKG}.operators.dedup", None, None),
    "catalog.scoped_conf": (f"{PKG}.catalog", None, ("scoped_conf",)),
    "io.read": (
        "pyspark.sql.readwriter",
        "DataFrameReader",
        ("load", "parquet", "csv", "json", "orc", "text", "table"),
    ),
    "io.write": (
        "pyspark.sql.readwriter",
        "DataFrameWriter",
        ("save", "parquet", "csv", "json", "orc", "text", "saveAsTable", "insertInto"),
    ),
}


def _targets(module: str, cls: str | None, names: tuple[str, ...] | None):
    mod = importlib.import_module(module)
    owner = getattr(mod, cls) if cls else mod
    if names is None:
        names = tuple(
            n
            for n, f in vars(mod).items()
            if inspect.isfunction(f)
            and f.__module__ == module
            and not n.startswith("_")
            and not n.endswith("_query")
        )
    return owner, names


class Tracer:
    """Installs span wrappers into a ``SpanLog``; ``uninstall`` restores
    every replaced attribute. Also collects the streaming queries started
    during each query, whose progress reports give the micro-batch count."""

    def __init__(self, log) -> None:
        self.log = log
        self.streams: list = []
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, fn, layer: str, name: str):
        log = self.log

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = log.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                log.close(span)

        return traced

    def _replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        for layer, (module, cls, names) in LAYERS.items():
            owner, names = _targets(module, cls, names)
            for n in names:
                orig = getattr(owner, n)
                new = self._wrap(orig, layer, n)
                self._replace(owner, n, new)
                if cls is None:  # also rebind `from module import fn` copies
                    for mname, m in list(sys.modules.items()):
                        if mname.startswith(PKG) and m is not owner and getattr(m, n, None) is orig:
                            self._replace(m, n, new)
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        start = DataStreamWriter.start
        streams = self.streams

        @functools.wraps(start)
        def tracked_start(*args, **kwargs):
            q = start(*args, **kwargs)
            streams.append(q)
            return q

        self._replace(DataStreamWriter, "start", tracked_start)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def drain_streams(self) -> tuple[int, float]:
        """(micro-batches, seconds in them) of the streams started since the
        last drain, from each stream's progress reports."""
        batches, secs = 0, 0.0
        for q in self.streams:
            for p in q.recentProgress:
                batches += 1
                secs += (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0
        self.streams.clear()
        return batches, secs


# -- Spark event log ---------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs, with their stages' task totals, from the (uncompressed) event
    log of the one application that wrote to ``log_dir``."""
    paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    ran_stages: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, float("nan"))
                jobs[j.id] = j
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, j.id)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                ran_stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for sid in ran_stages:
        if sid in stage_job:
            jobs[stage_job[sid]].stages.add(sid)
    for sid, m in tasks:
        j = jobs.get(stage_job.get(sid, -1))
        if j is None:
            continue
        sr = m.get("Shuffle Read Metrics") or {}
        j.tasks += 1
        j.run_s += m.get("Executor Run Time", 0) / 1000.0
        j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        j.gc_s += m.get("JVM GC Time", 0) / 1000.0
        j.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        j.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        j.spill_b += m.get("Disk Bytes Spilled", 0)
        j.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        j.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return [j for j in jobs.values() if j.end == j.end]


# -- reduction to per-layer metrics ------------------------------------------

MB = 1024.0 * 1024.0

#: per-layer metric -> (layer whose outermost spans it sums, what)
SPAN_METRICS = {
    "tables.commit.calls": ("tables.commit", "calls"),
    "tables.commit.s": ("tables.commit", "s"),
    "tables.commit.jobs": ("tables.commit", "jobs"),
    "tables.merge.s": ("tables.merge", "s"),
    "tables.change_feed.calls": ("tables.change_feed", "calls"),
    "tables.change_feed.s": ("tables.change_feed", "s"),
    "tables.change_feed.jobs": ("tables.change_feed", "jobs"),
    "tables.delete.s": ("tables.delete", "s"),
    "tables.maintenance.s": ("tables.maintenance", "s"),
    "io.read.calls": ("io.read", "calls"),
    "io.write.calls": ("io.write", "calls"),
    "io.write.s": ("io.write", "s"),
    "streaming.sink.s": ("streaming.sink", "s"),
    "graph.s": ("graph", "s"),
    "graph.jobs": ("graph", "jobs"),
    "similarity.s": ("similarity", "s"),
    "similarity.jobs": ("similarity", "jobs"),
    "dedup.s": ("dedup", "s"),
    "dedup.jobs": ("dedup", "jobs"),
    "catalog.scoped_conf.calls": ("catalog.scoped_conf", "calls"),
}


def _in(job: Job, spans: Iterable[Span]) -> bool:
    return any(s.start <= job.submit <= s.end for s in spans)


def layer_metrics(
    spans: Sequence[Span], jobs: Sequence[Job], cores: int, passes: int
) -> dict[str, float]:
    """Per-pass per-layer metrics of a traced run. ``spans`` are every span
    of the measured passes (queries, their build/action spans and the
    layer spans under them); jobs outside every query are ignored."""
    queries = [s for s in spans if s.layer == "query"]
    qjobs = [j for j in jobs if _in(j, queries)]
    intervals = [(j.submit, j.end) for j in qjobs]
    wall = sum(q.duration for q in queries)
    owner = dict(zip((j.id for j in qjobs), attribute([j.submit for j in qjobs], spans)))
    by_id = {s.id: s for s in spans}

    def jobs_under(layer_spans: Sequence[Span]) -> int:
        """Jobs whose innermost span is one of ``layer_spans`` or under one."""
        ids = {s.id for s in layer_spans}
        n = 0
        for j in qjobs:
            s = owner[j.id]
            while s is not None and s.id not in ids:
                s = by_id.get(s.parent) if s.parent is not None else None
            n += s is not None
        return n

    builds = [s for s in spans if s.layer == "build"]
    actions = [s for s in spans if s.layer == "action"]
    build_s = sum(s.duration for s in builds)
    build_job_s = sum(covered((s.start, s.end), intervals) for s in builds)
    task_run = sum(j.run_s for j in qjobs)
    m = {
        "build.s": build_s,
        "build.python_s": build_s - build_job_s,
        "build.jobs": jobs_under(builds),
        "build.job_s": build_job_s,
        "action.s": sum(s.duration for s in actions),
        "action.jobs": jobs_under(actions),
        "spark.jobs": len(qjobs),
        "spark.stages": sum(len(j.stages) for j in qjobs),
        "spark.tasks": sum(j.tasks for j in qjobs),
        "spark.driver_gap_s": wall - sum(covered((q.start, q.end), intervals) for q in queries),
        "spark.task_run_s": task_run,
        "spark.task_cpu_s": sum(j.cpu_s for j in qjobs),
        "spark.gc_s": sum(j.gc_s for j in qjobs),
        "spark.core_util": task_run / (cores * wall) if wall > 0 else 0.0,
        "spark.shuffle_write_mb": sum(j.shuffle_write_b for j in qjobs) / MB,
        "spark.shuffle_read_mb": sum(j.shuffle_read_b for j in qjobs) / MB,
        "spark.spill_mb": sum(j.spill_b for j in qjobs) / MB,
        "spark.input_mb": sum(j.input_b for j in qjobs) / MB,
        "spark.output_mb": sum(j.output_b for j in qjobs) / MB,
    }
    for name, (layer, what) in SPAN_METRICS.items():
        top = outermost(spans, layer)
        if what == "calls":
            m[name] = len(top)
        elif what == "s":
            m[name] = _len(top)
        else:
            m[name] = jobs_under(top)
    # Sums over all passes become per-pass figures, except the ratio.
    return {k: (v if k == "spark.core_util" else v / passes) for k, v in m.items()}


def _len(spans: Sequence[Span]) -> float:
    """Wall time covered by ``spans`` (overlapping pool-thread calls once)."""
    return sum(e - s for s, e in union((s.start, s.end) for s in spans))
