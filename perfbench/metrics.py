"""Reduce an engine process's output (``worker.py``) to the benchmark's
metrics. The names and units here are the ones ``BENCHMARK.json`` lists."""

from __future__ import annotations

import statistics
from collections.abc import Sequence
from dataclasses import dataclass, field

from perfbench.oracle import Result, mismatch
from perfbench.stats import Span, geomean, self_times, tail_percentile

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "warmup_s": "s",
    "first_pass.extra_s": "s",
    "build.s": "s",
    "build.python_s": "s",
    "build.jobs": "count",
    "build.job_s": "s",
    "action.s": "s",
    "action.jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.persisted_left": "count",
    "tables.commit.calls": "count",
    "tables.commit.s": "s",
    "tables.commit.jobs": "count",
    "tables.merge.s": "s",
    "tables.change_feed.calls": "count",
    "tables.change_feed.s": "s",
    "tables.change_feed.jobs": "count",
    "tables.delete.s": "s",
    "tables.maintenance.s": "s",
    "io.read.calls": "count",
    "io.write.calls": "count",
    "io.write.s": "s",
    "io.tmp_left_mb": "MB",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.sink.s": "s",
    "graph.s": "s",
    "graph.jobs": "count",
    "similarity.s": "s",
    "similarity.jobs": "count",
    "dedup.s": "s",
    "dedup.jobs": "count",
    "catalog.scoped_conf.calls": "count",
    "trace.pass_s": "s",
    "trace.span_overhead_s": "s",
    "trace.sum_err_frac": "ratio",
}


def spans_of(out: dict) -> list[Span]:
    return [Span(**s) for s in out["spans"]]


def query_spans(spans: Sequence[Span]) -> list[Span]:
    return [s for s in spans if s.layer == "query"]


@dataclass
class Check:
    attempted: int = 0
    failed: int = 0
    mismatched: int = 0
    problems: list[str] = field(default_factory=list)


def check(out: dict, expected: dict[str, Result]) -> Check:
    """Count the queries that raised and those whose rows fail the oracle
    check. Both stay in every timing; neither stops the pass."""
    c = Check()
    for q in query_spans(spans_of(out)):
        name = q.attrs["name"]
        c.attempted += 1
        if "error" in q.attrs:
            c.failed += 1
            c.problems.append(f"{name} raised: {q.attrs['error']}")
            continue
        why = mismatch(Result.from_json(q.attrs["result"]), expected.get(name))
        if why:
            c.mismatched += 1
            c.problems.append(f"{name} mismatch: {why}")
    return c


def query_lines(out: dict) -> list[str]:
    """One line per query run: pass, name, wall, build and action seconds."""
    spans = spans_of(out)
    parts: dict[tuple[int, str], float] = {}
    for s in spans:
        if s.layer in ("build", "action"):
            parts[(s.parent, s.layer)] = s.duration
    return [
        f"pass {q.attrs['pass']} {q.attrs['name']}: {q.duration:.3f}s "
        f"(build {parts.get((q.id, 'build'), 0.0):.3f}s, action {parts.get((q.id, 'action'), 0.0):.3f}s)"
        for q in query_spans(spans)
    ]


def pass_seconds(queries: Sequence[Span]) -> list[float]:
    """Summed query wall time of each pass, in pass order."""
    per_pass: dict[int, float] = {}
    for q in queries:
        per_pass[q.attrs["pass"]] = per_pass.get(q.attrs["pass"], 0.0) + q.duration
    return [per_pass[p] for p in sorted(per_pass)]


def warm(out: dict) -> tuple[list[Span], int]:
    """The spans of the passes after the first, and how many there are.
    The first pass is every query's first run in the JVM, so its times
    depend on which query happens to compile a shared code path first."""
    spans = [s for s in spans_of(out) if s.query is not None and not s.query.startswith("0:")]
    return spans, out["passes"] - 1


def best_warm(out: dict) -> dict[str, float]:
    """Each query's fastest warm run. Interference from other processes
    only ever adds time, so the minimum over passes is the steadiest
    estimate of what the query costs. Every run makes the same number of
    warm passes (``run.warm_passes``), so a faster program does not get a
    lower minimum from more samples."""
    best: dict[str, float] = {}
    for q in query_spans(warm(out)[0]):
        name = q.attrs["name"]
        best[name] = min(best.get(name, q.duration), q.duration)
    return best


def end_to_end(out: dict) -> dict[str, float]:
    """Set-up time, and the warm pass and the per-query geometric mean with
    every query at its fastest warm run."""
    per_query = list(best_warm(out).values())
    return {
        "setup_s": sum(out["setup"].values()),
        "pass_s": sum(per_query),
        "query_geomean_s": geomean(per_query),
    }


def run_summary(out: dict) -> dict:
    """Figures for the run line that no bound applies to: the first pass,
    the median of the per-query times, the highest percentile of all warm
    query runs with ten samples beyond it, and peak resident memory."""
    walls = [q.duration for q in query_spans(warm(out)[0])]
    tail = tail_percentile(walls)
    return {
        "first_pass_s": pass_seconds(query_spans(spans_of(out)))[0],
        "query_p50_s": statistics.median(best_warm(out).values()),
        "query_samples": len(walls),
        "query_tail": {"q": tail[0], "s": tail[1]} if tail else None,
        "peak_rss_mb": out["peak_rss_mb"],
    }


def per_layer(traced: dict, jobs, cores: int) -> dict[str, float]:
    """Per-warm-pass layer metrics of a traced process, its set-up stages,
    its leak counters over the whole run, and its own span bookkeeping."""
    from perfbench.trace import layer_metrics

    spans, passes = warm(traced)
    qs = query_spans(spans)
    every = query_spans(spans_of(traced))
    m = dict(traced["setup"])
    per_pass = pass_seconds(query_spans(spans_of(traced)))
    m["first_pass.extra_s"] = per_pass[0] - statistics.median(per_pass[1:])
    m.update(layer_metrics(spans, jobs, cores, passes))
    m["spark.persisted_left"] = max(q.attrs["persisted_left"] for q in every)
    m["io.tmp_left_mb"] = max(q.attrs["tmp_left_mb"] for q in every)
    m["streaming.batches"] = sum(q.attrs["stream_batches"] for q in qs) / passes
    m["streaming.batch_s"] = sum(q.attrs["stream_batch_s"] for q in qs) / passes
    m["trace.pass_s"] = sum(best_warm(traced).values())
    m["trace.span_overhead_s"] = traced["span_overhead_s"] / traced["passes"]
    parts: dict[int, float] = {}
    for s in spans:
        if s.layer in ("build", "action"):
            parts[s.parent] = parts.get(s.parent, 0.0) + s.duration
    m["trace.sum_err_frac"] = max(abs(parts.get(q.id, 0.0) - q.duration) / q.duration for q in qs)
    return m


def layer_self_seconds(out: dict) -> dict[str, float]:
    """Per-warm-pass self time of each span layer: its spans' durations
    minus the time their child spans cover."""
    spans, passes = warm(out)
    layer = {s.id: s.layer for s in spans}
    by_layer: dict[str, float] = {}
    for sid, t in self_times(spans).items():
        by_layer[layer[sid]] = by_layer.get(layer[sid], 0.0) + t / passes
    return dict(sorted(by_layer.items(), key=lambda kv: -kv[1]))
