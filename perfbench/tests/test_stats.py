"""Arithmetic of the benchmark's metrics; no Spark needed."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.stats import (  # noqa: E402
    Span,
    attribute,
    covered,
    geomean,
    outermost,
    percentile,
    self_times,
    supports,
    tail_percentile,
    union,
)


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0.5) == 2.5
    assert percentile(xs, 0.0) == 1.0
    assert percentile(xs, 1.0) == 4.0
    assert percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_tail_percentile_needs_ten_samples_beyond():
    assert supports(100, 0.9)
    assert not supports(99, 0.9)
    assert supports(20, 0.5)
    assert not supports(19, 0.5)
    xs = [float(i) for i in range(1, 101)]
    q, v = tail_percentile(xs)
    assert q == 0.9 and v == pytest.approx(90.1)
    q, _ = tail_percentile(xs[:40])
    assert q == 0.75
    assert tail_percentile(xs[:19]) is None


def test_geomean():
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert geomean([0.01, 100.0]) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_union_and_coverage_count_overlap_once():
    assert union([(3, 4), (0, 2), (1, 3), (5, 5)]) == [(0, 4)]
    assert covered((1, 10), [(0, 2), (1.5, 3), (8, 12)]) == pytest.approx(4.0)
    assert covered((0, 1), []) == 0.0


def _span(i, start, end, parent=None, layer="x", query="q"):
    return Span(id=i, name=f"s{i}", layer=layer, start=start, end=end, parent=parent, query=query)


def test_self_time_subtracts_nested_and_overlapping_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps sibling 1 (pool threads)
        _span(3, 2.0, 3.0, parent=1),
        _span(4, 9.0, 12.0, parent=0),  # child running past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_jobs_attributed_to_innermost_span_across_pool_threads():
    # query 0..10; build 0..6 with two pool-thread commits overlapping in
    # time (both children of build); action 6..10
    spans = [
        _span(0, 0.0, 10.0, layer="query"),
        _span(1, 0.0, 6.0, parent=0, layer="build"),
        _span(2, 1.0, 4.0, parent=1, layer="commit"),
        _span(3, 2.0, 5.0, parent=1, layer="commit"),
        _span(4, 6.0, 10.0, parent=0, layer="action"),
    ]
    got = attribute([0.5, 1.5, 3.0, 4.5, 7.0, 11.0], spans)
    assert [s.id if s else None for s in got] == [1, 2, 3, 3, 4, None]


def test_outermost_skips_same_layer_descendants():
    spans = [
        _span(0, 0, 10, layer="query"),
        _span(1, 1, 9, parent=0, layer="tables.merge"),
        _span(2, 2, 3, parent=1, layer="tables.commit"),
        _span(3, 2.5, 2.8, parent=2, layer="tables.merge"),
        _span(4, 5, 6, parent=0, layer="tables.merge"),
    ]
    assert [s.id for s in outermost(spans, "tables.merge")] == [1, 4]
    assert [s.id for s in outermost(spans, "tables.commit")] == [2]


def test_layer_metrics_split_query_wall_and_attribute_jobs():
    from perfbench.trace import Job, layer_metrics

    spans = [
        _span(0, 0.0, 10.0, layer="query"),
        _span(1, 0.0, 6.0, parent=0, layer="build"),
        _span(2, 1.0, 4.0, parent=1, layer="tables.commit"),
        _span(3, 2.0, 5.0, parent=1, layer="tables.commit"),  # pool thread
        _span(4, 6.0, 10.0, parent=0, layer="action"),
    ]
    jobs = [
        Job(0, 1.5, 2.5, tasks=4, run_s=3.0),  # commit 2
        Job(1, 2.2, 4.8, tasks=2, run_s=1.0),  # commit 3 (overlaps job 0)
        Job(2, 7.0, 9.0, tasks=8, run_s=6.0),  # action
        Job(3, 11.0, 12.0, tasks=1, run_s=1.0),  # after the query: ignored
    ]
    m = layer_metrics(spans, jobs, cores=4, passes=1)
    assert m["spark.jobs"] == 3
    assert m["build.jobs"] == 2 and m["action.jobs"] == 1
    assert m["tables.commit.calls"] == 2 and m["tables.commit.jobs"] == 2
    assert m["tables.commit.s"] == pytest.approx(4.0)  # 1..5 covered once
    assert m["build.job_s"] == pytest.approx(4.8 - 1.5)
    assert m["build.python_s"] + m["build.job_s"] + m["action.s"] == pytest.approx(10.0)
    assert m["spark.driver_gap_s"] == pytest.approx(10.0 - 3.3 - 2.0)
    assert m["spark.core_util"] == pytest.approx(10.0 / (4 * 10.0))
    assert m["spark.tasks"] == 14
