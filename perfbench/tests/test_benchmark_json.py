"""BENCHMARK.json names exactly the workloads and metrics the code runs
and reports."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    DOC = json.load(f)


def test_workloads_match():
    assert [w["name"] for w in DOC["workloads"]] == list(WORKLOADS)
    for qs in WORKLOADS.values():
        assert len(qs) == len(set(qs)) > 0


def test_metrics_match_with_units():
    assert {m["name"]: m["unit"] for m in DOC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in DOC["per_layer"]} == PER_LAYER


def test_setup_bound_is_the_largest():
    bounds = {m["name"]: m["bound"] for m in DOC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_workload_queries_are_registered():
    import __spark_entry__ as entry

    registered = entry.queries()
    assert [n for qs in WORKLOADS.values() for n in qs if n not in registered] == []


def test_warm_passes_depend_on_the_arguments_only():
    from perfbench.run import MIN_WARM_PASSES, warm_passes
    from perfbench.workloads import PASS_S

    assert set(PASS_S) == set(WORKLOADS)
    for w in WORKLOADS:
        n = warm_passes(w, DOC["run_seconds"])
        assert n >= MIN_WARM_PASSES
        assert n == DOC["run_seconds"] // PASS_S[w] or n == MIN_WARM_PASSES
    assert warm_passes("olap_read", 0.1) == MIN_WARM_PASSES
