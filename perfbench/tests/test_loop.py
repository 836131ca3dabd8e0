"""The run loop and the oracle check, with stand-in queries; no Spark."""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.loop import SpanLog, run_pass  # noqa: E402
from perfbench.oracle import Result, value_hash  # noqa: E402


class Frame:
    """Stands in for a DataFrame: ``toPandas`` returns fixed rows."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


GOOD = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})


def _queries():
    def ok(spark, sf_dir):
        return Frame(GOOD)

    def wrong(spark, sf_dir):
        return Frame(GOOD.assign(v=[0.5, 2.5]))

    def raises_in_build(spark, sf_dir):
        raise ValueError("broken build")

    class Lazy:
        def toPandas(self):
            raise RuntimeError("broken action")

    def raises_in_action(spark, sf_dir):
        return Lazy()

    return {
        "ok": ok,
        "wrong": wrong,
        "raises_in_build": raises_in_build,
        "raises_in_action": raises_in_action,
        "rows_only": ok,
    }


def _run(names):
    log = SpanLog()
    seen = []
    qs = run_pass(None, _queries(), names, "sf", log, after_query=lambda q: seen.append(q.attrs["name"]))
    return log, qs, seen


def test_raising_query_is_counted_and_the_pass_continues():
    names = ["raises_in_build", "ok", "raises_in_action", "wrong", "rows_only"]
    log, qs, seen = _run(names)
    assert seen == names
    assert [q.attrs["name"] for q in qs] == names
    assert "broken build" in qs[0].attrs["error"]
    assert "broken action" in qs[2].attrs["error"]
    # every span is closed and nested under its query
    assert all(s.end == s.end and s.end >= s.start for s in log.spans)
    for q in qs:
        kids = [s for s in log.spans if s.parent == q.id]
        assert all(q.start <= k.start <= k.end <= q.end for k in kids)

    out = {"spans": [dataclasses.asdict(s) for s in log.spans]}
    out = json.loads(json.dumps(out))  # the worker -> runner round trip
    expected = {"ok": Result.of(GOOD), "wrong": Result.of(GOOD)}
    c = metrics.check(out, expected)
    assert (c.attempted, c.failed, c.mismatched) == (5, 2, 1)
    assert any(p.startswith("wrong mismatch: value hash") for p in c.problems)


def test_rows_only_query_fails_on_zero_rows():
    from perfbench.oracle import mismatch

    assert mismatch(Result.of(GOOD), None) is None
    assert mismatch(Result.of(GOOD.iloc[:0]), None) is not None


def test_value_hash_ignores_row_and_column_order():
    shuffled = GOOD.iloc[::-1][["v", "k"]]
    assert value_hash(shuffled) == value_hash(GOOD)
    assert value_hash(GOOD.assign(v=[0.5, 1.5000001])) == value_hash(GOOD)  # %.6g
    assert value_hash(GOOD.assign(v=[0.5, 1.51])) != value_hash(GOOD)


def _frames():
    import datetime

    import numpy as np

    return [
        GOOD,
        pd.DataFrame({"a": [1234567, 2], "b": [0.25, 1.0], "s": ["x", "y"]}),
        pd.DataFrame({"a": [1234567, 2], "b": [0.25, 1.0]}),
        pd.DataFrame({"f": np.array([1234567.0, 0.1], dtype="float32")}),
        pd.DataFrame({"f": np.array([0.1, 2.5], dtype="float32"), "s": ["x", None]}),
        pd.DataFrame({"d": [datetime.date(2020, 1, 2), None], "b": [True, False]}),
        pd.DataFrame({"t": pd.to_datetime(["2020-01-02 03:04:05", "2021-01-01 00:00:00"]), "n": [np.nan, 1.0]}),
        pd.DataFrame({"v": [[1.0, 2.0], [3.0]], "k": [1, 2]}),
    ]


def test_check_agrees_with_the_repo_oracle_gate():
    """``value_hash`` and ``dtype_family`` give what ``tools/verify_oracle.py``
    gives, on mixed, float32, date, null and array columns."""
    from perfbench.oracle import dtype_family

    gate = pytest.importorskip("tools.verify_oracle")
    for df in _frames():
        assert value_hash(df) == gate.value_hash(df)
        for c in df.columns:
            assert dtype_family(df[c]) == gate.dtype_family(df[c])


def test_int_column_against_float_oracle_column_fails():
    from perfbench.oracle import mismatch

    spark = pd.DataFrame({"k": [1, 2], "n": [5, 7]})
    duck = spark.assign(n=[5.0, 7.0])
    assert value_hash(spark) == value_hash(duck)  # %.6g renders both alike
    why = mismatch(Result.of(spark), Result.of(duck))
    assert why == "dtype n: spark=int vs oracle=float"
    assert mismatch(Result.of(spark), Result.of(spark)) is None
    # an object column with only nulls has no family, so it cannot drift
    nulls = spark.assign(n=pd.Series([None, None], dtype=object))
    assert mismatch(Result.of(nulls), Result.of(duck)) == f"value hash {value_hash(nulls)} vs oracle {value_hash(duck)}"


def test_end_to_end_metrics_come_from_warm_passes():
    log = SpanLog()
    names = ["ok", "wrong", "rows_only"]
    run_pass(None, _queries(), names, "sf", log, pass_id=0)
    warm = run_pass(None, _queries(), names, "sf", log, pass_id=1)
    log.spans[0].end += 100.0  # a slow first run must not count
    out = {
        "spans": [dataclasses.asdict(s) for s in log.spans],
        "setup": {"session.start_s": 1.0, "registry.load_s": 0.5, "warmup_s": 2.0},
        "peak_rss_mb": 100.0,
        "passes": 2,
    }
    m = metrics.end_to_end(out)
    assert set(m) == set(metrics.END_TO_END)
    assert m["setup_s"] == pytest.approx(3.5)
    assert m["pass_s"] == pytest.approx(sum(q.duration for q in warm))
    assert metrics.run_summary(out)["first_pass_s"] > 100.0
