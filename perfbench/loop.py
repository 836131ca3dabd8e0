"""The benchmark's run loop: the JVM warmup and one closed-loop pass over a
query list, importable by any harness that times registered queries.

    spans = run_pass(spark, queries(), names, sf_dir)

One client calls each query in turn and the next query starts only after
the previous one's rows are in the driver. A query's wall time runs from
the callable's call to its materialized rows (``toPandas``, the action the
oracle check needs: ``count()`` lets Catalyst prune unreferenced columns,
UDF outputs included). The rows are hashed after the timer stops. A query
that raises is recorded and the pass continues.
"""

from __future__ import annotations

import os
import threading
import time
import traceback
from collections.abc import Callable, Sequence

from perfbench.oracle import Result
from perfbench.stats import Span


def warmup(spark, sf_dir: str) -> None:
    """Compile the first-use paths (parquet footers, whole-stage codegen,
    broadcast, window, Python/Arrow workers, local checkpoints) in small
    jobs: the same steps as the repo's ``bench.py`` warmup. Without it the
    first pass pays for them inside full-size queries, which costs more
    time than the warmup takes."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li.count()
    (
        li.join(F.broadcast(orders.limit(100)), li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)))
        .collect()
    )
    li.limit(1000).select(F.row_number().over(Window.orderBy("l_orderkey"))).count()
    li.dropDuplicates(["l_orderkey"]).limit(1).count()

    def _ident(v):
        return v

    li.limit(256).select(F.pandas_udf(_ident, "double")(F.col("l_quantity"))).count()
    li.limit(256).mapInPandas(lambda it: it, schema=li.schema).count()
    li.limit(16).localCheckpoint().count()


class SpanLog:
    """Spans kept in memory in the order they open, written out by the
    caller when the run ends.

    Each thread nests the spans it opens. A span opened on a thread with
    nothing open (a driver thread pool, a streaming ``foreachBatch``
    callback) gets the loop's current build or action span as parent, and
    every span gets the id of the query running at the time: the loop is
    a closed loop, so one query runs at a time."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        #: seconds spent inside open/close, the cost of recording spans
        self.overhead_s = 0.0
        self.query: str | None = None
        self.fallback: Span | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.fallback
        with self._lock:
            s = Span(
                id=len(self.spans),
                name=name,
                layer=layer,
                start=time.time(),
                end=float("nan"),
                parent=parent.id if parent else None,
                query=self.query,
            )
            self.spans.append(s)
        stack.append(s)
        self.overhead_s += time.perf_counter() - t0
        return s

    def close(self, span: Span) -> None:
        span.end = time.time()
        t0 = time.perf_counter()
        stack = self._stack()
        if span in stack:
            del stack[stack.index(span):]
        self.overhead_s += time.perf_counter() - t0


def run_pass(
    spark,
    queries: dict[str, Callable],
    names: Sequence[str],
    sf_dir: str,
    log: SpanLog | None = None,
    pass_id: int = 0,
    after_query: Callable[[Span], None] | None = None,
) -> list[Span]:
    """Run ``names`` once, in order. Returns one ``query`` span per query
    (attrs ``name``, ``pass`` and ``result`` or ``error``) whose children in
    ``log`` are a ``build`` span, ending when the callable returns its
    DataFrame, and an ``action`` span, ending when the rows are
    materialized. ``after_query`` runs outside the timed interval, e.g. to
    sample leak counters."""
    log = log or SpanLog()
    out = []
    for name in names:
        log.query = f"{pass_id}:{name}"
        q = log.open(name, "query")
        q.attrs.update({"name": name, "pass": pass_id})
        b = log.fallback = log.open("build", "build")
        a = None
        pdf = None
        try:
            df = queries[name](spark, sf_dir)
            log.close(b)
            a = log.fallback = log.open("action", "action")
            pdf = df.toPandas()
            log.close(a)
        except Exception as ex:  # one broken query must not stop the pass
            q.attrs["error"] = "".join(
                traceback.format_exception_only(type(ex), ex)
            ).strip()[:300]
        log.close(q)
        for s in (b, a):
            if s is not None and s.end != s.end:  # left open by the error
                s.end = q.end
        log.fallback = None
        if pdf is not None:
            q.attrs["result"] = Result.of(pdf)
        if after_query is not None:
            after_query(q)
        log.query = None
        out.append(q)
    return out
