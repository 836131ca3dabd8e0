"""One measured session in a fresh JVM, started by ``perfbench/run.py``.

    python3 -m perfbench.worker SPEC.json OUT.json

Sets up the engine (``session.get_spark``, the query registry, the JVM
warmup), then runs whole closed-loop passes over the spec's query list, a
first pass and then the spec's fixed number of warm passes, and writes
every span, the set-up times, the leak counters and the run's identity to
OUT.json. The first pass is every query's first run in the JVM, which
compiles and loads what later runs reuse; it is recorded, and the metrics
come from the warm passes. The number of passes does not depend on how
fast the program is, so every run takes each query's fastest warm run
over the same number of samples. With ``trace`` set, layer spans are
recorded and the Spark event log is written to the spec's
``event_log_dir``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _tree_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.lstat(os.path.join(dp, fn)).st_size
            except FileNotFoundError:
                pass
    return total


def host_probe(reps: int = 3) -> float:
    """Fastest of ``reps`` runs of a fixed pure-Python loop, in seconds: the
    host's single-core speed just then. Other guests on the same cores slow
    it without showing as steal time."""
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    names, sf_dir, trace = spec["names"], spec["sf_dir"], spec["trace"]

    t0 = time.perf_counter()
    from data_engineering_nd_spark.session import get_spark

    conf = dict(spec["conf"])
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": spec["event_log_dir"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    import __spark_entry__ as entry

    queries = entry.queries()
    t2 = time.perf_counter()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise KeyError(f"unregistered queries {unknown}")
    from perfbench.loop import SpanLog, run_pass, warmup

    warmup(spark, sf_dir)
    t3 = time.perf_counter()

    sc = spark.sparkContext
    log = SpanLog()
    tracer = None
    after_query = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer(log)
        tracer.install()
        tmpdir = os.environ["TMPDIR"]

        def after_query(q):
            batches, batch_s = tracer.drain_streams()
            q.attrs.update(
                persisted_left=sc._jsc.getPersistentRDDs().size(),
                tmp_left_mb=_tree_bytes(tmpdir) / (1024.0 * 1024.0),
                stream_batches=batches,
                stream_batch_s=batch_s,
            )

    n_passes = 1 + spec["warm_passes"]
    probes = []
    for p in range(n_passes):
        probes.append(host_probe())
        run_pass(spark, queries, names, sf_dir, log, p, after_query)
    probes.append(host_probe())
    if tracer is not None:
        tracer.uninstall()

    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    identity = {
        "spark_version": spark.version,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "default_parallelism": sc.defaultParallelism,
    }
    spark.stop()

    out = {
        "setup": {
            "session.start_s": t1 - t0,
            "registry.load_s": t2 - t1,
            "warmup_s": t3 - t2,
        },
        "passes": n_passes,
        "host_probe_s": probes,
        "peak_rss_mb": rss,
        "span_overhead_s": log.overhead_s,
        "identity": identity,
        "oracle_sql": {n: q for n, q in entry.oracle_sql().items() if n in names},
        "spans": [dataclasses.asdict(s) for s in log.spans],
    }
    with open(out_path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(*sys.argv[1:3])
    # Skip the interpreter's exit hooks, which wait about 2 s for the
    # stopped JVM to go away; perfbench/run.py kills every process left in
    # this one's session and waits for them.
    sys.stdout.flush()
    os._exit(0)
