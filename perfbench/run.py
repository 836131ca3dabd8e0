"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 20 --trace 0

Run from the repository root. The benchmark generates its sf0.1 input
tables under ``.perfbench/`` (``perfbench/datagen.py``, fixed data seed)
and starts a fresh engine process (``perfbench/worker.py``) on
``local[<cpus>]`` with a private ``TMPDIR``, working directory and Spark
local dirs. That process sets up the engine and runs whole closed-loop
passes over the workload's query list: a first pass, in which every query
runs for the first time in the JVM, then a fixed number of warm passes,
as many as fit in ``--seconds`` at the workload's nominal warm-pass
time (``workloads.PASS_S``), at least two. ``--seed`` only permutes the order
within a pass. Every query's rows are checked against the DuckDB oracle.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced engine process with ``--trace 1``, which
also writes its spans and Spark jobs to ``.perfbench/traces/``. The line
before it echoes the run's identity (cpus, master, Spark version, sf,
seed, driver memory, source revision), the first pass's time, the median
query, the tail percentile the sample supports, peak resident memory and
the failure and mismatch fractions, the share of the host's CPU time
stolen by other guests while the run lasted, and the median time of a
fixed pure-Python loop run before each pass (``host_probe_ms``), which
shows when other guests on the same cores slowed the host.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.workloads import PASS_S, WORKLOADS  # noqa: E402

SF = 0.1
DATA_SEED = 42
#: wall-clock limit for a run; a stuck engine process is killed at it
DEADLINE_S = 170.0
#: warm passes per run at least, so a query's fastest warm run rides out
#: one disturbed pass
MIN_WARM_PASSES = 2
PROGRAM = ("__spark_entry__.py", "data_engineering_nd_spark")
#: generated inputs and oracle results, reused across runs
CACHE = os.path.join(ROOT, ".perfbench", "cache")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot. Steal is the time a
    virtual CPU was ready but another guest ran; a run with a high share of
    it ran on a slowed host."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return round((t1[0] - t0[0]) / max(1, t1[1] - t0[1]), 4)


def warm_passes(workload: str, seconds: float) -> int:
    """Warm passes that fit in ``seconds`` at the workload's nominal pass
    time, at least ``MIN_WARM_PASSES``. The count depends only on the
    arguments, never on how fast the program runs, so each query's fastest
    warm run is a minimum over the same number of samples in every run."""
    return max(MIN_WARM_PASSES, int(seconds // PASS_S[workload]))


def source_revision() -> dict[str, str | None]:
    """The git commit when there is one, and always a digest of the
    engine's source files, so a result names the code it measured."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = None
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, PROGRAM[0])]
    for dp, dns, fns in os.walk(os.path.join(ROOT, PROGRAM[1])):
        dns[:] = sorted(d for d in dns if d != "__pycache__")
        paths += [os.path.join(dp, f) for f in sorted(fns) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def inputs(sf: float, seed: int) -> str:
    """The generated tables, made once per checkout and generator version
    (a second or two at sf0.1) and reused by later runs."""
    from perfbench import datagen

    with open(datagen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    sf_dir = os.path.join(CACHE, f"data-sf{sf}-seed{seed}-{version}")
    if not os.path.isdir(sf_dir):
        tmp = f"{sf_dir}.tmp{os.getpid()}"
        datagen.write_dataset(tmp, sf, seed)
        os.replace(tmp, sf_dir)
    return sf_dir


def oracle_results(sf_dir: str, sql: dict[str, str]) -> dict:
    """Oracle results for ``sql``, cached beside the tables by the SQL
    text and the version of ``perfbench/oracle.py``, so a changed oracle
    or check is re-run."""
    from perfbench import oracle

    with open(oracle.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(sf_dir, f"oracle-{version}.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    keys = {n: hashlib.sha256(q.encode()).hexdigest() for n, q in sql.items()}
    missing = {n: q for n, q in sql.items() if keys[n] not in cache}
    if missing:
        for n, r in oracle.expected_results(sf_dir, missing).items():
            cache[keys[n]] = dataclasses.asdict(r)
        with open(f"{path}.tmp{os.getpid()}", "w") as f:
            json.dump(cache, f)
        os.replace(f"{path}.tmp{os.getpid()}", path)
    return {n: oracle.Result.from_json(cache[keys[n]]) for n in sql}


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            if int(fields[3]) == sid:
                pids.append(int(d))
    return pids


def stop_session(sid: int, timeout: float = 20.0) -> None:
    """Kill every process left in a worker's session (the JVM, and the
    PySpark daemon and Python workers, which run in a process group of
    their own) and wait until none remains."""
    end = time.monotonic() + timeout
    while pids := _session_pids(sid):
        if time.monotonic() > end:
            raise RuntimeError(f"processes {pids} of session {sid} did not exit")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_worker(run_dir: str, spec: dict, deadline: float) -> dict:
    """Start one engine process with its own TMPDIR, cwd and Spark local
    dirs under ``run_dir`` and return what it wrote."""
    dirs = {d: os.path.join(run_dir, d) for d in ("tmp", "local", "cwd", "events")}
    for d in dirs.values():
        os.makedirs(d)
    spec = dict(
        spec,
        event_log_dir=dirs["events"],
        conf={"spark.sql.warehouse.dir": os.path.join(dirs["cwd"], "spark-warehouse")},
    )
    spec_path, out_path = os.path.join(run_dir, "spec.json"), os.path.join(run_dir, "out.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    # the engine's own driver memory default applies (the run line echoes
    # the value in effect), whatever the calling shell sets
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(spec["cpus"]),
        PYSPARK_PYTHON=sys.executable,
        # every JVM (the launcher too) keeps its temp files and perf data
        # out of the system /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    )
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", spec_path, out_path],
            cwd=dirs["cwd"],
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            proc.kill()
            proc.wait()
            stop_session(proc.pid)
    if code != 0:
        with open(os.path.join(run_dir, "worker.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"engine process exited with {code}:\n{tail}")
    with open(out_path) as f:
        out = json.load(f)
    out["event_log_dir"] = dirs["events"]
    return out


def save_trace(name: str, out: dict, jobs: list) -> None:
    """Keep a traced run's spans, Spark jobs and per-layer self times."""
    self_s = metrics.layer_self_seconds(out)
    print(f"perfbench: self seconds per warm pass by layer {json.dumps(self_s)}", file=sys.stderr)
    path = os.path.join(ROOT, ".perfbench", "traces", f"{name}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        jobs = [dict(vars(j), stages=sorted(j.stages)) for j in jobs]
        json.dump({"spans": out["spans"], "jobs": jobs, "self_s": self_s}, f)
    print(f"perfbench: spans and jobs written to {path}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its engine process (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    ticks0 = cpu_ticks()

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2

    names = list(WORKLOADS[args.workload])
    random.Random(args.seed).shuffle(names)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(CACHE, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        sf_dir = inputs(SF, DATA_SEED)
        spec = {
            "names": names,
            "sf_dir": sf_dir,
            "warm_passes": warm_passes(args.workload, args.seconds),
            "cpus": cpus,
        }
        out = run_worker(run_dir, dict(spec, trace=bool(args.trace)), deadline)
        check = metrics.check(out, oracle_results(sf_dir, out["oracle_sql"]))
        for line in metrics.query_lines(out) + check.problems:
            print(f"perfbench: {line}", file=sys.stderr)
        if args.trace:
            from perfbench.trace import read_event_log

            jobs = read_event_log(out["event_log_dir"])
            values = metrics.per_layer(out, jobs, cpus)
            table = metrics.PER_LAYER
            save_trace(f"{args.workload}-seed{args.seed}", out, jobs)
        else:
            values = metrics.end_to_end(out)
            table = metrics.END_TO_END
        identity = dict(
            workload=args.workload,
            seed=args.seed,
            sf=SF,
            cpus=cpus,
            **out["identity"],
            **source_revision(),
            passes=out["passes"],
            queries_per_pass=len(names),
            **metrics.run_summary(out),
            failed_frac=check.failed / check.attempted,
            mismatch_frac=check.mismatched / check.attempted,
            run_s=round(time.monotonic() - t_start, 3),
            cpu_steal_frac=steal_frac(ticks0, cpu_ticks()),
            host_probe_ms=round(1000 * statistics.median(out["host_probe_s"]), 2),
        )
        print(json.dumps({"run": identity}))
        print(
            json.dumps(
                {
                    "correct": check.failed == 0 and check.mismatched == 0,
                    "attempted": check.attempted,
                    "failed": check.failed,
                    "metrics": {
                        k: {"value": values[k], "unit": unit} for k, unit in table.items()
                    },
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
