"""Benchmark of the Spark engine on three workloads.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads:

- ``analyst-queries``: registry queries bound by scans, shuffles and
  aggregates, in a warm session.
- ``etl-pipeline``: extract -> quality gate -> star schema -> Parquet in a
  cold process, with real writes.
- ``iterative-queries``: graph fixpoint, ANN and dedup queries bound by the
  control plane (many small jobs), in a warm session. Not declared in
  ``BENCHMARK.json`` (three workloads do not fit the run budget next to an
  analyst-queries run long enough to be steady); run it by hand when
  changing the job count or the fixpoint loops.

Each workload runs in its own Spark driver process (``workload.py``) at
``local[<nproc>]``. With ``--trace 0`` the last stdout line carries the
end-to-end metrics. With ``--trace 1`` the workload runs traced (spans
plus Spark's event log) and the line carries the per-layer metrics and the
tracing overhead: traced run_s minus the median run_s of this checkout's
earlier untraced runs of the same sources (or, when there are none, of an
untraced run made first). Every run leaves a JSON record under
``.perfbench/runs/``.

Inputs: the read-only TPC-H-style tables under ``$PERFBENCH_DATA/sf0.1`` and
``sf0.01`` (default: the parent of the program's ``tables.DEFAULT_SF_DIR``);
the seed sets the order of operations and the generated REST pages.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analyst-queries", "iterative-queries", "etl-pipeline")
#: Seconds a run may take before its workload process is stopped.
TIMEOUT_S = 170
DRIVER_MEMORY = "3g"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops the workload process it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    data = os.environ.get("PERFBENCH_DATA")
    package = os.path.join(ROOT, "financial_data_engineering_spark")
    if not os.path.isdir(package):
        print(f"perfbench: no program at {package}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    runs_dir = os.path.join(state, "runs")
    work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    source = _source_sha1()
    # The tracing overhead is traced minus untraced run_s. The untraced
    # figure is the median of this checkout's earlier untraced runs of the
    # workload on the same sources; only without one is it measured here.
    earlier = _untraced_run_s(runs_dir, args.workload, source) if args.trace else []
    load_start = os.getloadavg()[0]
    steal_start = _steal_s()
    started = time.time()
    deadline = time.monotonic() + TIMEOUT_S
    try:
        plain = None if earlier else _child(args, data, work, False, deadline)
        traced = _child(args, data, work, True, deadline) if args.trace else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()[0]
    steal = _steal_s() - steal_start

    runs = [r for r in (plain, traced) if r]
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    main_run = plain or traced
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": _commit(),
        "source_sha1": source,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        # CPU time the host gave to other guests while this run wanted it:
        # a run slowed by a busy host shows here, not in the program
        "steal_s": steal,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(started)),
        "metrics": plain and plain["metrics"],
        **main_run["record"],
        "failures": [f for r in runs for f in r["failures"]],
    }
    if traced:
        untraced = statistics.median(earlier) if earlier else plain["metrics"]["run_s"]
        overhead = traced["metrics"]["run_s"] - untraced
        layers = dict(traced["per_layer"], **{"trace.overhead_s": overhead})
        record.update(per_layer=layers, traced_metrics=traced["metrics"],
                      trace_overhead_run_s=overhead, untraced_run_s=untraced,
                      untraced_runs=len(earlier) or 1)
    # the metric names and units are the ones BENCHMARK.json declares
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if traced else "end_to_end"]
    values = layers if traced else plain["metrics"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    os.makedirs(runs_dir, exist_ok=True)
    path = os.path.join(
        runs_dir, f"{record['utc']}-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    for failure in record["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print(f"perfbench: run record {path}", file=sys.stderr)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    sys.stderr.flush()
    print(json.dumps(line), flush=True)
    return 0


def _untraced_run_s(runs_dir: str, workload: str, source: str) -> list[float]:
    """run_s of the earlier untraced runs of ``workload`` on ``source``."""
    found = []
    for path in glob.glob(os.path.join(runs_dir, "*.json")):
        with open(path) as f:
            rec = json.load(f)
        if (rec["workload"], rec["trace"], rec.get("source_sha1")) == (workload, 0, source):
            found.append(rec["metrics"]["run_s"])
    return found


def _child(args, data: str | None, work: str, trace: bool, deadline: float) -> dict:
    """Run the workload in a fresh driver process and return its result.
    The process runs in its own session so that it, the JVM and the
    Python workers can all be stopped together."""
    cwd = os.path.join(work, "trace" if trace else "plain")
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(cwd, "result.json")
    env = dict(os.environ)
    env.update(
        # Python workers import the program from the checkout, whatever
        # the caller's working directory
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # a bounded heap keeps peak memory steady from run to run (an
        # unbounded one grows as far as GC timing happens to take it) and
        # leaves the rest of a 16 GB host to the Python workers
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(cwd, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PERFBENCH_SPAWNED=repr(time.monotonic()),
    )
    env.pop("SPARK_GRAFT_SF_DIR", None)
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "1" if trace else "0",
           "--root", ROOT, "--out", out] + (["--data", data] if data else [])
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_session(proc.pid)
    if code != 0:
        raise SystemExit(f"perfbench: workload process failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def _stop_session(sid: int) -> None:
    """Stop every process left in session ``sid`` and wait until it is gone:
    a grace period for the JVM to exit by itself, then SIGTERM, then
    SIGKILL."""
    start = time.monotonic()
    while pids := _session_pids(sid):
        waited = time.monotonic() - start
        if waited > 5:
            sig = signal.SIGKILL if waited > 20 else signal.SIGTERM
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2 :].split()
            # fields[0] is the state, fields[3] the session id
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def _steal_s() -> float:
    """Seconds of CPU stolen from this machine so far, over all CPUs
    (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _commit() -> str | None:
    """The git commit of the checkout, if it is a git repository."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def _source_sha1() -> str:
    """Hash of the program's and the benchmark's Python sources: the
    identity of the code measured, also in a dirty or git-less checkout."""
    digest = hashlib.sha1()
    for top in ("financial_data_engineering_spark", "examples", "tools", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    digest.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        digest.update(f.read())
    return digest.hexdigest()


if __name__ == "__main__":
    sys.exit(main())
