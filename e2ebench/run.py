"""Benchmark entry point.

    python3 e2ebench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Runs one workload in a child process of its own session, so the child's
JVM and Python workers can all be stopped and waited for when it ends. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The full run record (environment, sample counts, spans and
the tracing overhead) goes to ``.e2ebench/records/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "serve", "analytics")
CHILD_TIMEOUT_S = 165  # the whole run must end within 180 s


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def child_env(scratch: str) -> dict:
    """Pin the session to this host: all cores, a JVM heap well below
    host memory, and every scratch directory (Spark's, the JVM's and
    Python's temporary files) inside the run's own scratch tree."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024**3
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(3, ram_gb // 4))}g",
        SPARK_GRAFT_PROFILE="local",
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process in the child's session (its JVM and the JVM's
    Python workers included) and wait until none is left."""

    def alive() -> bool:
        proc.poll()  # reap the child itself, or it lingers as a zombie
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return False
        return True

    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not alive():
            break
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, sig)
        deadline = time.time() + 10.0
        while alive() and time.time() < deadline:
            time.sleep(0.1)
    proc.wait()


def final_line(result: dict, workload: str, trace: bool) -> dict:
    """The result object, shaped by the metric lists of
    ``BENCHMARK.json``. A per-layer metric the workload does not measure
    (a layer it bypasses) reads 0; an end-to-end metric it fails to report
    is an error. A workload outside ``BENCHMARK.json`` may measure more
    per-layer metrics than it declares; they stay in its run record."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if trace else "end_to_end"]
    measured = result["layer" if trace else "e2e"]
    unknown = set(measured) - {m["name"] for m in declared}
    if unknown and workload in {w["name"] for w in spec["workloads"]}:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in declared:
        if not trace and m["name"] not in measured:
            raise KeyError(f"end-to-end metric {m['name']!r} was not measured")
        metrics[m["name"]] = {"value": measured.get(m["name"], 0), "unit": m["unit"]}
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    started = time.time()
    args = parse_args(argv)
    # a terminated run still stops its child's session and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "pasardassist_spark", "__init__.py")):
        print("e2ebench: the pasardassist_spark package is not in this checkout", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".e2ebench", f"run-{os.getpid()}-{int(started)}")
    work = os.path.join(scratch, "work")
    os.makedirs(work)
    result_path = os.path.join(scratch, "result.json")
    cmd = [
        sys.executable, "-m", "e2ebench.worker",
        args.workload, str(args.seed), str(args.seconds), str(args.trace),
        scratch, result_path, repr(started),
    ]
    proc = subprocess.Popen(
        cmd, cwd=work, env=child_env(scratch), stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S - (time.time() - started))
        except subprocess.TimeoutExpired:
            print(f"e2ebench: {args.workload} exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
            code = None
        finally:
            stop_group(proc)
        if code != 0 or not os.path.exists(result_path):
            print(f"e2ebench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            result = json.load(fh)
        line = final_line(result, args.workload, bool(args.trace))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
