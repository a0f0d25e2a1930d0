"""Child process of ``run.py``: one workload in one fresh Spark session.

    python3 -m e2ebench.worker <workload> <seed> <seconds> <trace> <scratch> <result.json> <started>

Writes the workload's metrics to ``result.json`` and its run record to
``.e2ebench/records/``.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time
from dataclasses import asdict

from e2ebench import harness

RECORDS = os.path.join(harness.ROOT, ".e2ebench", "records")


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, scratch, result_path, started = argv
    seed, seconds, trace, started = int(seed), int(seconds), bool(int(trace)), float(started)
    steal0 = harness.cpu_times()
    speed0 = harness.host_speed_ms()
    from pasardassist_spark import get_spark

    spark = get_spark(f"e2ebench-{workload}")
    ctx = harness.Context(spark, harness.Tracer(trace), seed, seconds, scratch, started)
    ctx.mark("session")
    try:
        res: harness.Result = importlib.import_module(f"e2ebench.{workload}").run(ctx)
        steal_measured = harness.steal_share(ctx.measure_cpu, harness.cpu_times())
        engine = harness.engine_info(spark)
    finally:
        spark.stop()
    speed1 = harness.host_speed_ms()
    res.e2e["setup_s"] = ctx.measure_start - started
    res.named["setup_s"] = res.e2e["setup_s"]
    digest = harness.source_digest()
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "started_at": started,
        "wall_s": time.time() - started,
        "cores": len(os.sched_getaffinity(0)),
        "git_revision": harness.git_revision(),
        "source_digest": digest,
        "engine": engine,
        "cpu_steal_share": harness.steal_share(steal0, harness.cpu_times()),
        "cpu_steal_share_measured": steal_measured,
        # before the session starts and after it stops
        "host_speed_ms": [speed0, speed1],
        "setup_phases_s": ctx.phases,
        **asdict(res),
    }
    if trace:
        base = harness.latest_untraced(RECORDS, workload, seed, seconds, digest)
        record["tracing_overhead"] = (
            {k: res.e2e[k] - base["e2e"][k] for k in res.e2e if k in base["e2e"]}
            if base
            else "no untraced run of this seed, length and source digest on record"
        )
        record["spans"] = ctx.tracer.spans
    path = harness.write_record(RECORDS, record)
    summary = {k: record[k] for k in ("named", "samples", "checks", "cpu_steal_share_measured", "host_speed_ms")}
    if trace:
        summary["tracing_overhead"] = record["tracing_overhead"]
    print(f"e2ebench: record {path}\n{json.dumps(summary, default=str)}", file=sys.stderr)
    with open(result_path, "w") as fh:
        json.dump(
            {k: record[k] for k in ("correct", "attempted", "failed", "e2e", "layer")}, fh
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
