"""Steadiness and A/B tool.

Steadiness: run workloads repeatedly, each run on the next seed of a list,
and print each end-to-end metric's median, quartiles and spread (q3 - q1 as
a share of the median, the quartiles as ``statistics.quantiles(n=4)``
gives them) against the metric's bound from ``BENCHMARK.json``:

    python3 e2ebench/steady.py --workload ingest --seeds 1 2 --repeat 5

A/B: the same for two checkouts that carry the same benchmark, one run of
each per pair, alternating which goes first. Prints each side's median and
quartiles, the pairs the second tree won, and whether the rule for a gain
holds (it wins at least 9 of 10 pairs and the medians differ by more than
the first tree's own quartile spread):

    python3 e2ebench/steady.py --workload ingest --seeds 1 2 --repeat 5 \\
        --trees ../parent .

``--traced`` adds one traced run per workload after the untraced ones, on
the first seed, and prints its per-layer metrics and tracing overhead.
Each run's full record is in ``<tree>/.e2ebench/records/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(tree: str, workload: str, seed: int, seconds: int, trace: int) -> dict | None:
    cmd = [sys.executable, "e2ebench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"  {tree} {workload} seed {seed}: exit {proc.returncode}, no result", flush=True)
        return None
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    rec = newest_record(tree, workload, seed, trace)
    out["steal"] = rec.get("cpu_steal_share_measured") if rec else None
    speed = [round(x) for x in rec.get("host_speed_ms", [])] if rec else None
    brief = {k: round(v["value"], 4) for k, v in out["metrics"].items()} if not trace else ""
    print(f"  {os.path.basename(os.path.abspath(tree))} {workload} seed {seed} trace {trace}: "
          f"correct={out['correct']} failed={out['failed']}/{out['attempted']} wall={out['wall_s']:.1f}s "
          f"steal={out['steal'] and round(out['steal'], 3)} host_ms={speed} {brief}", flush=True)
    return out


def newest_record(tree: str, workload: str, seed: int, trace: int) -> dict | None:
    recs = glob.glob(os.path.join(tree, ".e2ebench", "records", f"{workload}-seed{seed}-trace{trace}-*.json"))
    if not recs:
        return None
    with open(max(recs, key=os.path.getmtime)) as fh:
        return json.load(fh)


def summary(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def better(metric: dict, a: float, b: float) -> bool:
    """Whether ``b`` is better than ``a`` for this metric."""
    return b > a if metric["better"] == "higher" else b < a


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", help="default: every workload of BENCHMARK.json")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--repeat", type=int, default=5, help="runs per seed")
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trees", nargs=2, metavar=("A", "B"), help="A/B: two checkouts, B is the change")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    trees = args.trees or [ROOT]
    seeds = [s for s in args.seeds for _ in range(args.repeat)]
    results = {t: {w: [] for w in workloads} for t in trees}
    for w in workloads:
        print(f"{w}: {len(seeds)} runs per tree, seeds {args.seeds} x {args.repeat}, {seconds} s", flush=True)
        for i, seed in enumerate(seeds):
            order = trees if i % 2 == 0 else trees[::-1]
            for t in order:
                results[t][w].append(run_once(t, w, seed, seconds, 0))
    for w in workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols = {}
            for t in trees:
                vals = [r["metrics"][name]["value"] for r in results[t][w] if r]
                if vals:
                    cols[t] = summary(vals)
            for t, s in cols.items():
                if s["spread"] <= bound / 3:
                    flag = "ok"
                else:
                    flag = "within bound" if s["spread"] <= bound else "TOO NOISY"
                print(f"{w:10s} {name:18s} {os.path.basename(os.path.abspath(t)):12s} n={s['n']:2d} "
                      f"median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} "
                      f"spread={s['spread']:.3f} bound={bound} {flag}")
            if args.trees and len(cols) == 2:
                a, b = (cols[t] for t in trees)
                pairs = [
                    (ra["metrics"][name]["value"], rb["metrics"][name]["value"])
                    for ra, rb in zip(results[trees[0]][w], results[trees[1]][w]) if ra and rb
                ]
                wins = sum(better(m, x, y) for x, y in pairs)
                gain = wins >= 0.9 * len(pairs) and abs(b["median"] - a["median"]) > a["q3"] - a["q1"]
                worse = (a["median"] - b["median"]) / a["median"] if m["better"] == "higher" else (
                    (b["median"] - a["median"]) / a["median"])
                print(f"{'':10s} {'':18s} B won {wins}/{len(pairs)} pairs; B worse by {worse:+.3f} "
                      f"of A's median (bound {bound}); gain rule {'met' if gain else 'not met'}")
    if args.traced:
        for t in trees:
            for w in workloads:
                out = run_once(t, w, args.seeds[0], seconds, 1)
                rec = newest_record(t, w, args.seeds[0], 1) if out else None
                if rec:
                    # the record holds every layer metric the workload measured
                    for k, v in sorted(rec["layer"].items()):
                        print(f"{w:10s} {k:42s} {v:.6g}")
                    print(f"{w:10s} tracing overhead (traced - untraced, same seed): {rec['tracing_overhead']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
