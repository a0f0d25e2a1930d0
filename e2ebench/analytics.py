"""``analytics``: registry batch queries over the ten TPC-H-style tables,
generated from the seed at scale factor SF.

One client, closed loop. Set-up runs the cold round: every query once,
collected to pandas. Each measured round then runs every query once, in a
seeded order, forced with a ``noop`` sink; ``release_all`` runs between
queries outside the timed window. After the measured rounds, the cold
round's rows are compared with each query's DuckDB oracle, so the oracle's
time is in no timed window and the check costs no extra Spark execution.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np

from e2ebench import gen, harness

SF = 0.01
# the ROADMAP's job-diet targets, then cheap queries
QUERIES = (
    "a11_collection_stats",
    "aj_rate_asof",
    "pack_training_sequences",
    "contamination_flags",
    "dedup_minhash_lsh",
    "q1_pricing_summary",
    "j3_latest_order_per_customer",
    "st4_entity_fold",
    "a12_wallet_dashboard",
    "u1_union_timeline",
)


def measured_rounds(seconds: int) -> int:
    """A fixed round count for a run of ``seconds`` (a warm round takes
    about 10-12 s on 4 cores), at least three so that each query's median
    has three samples."""
    return max(3, round(seconds / 11))


class _Collected:
    """A query result already collected to pandas, in the shape the
    repository's oracle comparison reads (``toPandas``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def check_oracle(pdf, sql: str, sf_dir: str, name: str) -> dict:
    """Compare a query's collected rows with its DuckDB oracle on the same
    tables, using the repository's own oracle comparison."""
    from tests.oracle_compare import assert_matches_oracle

    try:
        assert_matches_oracle(_Collected(pdf), sql, sf_dir, name)
    except AssertionError as exc:
        return {"ok": False, "error": str(exc)[:500]}
    return {"ok": True}


def run(ctx: harness.Context) -> harness.Result:
    from pasardassist_spark.caching import release_all
    from pasardassist_spark.queries import all_oracles, all_queries

    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.scratch, "tables")
    rows = gen.write_analytics_tables(ctx.seed, sf_dir, SF)
    queries, oracles = all_queries(), all_oracles()
    rng = np.random.default_rng([ctx.seed, 5])
    sc = spark.sparkContext

    # set-up: the cold round, whose rows the oracle check reads afterwards
    collected, cold_t0 = {}, time.time()
    for name in QUERIES:
        collected[name] = queries[name](spark, sf_dir).toPandas()
        release_all(spark)
    cold_round_s = time.time() - cold_t0
    ctx.mark("cold_round")

    n_rounds = measured_rounds(ctx.seconds)
    ctx.begin_measuring()
    execs0 = set(harness.sql_execution_ids(spark)) if tracer.enabled else set()
    times, released, failed_runs = defaultdict(list), [], 0
    for r in range(n_rounds):
        for k in rng.permutation(len(QUERIES)):
            name = QUERIES[k]
            if tracer.enabled:
                sc.setJobGroup(f"q-{r}-{name}", name)
            try:
                with tracer.span("queries.run", query=name, round=r):
                    t0 = time.perf_counter()
                    queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                    elapsed = (time.perf_counter() - t0) * 1000.0
            except Exception as exc:  # a failed query is counted, not fatal
                print(f"e2ebench: {name} failed in round {r}: {exc!r}")
                failed_runs += 1
            else:
                times[name].append(elapsed)
            with tracer.span("caching.release_all"):
                released.append(release_all(spark))

    checks = {q: check_oracle(collected[q], oracles[q], sf_dir, q) for q in QUERIES}
    per_query = {q: harness.median(times[q]) for q in QUERIES}
    queries_per_s = 1000.0 * len(QUERIES) / sum(per_query.values())
    geomean_ms = harness.geomean(per_query.values())
    p90 = harness.percentile([x for v in times.values() for x in v], 90)
    bad = sum(not c["ok"] for c in checks.values())
    res = harness.Result(
        e2e={"throughput_per_s": queries_per_s, "latency_ms": geomean_ms},
        named={"queries_per_s": queries_per_s, "query_geomean_ms": geomean_ms, "query_p90_ms": p90,
               **{f"{q}_ms_p50": v for q, v in per_query.items()}},
        attempted=len(QUERIES) * (n_rounds + 1),
        failed=failed_runs + bad,
        correct=failed_runs == 0 and bad == 0,
        inputs={"sf": SF, "rows": rows, "measured_rounds": n_rounds, "queries": list(QUERIES)},
        samples={"query_runs": sum(len(v) for v in times.values()), "per_query": n_rounds},
        checks={"oracle": checks},
        series={"query_ms": dict(times), "cold_round_s": cold_round_s},
    )
    if tracer.enabled:
        res.layer = {
            **{f"queries.{q}.ms_p50": v for q, v in per_query.items()},
            "queries.cold_round_s": cold_round_s,
            "caching.rdds_released_per_query": sum(released) / len(released),
            **_engine_per_query(spark, n_rounds),
            "engine.python_ms_per_round": sum(
                v for _, metric, v in harness.sql_node_metrics(
                    spark, sorted(set(harness.sql_execution_ids(spark)) - execs0)
                )
                if metric == "time to run Python workers"
            ) / n_rounds,
        }
    return res


def _engine_per_query(spark, n_rounds: int) -> dict:
    jobs = set()
    for r in range(n_rounds):
        for q in QUERIES:
            jobs |= harness.job_ids(spark, f"q-{r}-{q}")
    counts = harness.job_counts(spark, jobs)
    moved = harness.stage_bytes(spark, counts["stage_ids"])
    n = n_rounds * len(QUERIES)
    return {
        "engine.jobs_per_query": counts["jobs"] / n,
        "engine.stages_per_query": counts["stages"] / n,
        "engine.tasks_per_query": counts["tasks"] / n,
        "engine.shuffle_write_bytes_per_round": moved["shuffle_write_bytes"] / n_rounds,
        "engine.spill_bytes_per_round": moved["spill_bytes"] / n_rounds,
    }
