"""Each output check of the benchmark passes on a correct output and turns
red on a deliberately corrupted one.

    python3 -m pytest e2ebench/test_checks.py -q
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from e2ebench import analytics, gen, ingest, serve


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from pasardassist_spark import get_spark

    return get_spark("e2ebench-checks")


# --- ingest: silver == fold over every event ---------------------------------


@pytest.fixture
def silver(spark, tmp_path):
    """A silver state merged from two folded halves of a small chain, as
    the stream's foreachBatch merges it."""
    from pasardassist_spark.operators.fold import fold_entity_state, merge_entity_states
    from pasardassist_spark.streaming.ingest import merge_into_bucketed_state

    ev = gen.chain_events(7, 400, 50)
    ref = ingest.reference_events(spark, ev)
    state = str(tmp_path / "silver")

    def combine(prev, delta):
        return merge_entity_states(prev.drop("bucket"), delta.drop("bucket"))

    for half in (ref.filter("event_id < 200"), ref.filter("event_id >= 200")):
        merge_into_bucketed_state(fold_entity_state(half), state, ("user_id",), combine)
    return state, ev


def _replace_silver(spark, state: str, df) -> None:
    from pasardassist_spark.streaming.generations import write_generation

    write_generation(df.withColumn("bucket", F.lit(0)), state, keep=10)


def test_ingest_check_passes_on_correct_silver(spark, silver):
    state, ev = silver
    assert ingest.check_silver(spark, state, ev) == {"ok": True, "extra_rows": 0, "missing_rows": 0}


def test_ingest_check_red_on_lost_entity(spark, silver):
    from pasardassist_spark.streaming import read_state

    state, ev = silver
    cur = read_state(spark, state)
    lost = cur.first().user_id
    _replace_silver(spark, state, cur.filter(F.col("user_id") != lost))
    got = ingest.check_silver(spark, state, ev)
    assert not got["ok"] and got["missing_rows"] == 1 and got["extra_rows"] == 0


def test_ingest_check_red_on_double_counted_event(spark, silver):
    from pasardassist_spark.streaming import read_state

    state, ev = silver
    cur = read_state(spark, state)
    hit = F.col("user_id") == cur.first().user_id
    bumped = cur.withColumn("n_clicks", F.col("n_clicks") + F.when(hit, 1).otherwise(0))
    _replace_silver(spark, state, bumped)
    got = ingest.check_silver(spark, state, ev)
    assert not got["ok"] and got["missing_rows"] == 1 and got["extra_rows"] == 1


# --- serve: every call == the endpoint over the raw frames ------------------


@pytest.fixture(scope="module")
def services(spark, tmp_path_factory):
    from pasardassist_spark.api import PasarQueryService
    from pasardassist_spark.sources.lake import prepare_entity_silver

    frames = serve.entity_frames(spark, 3, str(tmp_path_factory.mktemp("raw")), 600, 80, 12)
    dims = {k: frames[k] for k in ("token_events", "order_events", "collections")}
    prepare_entity_silver(spark, frames["tokens"], frames["orders"])
    lake = PasarQueryService.from_lake(spark, frames["tokens"], frames["orders"], **dims)
    plain = PasarQueryService(frames["tokens"], frames["orders"], **dims)
    (rnd,) = serve.call_plan(frames["_gen"], 3, 1)
    results = [(e, a, getattr(lake, e)(*a).collect()) for e, a in rnd]
    yield serve.reference(plain, rnd), results
    for t in ("silver_tokens", "silver_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_serve_check_passes_on_correct_calls(services):
    expected, results = services
    assert len(expected) == len(serve.ENDPOINTS)
    assert serve.check_calls(expected, results) == 0


@pytest.mark.parametrize("corrupt", ["drop_row", "alter_value"])
def test_serve_check_red_on_corrupted_call(services, corrupt):
    expected, results = services
    k = next(i for i, (_, _, rows) in enumerate(results) if rows)
    endpoint, args, rows = results[k]
    if corrupt == "drop_row":
        bad = rows[1:]
    else:
        first = rows[0].asDict()
        key = next(c for c, v in first.items() if v is not None)
        first[key] = "corrupted" if isinstance(first[key], str) else None
        bad = [type(rows[0])(**first)] + rows[1:]
    assert serve.check_calls(expected, results[:k] + [(endpoint, args, bad)] + results[k + 1:]) == 1


# --- analytics: every query == its DuckDB oracle ----------------------------


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tables"))
    gen.write_analytics_tables(5, d, 0.001)
    return d


@pytest.mark.parametrize("name", ["q1_pricing_summary", "st4_entity_fold"])
def test_analytics_check_passes_and_turns_red(spark, tables, name):
    from pasardassist_spark.queries import all_oracles, all_queries

    df, sql = all_queries()[name](spark, tables), all_oracles()[name]
    pdf = df.toPandas()
    assert analytics.check_oracle(pdf, sql, tables, name) == {"ok": True}
    assert not analytics.check_oracle(pdf.iloc[:-1], sql, tables, name)["ok"]
    num = next(f.name for f in df.schema.fields if f.dataType.typeName() in ("long", "double", "decimal"))
    assert not analytics.check_oracle(df.withColumn(num, F.col(num) + 1).toPandas(), sql, tables, name)["ok"]


# --- a program defect the ingest set-up avoids -------------------------------


@pytest.mark.xfail(
    strict=True,
    reason="merge_entity_states widens total_purchase from decimal(28,2) to "
    "decimal(38,2); a second generation that touches only some buckets mixes "
    "both in one generation, and the next merge cannot read it",
)
def test_entity_merge_survives_a_partial_second_batch(spark, tmp_path):
    """The ingest workload's set-up drains capped triggers, whose first two
    generations rewrite every bucket; a small second batch fails today."""
    from pasardassist_spark.operators.fold import fold_entity_state, merge_entity_states
    from pasardassist_spark.streaming.ingest import merge_into_bucketed_state

    ev = gen.chain_events(7, 400, 50)
    ref = ingest.reference_events(spark, ev)
    state = str(tmp_path / "silver")

    def combine(prev, delta):
        return merge_entity_states(prev.drop("bucket"), delta.drop("bucket"))

    for batch in ("event_id < 300", "event_id = 300", "event_id > 300"):
        merge_into_bucketed_state(fold_entity_state(ref.filter(batch)), state, ("user_id",), combine)
    assert ingest.check_silver(spark, state, ev)["ok"]
