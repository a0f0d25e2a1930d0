"""``serve``: the read path. ``PasarQueryService.from_lake`` over entity
silver written by ``prepare_entity_silver`` from seeded NFT-marketplace
frames with Zipf-hot wallets, collections and name words.

One client, closed loop: whole rounds of a fixed 8-endpoint mix in a seeded
order per round, four point lookups and four scan/aggregate calls. Each call
is timed from the endpoint method call to the end of ``collect()``.

Set-up runs the reference round, every endpoint once over the raw,
unbucketed frames, whose rows are what every call must return; then one
warm round over the silver. Both warm the session for the same endpoint
code: a call's time falls by about a third from the first silver round to
the third. The warm round's calls are checked and counted, not timed.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from e2ebench import gen, harness

N_TOKENS = 20_000
N_WALLETS = 2_000
N_COLLECTIONS = 200
MARKET = "0xmarket0000000000000000000000000000000000"
QUOTE = "0x0000000000000000000000000000000000000000"
POINT = ("token_detail", "latest_bids", "user_statistics", "collectibles_by_wallet")
SCAN = ("marketplace", "collections_list", "search_marketplace", "transactions")
ENDPOINTS = POINT + SCAN
WARM_ROUNDS = 1  # silver rounds after the reference round: checked, not timed


def measured_rounds(seconds: int) -> int:
    """A fixed round count for a run of ``seconds`` (a warm round takes
    about 5-8 s on 4 cores), at least three."""
    return max(3, round(seconds / 7))


def _wallets(ix: np.ndarray) -> list:
    return [None if i < 0 else gen.wallet(i) for i in ix.tolist()]


def _write(spark, path: str, schema, cols: dict) -> DataFrame:
    """Write ``cols`` as parquet in the exact API ``schema`` with Arrow
    alone, so building the inputs runs no Spark job, and read it back with
    that schema. A schema field missing from ``cols`` is all null."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    n = len(next(iter(cols.values())))

    def column(f: pa.Field) -> pa.Array:
        v = cols.get(f.name, [None] * n)
        return pa.array(v.tolist() if isinstance(v, np.ndarray) else v, type=f.type)

    pq.write_table(pa.Table.from_arrays([column(f) for f in arrow], schema=arrow), path)
    return spark.read.schema(schema).parquet(path)


def _creator(owners: list) -> list[dict]:
    return [
        {"did": None if w is None else "did:elastos:" + w[2:10], "name": "creator", "description": None}
        for w in owners
    ]


def entity_frames(
    spark, seed: int, out_dir: str,
    n_tokens: int = N_TOKENS, n_wallets: int = N_WALLETS, n_collections: int = N_COLLECTIONS,
) -> dict[str, DataFrame]:
    """The five API entity frames over plain parquet under ``out_dir``; the
    bucketed silver and the plain-frame reference both read these."""
    from pasardassist_spark.api import schemas as S

    os.makedirs(out_dir, exist_ok=True)
    g = gen.nft_frames(seed, n_tokens, n_wallets, n_collections)
    t, o, oe, te, c = (g[k] for k in ("tokens", "orders", "order_events", "token_events", "collections"))
    unique_key = np.array([f"{a}-{b}-{c}" for a, b, c in zip(t["chain"], t["contract"], t["tokenId"])])
    minter, fee = _wallets(t["minter"]), t["royaltyFee"]
    tokens = _write(
        spark, os.path.join(out_dir, "tokens.parquet"), S.TOKENS_SCHEMA,
        {
            "tokenId": t["tokenId"], "tokenIdHex": np.char.mod("0x%X", t["tokenId"].astype(np.int64)),
            "chain": t["chain"], "contract": t["contract"], "uniqueKey": unique_key,
            "tokenSupply": np.ones(n_tokens, dtype=np.int64), "tokenOwner": _wallets(t["owner"]),
            "tokenUri": np.char.add("ipfs://token/", t["tokenId"]),
            "royaltyOwner": minter, "royaltyFee": fee, "tokenMinter": minter,
            "createTime": t["createTime"], "updateTime": t["createTime"], "blockNumber": t["blockNumber"],
            "version": np.full(n_tokens, 2), "type": ["image"] * n_tokens, "name": t["name"],
            "description": np.char.add(np.char.add("a ", t["name"]), " token"),
            "creator": _creator(minter),
            "data": [
                {"image": f"ipfs://img/{i}", "kind": "png", "size": int(f) * 7, "thumbnail": None, "signature": None}
                for i, f in zip(t["tokenId"].tolist(), fee.tolist())
            ],
            "adult": t["adult"],
            "properties": [[("edition", "1")]] * n_tokens,
            "attributes": [[("rarity", str(f % 5))] for f in fee.tolist()],
            "notGetDetail": np.zeros(n_tokens, dtype=bool), "retryTimes": np.zeros(n_tokens, dtype=np.int32),
        },
    )
    tok = o["tok"]
    state, bids, price = o["orderState"], o["bids"], o["price"].tolist()
    n_orders = len(tok)
    # a tenth of the listings sit on the legacy v1 market
    chain = np.where(o["orderId"] % 10 == 0, "v1", t["chain"][tok])
    buyer = _wallets(o["buyer"])
    orders = _write(
        spark, os.path.join(out_dir, "orders.parquet"), S.ORDERS_SCHEMA,
        {
            "orderId": o["orderId"], "chain": chain, "contract": [MARKET] * n_orders,
            "baseToken": t["contract"][tok], "tokenId": t["tokenId"][tok], "uniqueKey": unique_key[tok],
            "orderType": o["orderType"], "orderState": state, "amount": np.ones(n_orders, dtype=np.int64),
            "quoteToken": [QUOTE] * n_orders, "price": price,
            "filled": [p if s == 2 else None for p, s in zip(price, state.tolist())],
            "lastBid": [p + p // 10 if b > 0 else None for p, b in zip(price, bids.tolist())],
            "startTime": o["createTime"], "endTime": o["endTime"],
            "createTime": o["createTime"], "updateTime": o["createTime"],
            "sellerAddr": _wallets(o["seller"]), "buyerAddr": buyer,
            "lastBidder": [w if b > 0 else None for w, b in zip(buyer, bids.tolist())],
            "bids": bids, "royaltyOwners": [[minter[k]] for k in tok.tolist()],
            "royaltyFees": [[f] for f in fee[tok].tolist()],
            "platformFee": np.full(n_orders, 25_000), "isBlindBox": np.zeros(n_orders, dtype=bool),
        },
    )
    oi = oe["order"]
    order_events = _write(
        spark, os.path.join(out_dir, "order_events.parquet"), S.ORDER_EVENTS_SCHEMA,
        {
            "chain": chain[oi], "baseToken": t["contract"][tok[oi]], "blockNumber": oe["blockNumber"],
            "transactionHash": np.char.mod("0x%064x", np.arange(len(oi))),
            "orderId": o["orderId"][oi], "tokenId": t["tokenId"][tok[oi]],
            "seller": _wallets(o["seller"][oi]), "buyer": _wallets(oe["buyer"]),
            "quoteToken": [QUOTE] * len(oi), "price": oe["price"].tolist(), "eventType": oe["eventType"],
            "gasFee": oe["gasFee"], "timestamp": oe["timestamp"],
        },
    )
    ti = te["tok"]
    token_events = _write(
        spark, os.path.join(out_dir, "token_events.parquet"), S.TOKEN_EVENTS_SCHEMA,
        {
            "chain": t["chain"][ti], "contract": t["contract"][ti], "blockNumber": te["blockNumber"],
            "transactionHash": np.char.mod("0x%064x", np.arange(len(ti)) + len(oi)),
            "from": [gen.BURN if w is None else w for w in _wallets(te["from"])],
            "to": _wallets(te["to"]), "tokenId": t["tokenId"][ti],
            "value": np.ones(len(ti), dtype=np.int64), "gasFee": te["gasFee"], "timestamp": te["timestamp"],
        },
    )
    owners = _wallets(c["owner"])
    collections = _write(
        spark, os.path.join(out_dir, "collections.parquet"), S.COLLECTIONS_SCHEMA,
        {
            "chain": c["chain"], "token": c["token"], "owner": owners, "name": c["name"],
            "uri": np.char.add("ipfs://coll/", c["token"]), "version": np.ones(len(owners), dtype=np.int32),
            "creator": _creator(owners),
            "data": [
                {"avatar": None, "background": None, "description": "the " + n, "category": k, "social": {}}
                for n, k in zip(c["name"].tolist(), c["category"].tolist())
            ],
            "dia": c["dia"],
        },
    )
    return {
        "tokens": tokens, "orders": orders, "order_events": order_events,
        "token_events": token_events, "collections": collections, "_gen": g,
    }


def hot(values, k: int) -> list:
    """The ``k`` most frequent values, most frequent first (ties by value)."""
    return [v for v, _ in sorted(Counter(values).items(), key=lambda kv: (-kv[1], str(kv[0])))[:k]]


def call_plan(g: dict, seed: int, rounds: int) -> list[list[tuple[str, tuple]]]:
    """``rounds`` rounds of (endpoint, args): every endpoint once per round
    in a seeded order, on the hottest token, wallet, seller and name word of
    the generated data."""
    from pasardassist_spark.api import dto as D

    t, o = g["tokens"], g["orders"]
    (tok,) = hot(o["tok"].tolist(), 1)
    (auctioned,) = hot(o["tok"][o["orderType"] == 2].tolist(), 1)
    owner = gen.wallet(hot(t["owner"].tolist(), 1)[0])
    seller = gen.wallet(hot(o["seller"].tolist(), 1)[0])
    (word,) = hot([w for n in t["name"] for w in n.split()[:2]], 1)
    args = {
        "token_detail": (str(t["chain"][tok]), str(t["contract"][tok]), str(t["tokenId"][tok])),
        "latest_bids": (str(t["tokenId"][auctioned]), D.PageArgs(1, 10)),
        "user_statistics": (owner,),
        "collectibles_by_wallet": (D.WalletQuery(wallet=owner),),
        "marketplace": (D.MarketplaceQuery(sort="price_asc", page=D.PageArgs(2, 10)),),
        "collections_list": (D.CollectionsQuery(sort="items", page=D.PageArgs(1, 10)),),
        "search_marketplace": (word,),
        "transactions": (D.TransactionQuery(wallet=seller),),
    }
    rng = np.random.default_rng([seed, 4])
    return [
        [(ENDPOINTS[i], args[ENDPOINTS[i]]) for i in rng.permutation(len(ENDPOINTS))]
        for _ in range(rounds)
    ]


def canonical(rows) -> list[str]:
    return sorted(repr(r) for r in rows)


def reference(plain, calls) -> dict[tuple, list[str]]:
    """Canonical rows of each distinct (endpoint, args) in ``calls``,
    computed once on ``plain``, the service over the raw frames."""
    out = {}
    for endpoint, args in calls:
        key = (endpoint, repr(args))
        if key not in out:
            out[key] = canonical(getattr(plain, endpoint)(*args).collect())
    return out


def check_calls(expected: dict, results) -> int:
    """Calls in ``results`` whose rows differ, as multisets, from the
    ``reference`` rows of the same endpoint and arguments."""
    return sum(canonical(rows) != expected[(e, repr(args))] for e, args, rows in results)


def run(ctx: harness.Context) -> harness.Result:
    from pasardassist_spark.api import PasarQueryService
    from pasardassist_spark.sources.lake import prepare_entity_silver

    spark, tracer = ctx.spark, ctx.tracer
    frames = entity_frames(spark, ctx.seed, os.path.join(ctx.scratch, "raw"))
    ctx.mark("inputs")
    dims = {k: frames[k] for k in ("token_events", "order_events", "collections")}
    prepare_entity_silver(spark, frames["tokens"], frames["orders"])
    svc = PasarQueryService.from_lake(spark, frames["tokens"], frames["orders"], **dims)
    ctx.mark("silver")
    n_rounds = measured_rounds(ctx.seconds)
    plan = call_plan(frames["_gen"], ctx.seed, WARM_ROUNDS + n_rounds)
    sc = spark.sparkContext

    def call(endpoint: str, args: tuple, i: int):
        if tracer.enabled:
            sc.setJobGroup(f"call-{i}", endpoint)
        with tracer.span("api.call", endpoint=endpoint) as rec:
            t0 = time.perf_counter()
            with tracer.span("api.build"):
                df = getattr(svc, endpoint)(*args)
            with tracer.span("api.collect"):
                rows = df.collect()
            elapsed = (time.perf_counter() - t0) * 1000.0
            if rec is not None:
                rec["attrs"].update(harness.plan_phases_ms(df))
        return rows, elapsed

    # set-up: the reference round, then the warm rounds over the silver
    expected = reference(PasarQueryService(frames["tokens"], frames["orders"], **dims), plan[0])
    ctx.mark("reference_round")
    times, warm, results, failed_calls = defaultdict(list), defaultdict(list), [], 0
    i = 0
    for r, rnd in enumerate(plan):
        if r == WARM_ROUNDS:
            ctx.begin_measuring()
            first_measured = i
        for endpoint, args in rnd:
            try:
                rows, elapsed = call(endpoint, args, i)
            except Exception as exc:  # a failed call is counted, not fatal
                print(f"e2ebench: {endpoint}{args} failed: {exc!r}")
                failed_calls += 1
            else:
                (times if r >= WARM_ROUNDS else warm)[endpoint].append(elapsed)
                results.append((endpoint, args, rows))
            i += 1
    measure_end = time.time()
    engine = _engine_per_call(spark, range(first_measured, i), n_rounds) if tracer.enabled else {}
    mismatched = check_calls(expected, results)

    all_ms = [x for v in times.values() for x in v]
    per_endpoint = {e: harness.median(times[e]) for e in ENDPOINTS}
    calls_per_s = 1000.0 * len(ENDPOINTS) / sum(per_endpoint.values())
    p50, p90 = harness.median(all_ms), harness.percentile(all_ms, 90)
    res = harness.Result(
        e2e={"throughput_per_s": calls_per_s, "latency_ms": p50},
        named={"calls_per_s": calls_per_s, "call_p50_ms": p50, "call_p90_ms": p90},
        attempted=len(results) + failed_calls,
        failed=failed_calls + mismatched,
        correct=failed_calls == 0 and mismatched == 0,
        inputs={
            "wallets": N_WALLETS, "warm_rounds": WARM_ROUNDS, "measured_rounds": n_rounds,
            **{k: len(next(iter(v.values()))) for k, v in frames["_gen"].items() if isinstance(v, dict)},
        },
        samples={"calls": len(all_ms), **{f"{e}_calls": len(times[e]) for e in ENDPOINTS}},
        series={"call_ms": dict(times), "warm_call_ms": dict(warm)},
        checks={"calls_equal_plain_frames": {"ok": mismatched == 0, "mismatched_calls": mismatched,
                                             "distinct_calls": len(expected)}},
    )
    res.named.update({f"{e}_ms_p50": v for e, v in per_endpoint.items()})
    if tracer.enabled:
        calls = tracer.named("api.call", ctx.measure_start, measure_end)
        res.layer = {
            "api.build_ms_p50": harness.median(tracer.children_ms(s, "api.build") for s in calls),
            "api.plan_ms_p50": harness.median(
                sum(s["attrs"].get(p, 0) for p in harness.PLAN_PHASES) for s in calls
            ),
            # collect() minus the optimization and planning it triggers
            "api.exec_ms_p50": harness.median(
                tracer.children_ms(s, "api.collect")
                - sum(s["attrs"].get(p, 0) for p in harness.PLAN_PHASES[1:])
                for s in calls
            ),
            **{f"api.{e}.ms_p50": v for e, v in per_endpoint.items()},
            **engine,
        }
    return res


def _engine_per_call(spark, calls: range, n_rounds: int) -> dict:
    jobs = set()
    for i in calls:
        jobs |= harness.job_ids(spark, f"call-{i}")
    counts = harness.job_counts(spark, jobs)
    moved = harness.stage_bytes(spark, counts["stage_ids"])
    return {
        "engine.jobs_per_call": counts["jobs"] / len(calls),
        "engine.tasks_per_call": counts["tasks"] / len(calls),
        "engine.shuffle_write_bytes_per_round": moved["shuffle_write_bytes"] / n_rounds,
        "engine.spill_bytes_per_round": moved["spill_bytes"] / n_rounds,
    }
