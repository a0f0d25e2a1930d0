"""Seeded input generators for the three workloads.

Everything here is a pure function of the seed (numpy ``default_rng``), so
the same seed gives the same inputs. Hot keys follow a finite Zipf law over
a seed-permuted key space, so which wallets, collections and keywords are
hot changes with the seed while the skew does not.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "error", "click", "view"])
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch microseconds


def zipf_draws(rng: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` draws from a finite Zipf(s) over ``n`` keys; the key that
    holds each rank is a seeded permutation, so rank 0 is a random key."""
    p = 1.0 / np.arange(1, n + 1) ** s
    ranks = rng.choice(n, size=size, p=p / p.sum())
    return rng.permutation(n)[ranks]


# --- ingest: the chain ------------------------------------------------------


def chain_events(seed: int, n_events: int, key_space: int) -> dict[str, np.ndarray]:
    """``n_events`` wallet events in block order: dense ``event_id`` from 0,
    ascending ``ts_us`` (epoch microseconds), Zipf-hot ``user_id``."""
    rng = np.random.default_rng([seed, 1])
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts_us": TS0_US + np.cumsum(rng.integers(1, 5_000_000, n_events)),
        "user_id": zipf_draws(rng, key_space, n_events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
    }


def block_rows(ev: dict[str, np.ndarray], lo: int, hi: int, per_block: int) -> list[dict]:
    """Events ``[lo, hi)`` as blocklog rows, ``per_block`` per block:
    event ``i`` sits in block ``i // per_block`` at log index
    ``i % per_block``. The wallet rides in ``address`` and the event body
    in ``payload``, as a contract log carries them."""
    return [
        {
            "block_number": i // per_block,
            "log_index": i % per_block,
            "event_type": str(ev["event_type"][i]),
            "address": f"0x{int(ev['user_id'][i]):040x}",
            "payload": {
                "user_id": int(ev["user_id"][i]),
                "event_id": int(ev["event_id"][i]),
                "ts_us": int(ev["ts_us"][i]),
                "value": float(ev["value"][i]),
            },
        }
        for i in range(lo, hi)
    ]


# --- serve: the NFT entity frames -------------------------------------------

ADJECTIVES = [
    "cool", "rare", "pixel", "cosmic", "golden", "neon", "lucky", "silent",
    "wild", "frozen", "royal", "tiny", "ancient", "cyber", "happy", "dark",
]
NOUNS = [
    "cat", "ape", "punk", "dragon", "robot", "skull", "flower", "wizard",
    "tiger", "ghost", "planet", "whale", "knight", "fox", "owl", "crown",
]
CHAINS = np.array(["ela", "eth", "v1"])
BURN = "0x0000000000000000000000000000000000000000"


def wallet(i) -> str:
    return f"0x{int(i):040x}"


def nft_frames(seed: int, n_tokens: int, n_wallets: int, n_collections: int) -> dict:
    """Flat numpy columns for tokens, orders, token/order events and
    collections; ``serve.py`` shapes them into the API schemas. Owners,
    sellers, bidders, collections and name words are Zipf-hot."""
    rng = np.random.default_rng([seed, 2])
    coll_chain = CHAINS[rng.integers(0, 2, n_collections)]  # v1 is orders-only
    coll_addr = np.array([f"0xc{c:039x}" for c in range(n_collections)])
    coll_of = zipf_draws(rng, n_collections, n_tokens)
    token_id = rng.permutation(n_tokens * 10)[:n_tokens]
    words = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    name_word = np.array(words)[zipf_draws(rng, len(words), n_tokens, 1.0)]
    owner = zipf_draws(rng, n_wallets, n_tokens)
    minter = zipf_draws(rng, n_wallets, n_tokens)
    create = 1_600_000_000 + np.sort(rng.integers(0, 80_000_000, n_tokens))
    tokens = {
        "tokenId": token_id.astype(str),
        "chain": coll_chain[coll_of],
        "contract": coll_addr[coll_of],
        "name": np.char.add(np.char.add(name_word, " #"), token_id.astype(str)),
        "owner": owner,
        "minter": minter,
        "createTime": create,
        "blockNumber": (create - 1_600_000_000) // 5,
        "royaltyFee": rng.integers(0, 100_000, n_tokens),
        "adult": rng.random(n_tokens) < 0.05,
    }

    # orders: ~1.5 per token on Zipf-hot tokens, some re-listed
    n_orders = n_tokens * 3 // 2
    tok = zipf_draws(rng, n_tokens, n_orders, 0.9)
    state = rng.choice([1, 2, 3], n_orders, p=[0.5, 0.35, 0.15])
    otype = rng.choice([1, 2], n_orders, p=[0.7, 0.3])
    ocreate = create[tok] + rng.integers(60, 5_000_000, n_orders)
    orders = {
        "orderId": np.arange(1, n_orders + 1),
        "tok": tok,
        "orderType": otype,
        "orderState": state,
        "price": rng.integers(1, 5_000, n_orders) * 10**15,
        "seller": owner[tok],
        "buyer": np.where(state == 2, zipf_draws(rng, n_wallets, n_orders), -1),
        "createTime": ocreate,
        "endTime": np.where(otype == 2, ocreate + rng.integers(3_600, 864_000, n_orders), 0),
        "bids": np.where(otype == 2, rng.integers(0, 6, n_orders), 0),
        "blockNumber": (ocreate - 1_600_000_000) // 5,
    }

    # order events: listing + bids + settle per order
    oe_order = np.concatenate([orders["orderId"] - 1, np.repeat(orders["orderId"] - 1, orders["bids"])])
    oe_kind = np.concatenate([np.where(otype == 2, 0, 2), np.ones(int(orders["bids"].sum()), dtype=np.int64)])
    settled = np.flatnonzero(state != 1)
    oe_order = np.concatenate([oe_order, settled])
    oe_kind = np.concatenate([oe_kind, np.where(state[settled] == 2, 3, 4)])
    n_oe = len(oe_order)
    bidder = zipf_draws(rng, n_wallets, n_oe)
    delay = rng.integers(1, 50_000, n_oe)  # blocks after the listing
    order_events = {
        "order": oe_order,
        "eventType": oe_kind,
        "buyer": np.where(oe_kind == 1, bidder, np.where(oe_kind == 3, orders["buyer"][oe_order], -1)),
        "price": orders["price"][oe_order],
        "blockNumber": orders["blockNumber"][oe_order] + np.where(np.isin(oe_kind, (0, 2)), 0, delay),
        "gasFee": rng.integers(1_000, 100_000, n_oe),
    }
    order_events["timestamp"] = 1_600_000_000 + order_events["blockNumber"] * 5

    # token events: mint + a few Zipf-hot transfers
    n_xfer = n_tokens
    xtok = zipf_draws(rng, n_tokens, n_xfer, 0.9)
    te_tok = np.concatenate([np.arange(n_tokens), xtok])
    te_from = np.concatenate([np.full(n_tokens, -1), minter[xtok]])
    te_to = np.concatenate([minter, owner[xtok]])
    xfer_block = tokens["blockNumber"][xtok] + rng.integers(1, 50_000, n_xfer)
    te_block = np.concatenate([tokens["blockNumber"], xfer_block])
    token_events = {
        "tok": te_tok,
        "from": te_from,
        "to": te_to,
        "blockNumber": te_block,
        "gasFee": rng.integers(1_000, 100_000, len(te_tok)),
        "timestamp": 1_600_000_000 + te_block * 5,
    }
    collections = {
        "chain": coll_chain,
        "token": coll_addr,
        "owner": zipf_draws(rng, n_wallets, n_collections),
        "name": np.array([f"{words[c % len(words)]} club {c}" for c in range(n_collections)]),
        "category": np.array(["art", "game", "music", "photo"])[rng.integers(0, 4, n_collections)],
        "dia": np.round(rng.exponential(100.0, n_collections), 3),
    }
    return {
        "tokens": tokens,
        "orders": orders,
        "order_events": order_events,
        "token_events": token_events,
        "collections": collections,
        "words": words,
    }


# --- analytics: the TPC-H-style tables --------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
DAY_US = 86_400_000_000
D1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.int64()).cast(pa.timestamp("us"))


def write_analytics_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten TPC-H-style tables (the schema of the repository's own test
    data) at scale factor ``sf`` under ``out_dir`` as ``<table>.parquet``.
    Returns the row count of each table."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_docs, n_vec = max(50, int(50_000 * sf)), max(50, int(50_000 * sf))

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS},
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(n_ord, 1000, 500_000),
            "o_orderdate": _ts(D1995_US + rng.integers(0, 2400, n_ord) * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    tables["lineitem"] = {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(D1995_US + rng.integers(1, 2500, n_li) * DAY_US),
    }
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(TS0_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n_words = int(rng.integers(10, 110))
            texts.append(" ".join(np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), n_words)]))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.normal(0, 0.1, (n_vec, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
