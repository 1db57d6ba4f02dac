"""Seeded inputs for every workload.

Everything here is a pure function of the workload seed: the same seed
gives byte-identical tables, request streams and operation streams
(``stream_digest`` hashes a stream for the determinism test). The
program under test only ever receives what these functions produce.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A seed reserved for confirming a claimed gain after the change was
# written; never use it while tuning or developing.
HELD_OUT_SEED = 90210

EPOCH = dt.date(1995, 1, 1)
N_DAYS = 2400  # 1995-01-01 .. 2001-07-28, the testdata's order span
BRANDS = [f"Brand#{i}" for i in range(1, 26)]
STATUSES = ("O", "F", "P")


def stream_digest(items) -> str:
    """SHA-256 of a canonical JSON rendering of a stream."""
    blob = json.dumps(items, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


def _day(offset: int) -> str:
    return (EPOCH + dt.timedelta(days=int(offset))).isoformat()


class Zipf:
    """Rank-skewed sampler over ``n`` items (weight ∝ 1 / rank**s), with
    a seeded rank → item permutation so hot keys are not just the
    smallest ids."""

    def __init__(self, rng: random.Random, n: int, s: float = 1.1):
        self._items = list(range(n))
        rng.shuffle(self._items)
        acc, self._cum = 0.0, []
        for rank in range(1, n + 1):
            acc += 1.0 / rank**s
            self._cum.append(acc)

    def draw(self, rng: random.Random) -> int:
        i = bisect.bisect_left(self._cum, rng.random() * self._cum[-1])
        return self._items[min(i, len(self._items) - 1)]


# ------------------------------------------------------------ api_mix


def write_star_schema(out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    """TPC-H-shaped ``orders``/``lineitem``/``part``/``customer`` parquet
    in the testdata's exact physical schema (naive microsecond
    timestamps, int64 keys). Returns row counts."""
    rng = np.random.default_rng(seed)
    n_part = max(n_orders * 2 // 15, 100)
    n_cust = max(n_orders // 10, 100)
    os.makedirs(out_dir, exist_ok=True)

    def ts(days: np.ndarray) -> pa.Array:
        base = np.datetime64(EPOCH.isoformat(), "us")
        return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))

    adjectives = np.array(["large", "small", "hot", "cold", "shiny", "matte", "bright"])
    nouns = np.array(["ring", "bolt", "gear", "pipe", "valve", "plate", "spring"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(adjectives, n_part), " "), rng.choice(nouns, n_part))),
        "p_brand": pa.array(np.array(BRANDS)[rng.integers(0, len(BRANDS), n_part)]),
        "p_type": pa.array(rng.choice(
            np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]), n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.random(n_part) * 1100, 2)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.random(n_cust) * 10000 - 1000, 2)),
        "c_mktsegment": pa.array(rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n_cust)),
    })
    odays = rng.integers(0, N_DAYS, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.random(n_orders) * 400000 + 1000, 2)),
        "o_orderdate": ts(odays),
        "o_orderpriority": pa.array(rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_orders)),
    })
    per_order = rng.integers(1, 8, n_orders)
    n_items = int(per_order.sum())
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, n_items).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, n_part, n_items, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_items, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n_items) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900 + rng.random(n_items) * 1100), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_items) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_items) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_items)),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n_items)),
        "l_shipdate": ts(np.repeat(odays, per_order) + rng.integers(1, 122, n_items)),
    })
    tables = {"part": part, "customer": customer, "orders": orders, "lineitem": lineitem}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


API_MIX = (
    ("product_sales", 40),
    ("customer_purchase_history", 30),
    ("top_selling_by_category", 20),
    ("sales_trends", 10),
)
# Query types repeat in this fixed, interleaved order, so every block of
# ten requests has exactly the mix above and a short window sees the
# same mix whatever the seed; the seed draws the parameters.
API_BLOCK = ("product_sales", "customer_purchase_history", "top_selling_by_category",
             "product_sales", "customer_purchase_history", "sales_trends",
             "product_sales", "customer_purchase_history", "top_selling_by_category",
             "product_sales")


def api_requests(seed: int, n: int, n_customers: int) -> list[dict]:
    """The seeded request stream: query type by the 40/30/20/10 mix,
    Zipf-skewed customer ids, brands and window start months so hot keys
    repeat, random sort orders. The size knobs of each type (date-window
    length, page offset, history window on/off, trend interval) cycle
    through their values in turn, so every seed asks for the same amount
    of work; the seed draws everything else. Each request is ``{"q":
    name, "args": {...}}`` with keyword arguments of the ``queries``
    function."""
    rng = random.Random(seed)
    cust = Zipf(rng, n_customers)
    brand = Zipf(rng, len(BRANDS))
    # windows start on the 1st of a Zipf-chosen month: dashboards share
    # a few hot periods, so whole requests repeat too
    months = [(dt.date(1995 + m // 12, m % 12 + 1, 1) - EPOCH).days for m in range(77)]
    month = Zipf(rng, len(months))
    seen = dict.fromkeys(API_BLOCK, 0)  # requests of each type so far
    out = []
    for i in range(n):
        q = API_BLOCK[i % len(API_BLOCK)]
        k = seen[q]
        seen[q] += 1
        start = months[month.draw(rng)]
        if q == "product_sales":
            args = {
                "start_date": _day(start),
                "end_date": _day(start + (7, 30, 90, 180)[k % 4]),
                "sort_by": rng.choice(("order_date", "total_amount")),
                "sort_dir": rng.choice(("ASC", "DESC")),
                "offset": (0, 50, 200)[k % 3],
            }
        elif q == "customer_purchase_history":
            args = {
                "customer_id": cust.draw(rng),
                "sort_by": rng.choice(("order_date", "total_amount")),
                "sort_dir": rng.choice(("ASC", "DESC")),
                "offset": rng.choice((0, 0, 0, 5)),
            }
            if k % 2:
                args["start_date"] = _day(start // 2)
                args["end_date"] = _day(start // 2 + N_DAYS // 2)
        elif q == "top_selling_by_category":
            args = {
                "category": BRANDS[brand.draw(rng)],
                "start_date": _day(start),
                "end_date": _day(start + (30, 90, 365)[k % 3]),
                "sort_by": rng.choice(("total_units_sold", "total_revenue", "order_count")),
            }
        else:
            args = {
                "interval": ("day", "week", "month")[k % 3],
                "start_date": _day(start),
                "end_date": _day(start + (30, 180, 730)[k // 3 % 3]),
            }
        out.append({"q": q, "args": args})
    return out


def repeat_share(requests: list[dict]) -> float:
    """Share of requests that exactly repeat an earlier request."""
    seen: set[str] = set()
    repeats = 0
    for r in requests:
        key = json.dumps(r, sort_keys=True)
        repeats += key in seen
        seen.add(key)
    return repeats / max(len(requests), 1)


# ------------------------------------------------------------ txn_rw

TXN_STATUSES = ("placed", "paid", "shipped", "delivered")
TXN_MONTHS = [f"2024-{m:02d}" for m in range(1, 13)]
# Merges (the costliest commit) are spread so that no run of rounds from
# the fourth operation on is half merges: a window's median round is an
# append or a delete round whatever its length.
TXN_BLOCK = ("append", "merge", "delete", "append", "append",
             "merge", "append", "delete", "append", "merge")


def txn_base_rows(seed: int, n: int) -> list[tuple]:
    """Initial orders: (order_id, customer_id, status, amount_cents, month)."""
    rng = random.Random(seed * 7 + 1)
    return [_txn_row(rng, i) for i in range(n)]


def _txn_row(rng: random.Random, key: int) -> tuple:
    return (key, rng.randrange(5000), "placed", rng.randrange(100, 500_000),
            rng.choice(TXN_MONTHS))


def apply_txn_op(state: dict[int, tuple], op: dict) -> None:
    """Apply one writer operation to the model ({order_id: row})."""
    if op["op"] == "append":  # INSERT ... ON CONFLICT DO NOTHING
        for row in op["rows"]:
            state.setdefault(row[0], row)
    elif op["op"] == "merge":  # keys are unique and all present
        for row in op["rows"]:
            state[row[0]] = row
    else:
        for k in op["keys"]:
            state.pop(k, None)


def txn_operations(seed: int, base: list[tuple], n_ops: int,
                   batch: int) -> list[dict]:
    """The writer's seeded operation stream, built against the model so
    every operation is valid when replayed in order:

    - ``append`` (50%): ``batch`` rows, 20% of them replaying keys that
      already exist (ON CONFLICT DO NOTHING must drop them);
    - ``merge`` (30%): status/amount updates of ``batch // 2`` live rows;
    - ``delete`` (20%): cancel ``batch // 4`` live orders by key.

    Kinds repeat in a fixed interleaved order (``TXN_BLOCK``), so every
    window sees the same mix whatever the seed; the seed draws the rows.
    """
    rng = random.Random(seed * 7 + 2)
    state = {r[0]: r for r in base}
    next_id = len(base)
    ops = []
    for i in range(n_ops):
        kind = TXN_BLOCK[i % len(TXN_BLOCK)]
        pool = sorted(state)
        if kind == "append":
            n_replay = batch // 5
            rows = [_txn_row(rng, k) for k in rng.sample(pool, n_replay)]
            rows += [_txn_row(rng, k) for k in range(next_id, next_id + batch - n_replay)]
            next_id += batch - n_replay
            op = {"op": "append", "rows": rows}
        elif kind == "merge":
            op = {"op": "merge", "rows": [
                (k, state[k][1], rng.choice(TXN_STATUSES[1:]),
                 rng.randrange(100, 500_000), state[k][4])
                for k in rng.sample(pool, batch // 2)
            ]}
        else:
            op = {"op": "delete", "keys": sorted(rng.sample(pool, batch // 4))}
        apply_txn_op(state, op)
        ops.append(op)
    return ops


# ------------------------------------------------------------ corpus_curate

LANGS = ("en", "en", "en", "es", "fr", "de", "zh")


def corpus_vocabulary(seed: int, n_words: int = 600) -> list[str]:
    rng = random.Random(seed * 7 + 3)
    stops = ["the", "a", "of", "and", "to", "in", "is", "that", "with", "for"]
    words = set()
    while len(words) < n_words:
        words.add("".join(rng.choice("etaoinshrdlucmfwypvbgk")
                          for _ in range(rng.randint(3, 9))))
    return stops + sorted(words)


def write_documents(path: str, seed: int, n_docs: int) -> dict:
    """Word-salad documents over a Zipf vocabulary, ~3% exact copies
    (whitespace/case variants included) and ~3% near-copies (a few
    words changed) of earlier documents. Returns a summary."""
    rng = random.Random(seed * 7 + 4)
    vocab = corpus_vocabulary(seed)
    zipf = Zipf(rng, len(vocab), s=1.0)
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.03:
            src = texts[rng.randrange(i)]
            texts.append(src.upper() if rng.random() < 0.5 else "  " + src.replace(" ", "  "))
        elif i > 10 and u < 0.06:
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = vocab[zipf.draw(rng)]
            texts.append(" ".join(words))
        else:
            n = rng.randint(40, 120)
            sentences, words = [], []
            for j in range(n):
                words.append(vocab[zipf.draw(rng)])
                if rng.random() < 0.08 or j == n - 1:
                    sentences.append(" ".join(words).capitalize() + ".")
                    words = []
            texts.append(" ".join(sentences))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)]),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(table, path)
    return {"n_docs": n_docs, "bytes": os.path.getsize(path)}


def bm25_queries(seed: int, n: int) -> list[str]:
    """Queries of 1-3 words drawn from the corpus vocabulary."""
    rng = random.Random(seed * 7 + 5)
    vocab = corpus_vocabulary(seed)[10:]
    zipf = Zipf(rng, len(vocab), s=1.0)
    return [" ".join(vocab[zipf.draw(rng)] for _ in range(rng.randint(1, 3)))
            for _ in range(n)]


def probe_slice(seed: int, n_docs: int, share: float = 0.02) -> list[int]:
    """The seeded slice of doc ids that probes the rest for near-dups."""
    rng = random.Random(seed * 7 + 6)
    return sorted(rng.sample(range(n_docs), max(1, int(n_docs * share))))
