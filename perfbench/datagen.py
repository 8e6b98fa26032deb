"""Seeded synthetic inputs for the benchmark.

Two input sets, both a pure function of ``(seed, scale)``:

* :func:`write_star_schema` — the ten tables the catalog queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), one parquet file each, in the same schemas and
  value domains as the engine's reference test data: uniform TPC-H-style
  keys and measures, a uniform 30-word corpus with ~5% planted near-copies
  (``... dup``) for the dedup operators, unit-norm 64-d embeddings.
* :func:`ingest_days` — order/item days in the reference pipeline's native
  shapes (``orders``, ``order_items``, ``products``) for the daily-ingest
  replay. Items carry their order's creation day, and a seeded share of
  each day's orders arrives one to three days late.

Everything is drawn from one ``numpy.random.Generator`` per table, so a
table does not change when another one's size does.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_ORDER_DAY0 = dt.datetime(1995, 1, 1)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
_EVENT_T0 = dt.datetime(2024, 1, 1)
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, table)), len(table)])


def _days(day0: dt.datetime, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (sf0.01 = 15k orders)."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust)),
    })

    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    names = np.char.add(
        np.char.add(r.choice(PART_ADJ, n_part), " "), r.choice(PART_NOUN, n_part)
    )
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": pa.array(names.tolist()),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": pa.array(r.choice(PART_TYPES, n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })

    r = _rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(r, 1_000.0, 500_000.0, n_ord),
        "o_orderdate": _days(_ORDER_DAY0, r.integers(0, _ORDER_DAYS, n_ord)),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord)),
    })

    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(r.choice(["F", "O"], n_line)),
        "l_shipdate": _days(
            _ORDER_DAY0 + dt.timedelta(days=1), r.integers(0, _SHIP_DAYS, n_line)
        ),
    })

    r = _rng(seed, "events")
    ts_us = np.sort(r.integers(0, _EVENT_SPAN_US, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64(_EVENT_T0, "us") + ts_us.astype("timedelta64[us]")),
        "user_id": r.integers(0, max(150, n_cust // 10), n_evt).astype(np.int64),
        "event_type": pa.array(r.choice(EVENT_TYPES, n_evt)),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
    })

    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pa.array(r.choice(LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    r = _rng(seed, "embeddings")
    x = r.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), i32),
    })
    return t


def write_star_schema(out_dir: str, seed: int, sf: float) -> int:
    """Write the catalog tables as ``<out_dir>/<table>.parquet``; returns
    the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in star_schema(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# -- daily ingest ------------------------------------------------------------

INGEST_DAY0 = dt.date(2024, 1, 1)


def ingest_products(seed: int, n_products: int) -> pa.Table:
    r = _rng(seed, "products")
    price = np.round(r.uniform(5.0, 500.0, n_products), 2)
    return pa.table({
        "id": np.arange(n_products, dtype=np.int64),
        "sku": [f"SKU-{i:07d}" for i in range(n_products)],
        "cost": np.round(price * 0.6, 2),
        "category": pa.array(r.choice(PART_TYPES, n_products)),
        "retail_price": price,
    })


def ingest_days(
    seed: int,
    n_days: int,
    orders_per_day: int,
    n_users: int,
    n_products: int,
    late_share: float = 0.05,
) -> list[tuple[pa.Table, pa.Table]]:
    """``n_days`` arrival days of ``(orders, order_items)``.

    Day ``d`` delivers the orders created on ``d`` minus its late share,
    plus the orders created one to three days earlier that were held back.
    Every order has one to seven items created with it; about 8% of the
    orders and 5% of the items carry a ``returned_at``."""
    r = _rng(seed, "ingest")
    created: list[np.ndarray] = []
    arrive: list[np.ndarray] = []
    for d in range(n_days):
        n = int(orders_per_day * r.uniform(0.8, 1.2))
        secs = np.sort(r.integers(0, 86_400, n))
        late = r.random(n) < late_share
        delay = np.where(late, r.integers(1, 4, n), 0)
        created.append(d * 86_400 + secs)
        arrive.append(d + delay)
    created_s = np.concatenate(created)
    arrive_d = np.concatenate(arrive)
    n_ord = len(created_s)
    order_id = np.arange(n_ord, dtype=np.int64)
    user_id = r.integers(0, n_users, n_ord).astype(np.int64)
    o_returned = r.random(n_ord) < 0.08

    n_items = r.integers(1, 8, n_ord)
    item_order = np.repeat(order_id, n_items)
    item_product = r.integers(0, n_products, len(item_order)).astype(np.int64)
    item_price = np.round(r.uniform(1.0, 600.0, len(item_order)), 2)
    i_returned = r.random(len(item_order)) < 0.05

    t0 = np.datetime64(dt.datetime.combine(INGEST_DAY0, dt.time()), "us")
    o_ts = t0 + (created_s * 1_000_000).astype("timedelta64[us]")
    o_ret = o_ts + np.timedelta64(2 * 86_400 * 1_000_000, "us")
    i_ts = o_ts[item_order]
    i_ret = i_ts + np.timedelta64(3 * 86_400 * 1_000_000, "us")

    def ts(values: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
        return pa.array(values, pa.timestamp("us"), mask=mask)

    days = []
    for d in range(n_days):
        om = arrive_d == d
        im = om[item_order]
        orders = pa.table({
            "order_id": order_id[om],
            "user_id": user_id[om],
            "created_at": ts(o_ts[om]),
            "returned_at": ts(o_ret[om], ~o_returned[om]),
        })
        items = pa.table({
            "order_id": item_order[im],
            "product_id": item_product[im],
            "sale_price": item_price[im],
            "created_at": ts(i_ts[im]),
            "returned_at": ts(i_ret[im], ~i_returned[im]),
        })
        days.append((orders, items))
    return days
