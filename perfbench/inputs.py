"""Benchmark inputs, generated from the workload seed.

Two generators, each deterministic in ``seed`` (same seed, same bytes):

- ``write_jaffle_seeds``: the three jaffle seed CSVs (raw_customers,
  raw_orders, raw_payments) at a chosen customer count. The rows are new;
  the distributional edge cases of the reference seeds are kept and
  asserted by ``check_jaffle_edge_cases``.
- ``write_star``: the ten-table star schema the operator catalog reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the column names and parquet types of the
  catalog's test tables, one parquet file per table.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JAFFLE_TABLES = ("raw_customers", "raw_orders", "raw_payments")
ORDER_STATUSES = ("placed", "shipped", "completed", "return_pending", "returned")
PAYMENT_METHODS = ("credit_card", "coupon", "bank_transfer", "gift_card")
FIRST_NAMES = (
    "Michael", "Shawn", "Kathleen", "Jimmy", "Katherine", "Sarah", "Martin",
    "Frank", "Jennifer", "Henry", "Fred", "Amy", "Kathleen", "Steve", "Teresa",
    "Amanda", "Kimberly", "Johnny", "Virginia", "Anna", "Willie", "Sean",
)

# the documents' word list: 28 content words and the two stopwords the
# catalog's quality gates count (`the`, `a`)
VOCAB = (
    "spark query hash row column table scan merge sort join batch stream key "
    "value part agg window fast slow line data small big filter group order "
    "customer vector the a"
).split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write_csv(path: str, columns: dict[str, np.ndarray]) -> None:
    names = list(columns)
    cols = [np.asarray(columns[n]).astype(str) for n in names]
    with open(path, "w") as fh:
        fh.write(",".join(names) + "\n")
        for row in zip(*cols):
            fh.write(",".join(row) + "\n")


def jaffle_tables(seed: int, n_customers: int) -> dict[str, dict[str, np.ndarray]]:
    """Column arrays of the three seed tables.

    Shape per customer: ~38% of customers place no order, the rest place
    ~8 on average; every order has one payment and ~13% have two or three,
    some of them under different methods; amounts are whole dollars in
    cents (multiples of 100) from 0 to 3000, zeros included."""
    rng = _rng(seed, 1)
    cust_ids = np.arange(1, n_customers + 1)
    first = np.array(FIRST_NAMES)[rng.integers(0, len(FIRST_NAMES), n_customers)]
    last = np.array([f"{c}." for c in string.ascii_uppercase])[
        rng.integers(0, 26, n_customers)
    ]

    buyers = cust_ids[rng.random(n_customers) >= 0.38]
    n_orders = 5 * n_customers
    user_id = buyers[rng.integers(0, len(buyers), n_orders)]
    order_date = np.datetime64("2018-01-01") + rng.integers(0, 99, n_orders)
    status = np.array(ORDER_STATUSES)[
        rng.choice(len(ORDER_STATUSES), n_orders, p=(0.1, 0.1, 0.7, 0.05, 0.05))
    ]

    n_pay = 1 + (rng.random(n_orders) < 0.13) * rng.integers(1, 3, n_orders)
    pay_order = np.repeat(np.arange(1, n_orders + 1), n_pay)
    method = np.array(PAYMENT_METHODS)[
        rng.choice(len(PAYMENT_METHODS), len(pay_order), p=(0.55, 0.2, 0.15, 0.1))
    ]
    amount = 100 * rng.integers(0, 31, len(pay_order))
    return {
        "raw_customers": {"id": cust_ids, "first_name": first, "last_name": last},
        "raw_orders": {
            "id": np.arange(1, n_orders + 1),
            "user_id": user_id,
            "order_date": order_date,
            "status": status,
        },
        "raw_payments": {
            "id": np.arange(1, len(pay_order) + 1),
            "order_id": pay_order,
            "payment_method": method,
            "amount": amount,
        },
    }


def check_jaffle_edge_cases(tables: dict[str, dict[str, np.ndarray]]) -> None:
    """Raise ValueError unless the reference seeds' edge cases hold:
    customers without orders, every order paid, multi-payment and
    multi-method orders, zero amounts, every enum value, no NULLs."""
    c, o, p = tables["raw_customers"], tables["raw_orders"], tables["raw_payments"]
    problems = []
    if not len(np.setdiff1d(c["id"], o["user_id"])):
        problems.append("no customer without orders")
    if not np.isin(o["user_id"], c["id"]).all():
        problems.append("order with unknown customer")
    if not np.array_equal(np.unique(p["order_id"]), o["id"]):
        problems.append("order without payment or payment of unknown order")
    per_order = np.bincount(p["order_id"])
    if not (per_order >= 2).any():
        problems.append("no multi-payment order")
    pairs = np.unique(np.stack([p["order_id"], np.unique(p["payment_method"], return_inverse=True)[1]]), axis=1)
    if not (np.bincount(pairs[0]) >= 2).any():
        problems.append("no order paid by two methods")
    if not (p["amount"] == 0).any():
        problems.append("no zero amount")
    if (p["amount"] % 100).any():
        problems.append("amount not a whole dollar")
    if set(o["status"]) != set(ORDER_STATUSES):
        problems.append("an order status is missing")
    if set(p["payment_method"]) != set(PAYMENT_METHODS):
        problems.append("a payment method is missing")
    for name, cols in tables.items():
        for col, arr in cols.items():
            if arr.dtype.kind in "OU" and (arr == "").any():
                problems.append(f"empty value in {name}.{col}")
    for name, cols in tables.items():
        ids = cols["id"]
        if not np.array_equal(ids, np.arange(1, len(ids) + 1)):
            problems.append(f"{name}.id is not dense 1..n")
    if problems:
        raise ValueError("jaffle seed edge cases violated: " + "; ".join(problems))


def write_jaffle_seeds(out_dir: str, seed: int, n_customers: int) -> dict[str, int]:
    """Write the three seed CSVs; returns row counts per table."""
    tables = jaffle_tables(seed, n_customers)
    check_jaffle_edge_cases(tables)
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        _write_csv(os.path.join(out_dir, f"{name}.csv"), cols)
    return {name: len(cols["id"]) for name, cols in tables.items()}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start, days, n):
    return (np.datetime64(start, "us") + rng.integers(0, days, n) * np.timedelta64(1, "D"))


def documents(seed: int, n: int, words: tuple[int, int]) -> pa.Table:
    """Word-salad documents over ``VOCAB`` of ``words`` (min, max) words
    with planted duplicates: ~1% are exact copies of an earlier doc and
    ~5% are near-copies with one or two words replaced."""
    rng = _rng(seed, 9)
    vocab = np.array(VOCAB)
    n_words = rng.integers(words[0], words[1] + 1, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    kind = rng.random(n)
    for i in range(1, n):
        src = int(rng.integers(0, i))
        if kind[i] < 0.01:
            texts[i] = texts[src]
        elif kind[i] < 0.06:
            toks = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts[i] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def star_tables(seed: int, sf: float, n_doc: int, doc_words: tuple[int, int]) -> dict[str, pa.Table]:
    """The star schema at scale factor ``sf`` (sf 0.01: 1,500 customers,
    15,000 orders, 60,000 lineitems, 10,000 events, 500 embeddings) with
    ``n_doc`` documents of ``doc_words`` words."""
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    r = [_rng(seed, 100 + i) for i in range(10)]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    rng = r[0]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }
    )
    rng = r[1]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    rng = r[2]
    adj = np.array(["small", "large", "red", "blue", "hot", "cold", "new", "old"])
    noun = np.array(["bolt", "gear", "rod", "ring", "plate", "anvil", "widget", "nut"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]
            ),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                rng.integers(0, 6, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    rng = r[3]
    odate = _dates(rng, "1995-01-01", 2404, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    rng = r[4]
    l_order = rng.integers(0, n_ord, n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(
                odate[l_order] + rng.integers(1, 95, n_line) * np.timedelta64(1, "D"),
                pa.timestamp("us"),
            ),
        }
    )
    rng = r[5]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(150, n_cust), n_ev), pa.int64()),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": _money(rng, 0, 560, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents(seed, n_doc, doc_words)
    rng = r[7]
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + 0.8 * rng.normal(size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return t


def write_star(out_dir: str, seed: int, sf: float, n_doc: int, doc_words: tuple[int, int]) -> dict[str, int]:
    """Write every star table as one parquet file; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in star_tables(seed, sf, n_doc, doc_words).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
