#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two datasets:

* ``gates``: the ten parquet tables the gate queries read (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings), with the schemas, key domains and value ranges of the
  project's test data. Row counts follow the scale factor ``sf``
  (lineitem = 6,000,000 x sf).
* ``etl``: the reference source tables (customers, products, stores,
  orders, orderdetails) as CSV for two days of the daily workflow, plus
  ``expect.properties`` with what the warehouse must hold after each run.
  Day 2 changes a seeded ~10% of customer and product attributes and adds
  the ~10% of orders (with their details) held back on day 1.

The same arguments always give the same files.

Usage: python3 perfbench/gen.py gates <out_dir> <sf> <seed>
       python3 perfbench/gen.py etl <out_dir> <scale> <seed>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def days(start, end):
    return (datetime.date.fromisoformat(end) - datetime.date.fromisoformat(start)).days


def ts_ms(start, day_offsets):
    base = np.datetime64(start, "ms")
    return pa.array(base + day_offsets.astype("timedelta64[D]"), type=pa.timestamp("ms"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def gates(out, sf, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), int(15_000 * sf)

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    keys = np.arange(n_part)
    write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": ts_ms("1995-01-01", rng.integers(0, days("1995-01-01", "2001-08-01") + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts_ms("1995-01-02", rng.integers(0, days("1995-01-02", "2001-11-04") + 1, n_line))})

    month_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.choice(month_us, n_ev, replace=False))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)])
             for n in rng.integers(10, 100, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


FIRST = ["Ana", "Ben", "Chen", "Dara", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun",
         "Kai", "Lea", "Mo", "Nia", "Oto", "Pia"]
LAST = ["Smith", "Garcia", "Nguyen", "Kim", "Okafor", "Rossi", "Novak", "Silva",
        "Haddad", "Larsen", "Ito", "Kumar"]
CITIES = ["Springfield", "Riverton", "Lakeside", "Fairview", "Georgetown",
          "Salem", "Madison", "Clinton", "Franklin", "Ashland"]
STATES = ["CA", "NY", "TX", "WA", "IL", "OH", "GA", "MA", "CO", "OR"]
STREETS = ["Oak", "Pine", "Maple", "Cedar", "Elm", "Main", "Lake", "Hill"]
CATEGORIES = ["Tools", "Garden", "Kitchen", "Toys", "Office", "Sports", "Audio"]
RUN_DATES = ["2024-06-01", "2024-06-02"]


def csv_value(v):
    s = str(v)
    return f'"{s}"' if ("," in s or '"' in s) else s


def write_csv(path, header, rows):
    os.makedirs(path, exist_ok=True)
    f = os.path.join(path, "part-00000.csv")
    with open(f, "w", newline="") as fh:
        fh.write(",".join(header) + "\n")
        for r in rows:
            fh.write(",".join(csv_value(v) for v in r) + "\n")
    return os.path.getsize(f)


def etl(out, scale, seed):
    """`scale` 1.0 is the size of the project's sf0.1 source tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_prod, n_ord = int(15_000 * scale), int(20_000 * scale), int(150_000 * scale)
    n_store = 25

    def customers(changed):
        rows = []
        for i in range(1, n_cust + 1):
            f, l = FIRST[(i * 7) % len(FIRST)], LAST[(i * 11) % len(LAST)]
            v = 2 if i in changed else 1
            rows.append((i, f, l, f"{f.lower()}.{l.lower()}{i}.v{v}@example.com",
                         f"{(i * 13 + v) % 9000 + 100} {STREETS[(i + v) % 8]} St",
                         CITIES[(i + v) % 10], STATES[i % 10], f"{(i * 31) % 90000 + 10000}"))
        return rows

    base_cents = rng.integers(100, 100_000, n_prod)
    new_cents = rng.integers(100, 100_000, n_prod)

    def products(changed):
        rows = []
        for i in range(1, n_prod + 1):
            v = 2 if i in changed else 1
            cents = new_cents[i - 1] if v == 2 else base_cents[i - 1]
            rows.append((i, f"Item {i}", CATEGORIES[i % 7],
                         f"{CATEGORIES[i % 7]} item {i} rev {v}", f"{cents // 100}.{cents % 100:02d}"))
        return rows

    stores = [(i, f"Store {i}", f"{i * 10} Market St", CITIES[i % 10], STATES[i % 10],
               f"{10000 + i * 37}") for i in range(1, n_store + 1)]

    order_day = rng.integers(0, days("2023-01-01", "2024-05-31") + 1, n_ord)
    orders = [(i, int(rng.integers(1, n_cust + 1)), int(rng.integers(1, n_store + 1)),
               str(datetime.date(2023, 1, 1) + datetime.timedelta(days=int(d))))
              for i, d in zip(range(1, n_ord + 1), order_day)]
    details = []
    for oid in range(1, n_ord + 1):
        for pid in rng.choice(n_prod, int(rng.integers(1, 8)), replace=False) + 1:
            cents = int(base_cents[pid - 1])
            details.append((oid, int(pid), int(rng.integers(1, 51)), cents))

    held = set((np.flatnonzero(rng.random(n_ord) < 0.10) + 1).tolist())
    cust_changed = set((np.flatnonzero(rng.random(n_cust) < 0.10) + 1).tolist())
    prod_changed = set((np.flatnonzero(rng.random(n_prod) < 0.10) + 1).tolist())

    headers = {
        "customers": ["CustomerID", "FirstName", "LastName", "Email", "Address", "City", "State", "ZipCode"],
        "products": ["ProductID", "ProductName", "Category", "Description", "Price"],
        "stores": ["StoreID", "StoreName", "Address", "City", "State", "ZipCode"],
        "orders": ["OrderID", "CustomerID", "StoreID", "OrderDate"],
        "orderdetails": ["OrderID", "ProductID", "Quantity", "UnitPrice"],
    }
    expect = {"csv.bytes": 0, "csv.rows": 0}
    counts = {}
    for day in (1, 2):
        d_orders = [o for o in orders if day == 2 or o[0] not in held]
        d_details = [d for d in details if day == 2 or d[0] not in held]
        tables = {
            "customers": customers(cust_changed if day == 2 else set()),
            "products": products(prod_changed if day == 2 else set()),
            "stores": stores,
            "orders": d_orders,
            "orderdetails": [(o, p, q, f"{c // 100}.{c % 100:02d}") for o, p, q, c in d_details],
        }
        for name, rows in tables.items():
            expect["csv.bytes"] += write_csv(os.path.join(out, f"day{day}", name), headers[name], rows)
            expect["csv.rows"] += len(rows)
            expect[f"day{day}.rows.{name}"] = len(rows)
            counts[(day, name)] = len(rows)
        for name in ("customers", "products", "stores"):
            expect[f"day{day}.dimrows.{name}"] = sum(counts[(d, name)] for d in range(1, day + 1))
        expect[f"day{day}.factrows"] = len(d_details)
        expect[f"day{day}.factcents"] = sum(q * c for _, _, q, c in d_details)
        expect[f"day{day}.rundate"] = RUN_DATES[day - 1]
    with open(os.path.join(out, "expect.properties"), "w") as fh:
        for k in sorted(expect):
            fh.write(f"{k}={expect[k]}\n")


if __name__ == "__main__":
    kind, out, size, seed = sys.argv[1], sys.argv[2], float(sys.argv[3]), int(sys.argv[4])
    {"gates": gates, "etl": etl}[kind](out, size, seed)
