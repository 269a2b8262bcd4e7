"""Seeded generator for the ten query-surface tables.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
types and value domains the `SparkEntry.queries` builders read. Row counts
scale with `sf` the way the TPC-H-ish star schema does (sf=0.01 gives
60,000 lineitems); documents and embeddings stay at 500 rows.
"""
import datetime as dt
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
TS = pa.timestamp("us")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), str(Path(out, f"{name}.parquet")))


def generate(out, sf, seed):
    """Write the ten tables for scale `sf` under `out`; same seed, same bytes."""
    rnd = random.Random(seed)
    Path(out).mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_users = int(1_500_000 * sf), 150
    day0 = dt.datetime(1995, 1, 1)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rnd.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rnd.choice(SEGMENTS) for _ in range(n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rnd.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(rnd.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)]})
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rnd.choice(ADJ)} {rnd.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rnd.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rnd.choice(PTYPES) for _ in range(n_part)],
        "p_size": pa.array([rnd.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)]})

    o_date = [day0 + dt.timedelta(days=rnd.randrange(2404)) for _ in range(n_ord)]
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rnd.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rnd.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rnd.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": pa.array(o_date, TS),
        "o_orderpriority": [rnd.choice(PRIORITIES) for _ in range(n_ord)]})

    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(n_ord):
        for ln in range(1, rnd.randint(1, 7) + 1):
            qty = float(rnd.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rnd.randrange(n_part))
            li["l_suppkey"].append(rnd.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rnd.uniform(900, 2100), 2))
            li["l_discount"].append(rnd.randint(0, 10) / 100)
            li["l_tax"].append(rnd.randint(0, 8) / 100)
            li["l_returnflag"].append(rnd.choice("ANR"))
            li["l_linestatus"].append(rnd.choice("FO"))
            li["l_shipdate"].append(o_date[o] + dt.timedelta(days=rnd.randint(1, 121)))
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    li["l_shipdate"] = pa.array(li["l_shipdate"], TS)
    _write(out, "lineitem", li)

    n_ev = int(1_000_000 * sf)
    t0 = dt.datetime(2024, 1, 1)
    ev_ts = sorted(t0 + dt.timedelta(microseconds=rnd.randrange(30 * 86_400_000_000))
                   for _ in range(n_ev))
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, TS),
        "user_id": pa.array([rnd.randrange(n_users) for _ in range(n_ev)], pa.int64()),
        "event_type": [rnd.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(rnd.uniform(0.01, 490.0), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rnd.randrange(100)}}}' for _ in range(n_ev)]})

    docs = [" ".join(rnd.choice(WORDS) for _ in range(rnd.randint(10, 99)))
            for _ in range(500)]
    _write(out, "documents", {
        "doc_id": pa.array(range(500), pa.int64()),
        "text": docs,
        "lang": [rnd.choice(LANGS) for _ in range(500)],
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})
    _write(out, "embeddings", {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array([[rnd.gauss(0, 0.125) for _ in range(64)] for _ in range(500)],
                              pa.list_(pa.float32())),
        "label": pa.array([rnd.randrange(10) for _ in range(500)], pa.int32())})
