"""Seeded tables for ``batch_surface``: the program's batch schema
(a TPC-H-style star plus ``events``, ``documents`` and ``embeddings``)
at the size of its smallest test scale, written as one parquet file
per table in the layout ``sources.catalog.table_path`` reads.

Values follow the shapes the registered queries filter on: TPC-H
segment, priority, flag and brand codes; prices in whole cents;
integral quantities; order and ship dates between 1995 and 2001;
one month of events; documents drawn from a small vocabulary with a
share of exact repeats (so the dedup queries find duplicates); and
64-dimensional embeddings clustered around ten labels.
"""

from __future__ import annotations

import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("cold", "small", "large", "green", "blue", "rusty", "shiny", "light")
PART_NOUN = ("widget", "bolt", "gear", "spring", "valve", "nut", "pipe", "frame")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "fr", "es", "zh", "de")
WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark dup group query row data filter customer "
    "line value agg column vector"
).split()

SIZES = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
}
DIM, LABELS = 64, 10
EPOCH = datetime.datetime(1995, 1, 1)


def cents(rng: random.Random, lo: float, hi: float) -> float:
    return rng.randrange(round(lo * 100), round(hi * 100)) / 100


def tables(seed: int) -> dict[str, pa.Table]:
    rng = random.Random(f"batch_surface:{seed}")
    n = SIZES
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": list(REGIONS)}
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": list(range(n["customer"])),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(
            [rng.randrange(25) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [cents(rng, -999.99, 9999.99) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n["customer"])],
    }
    t["supplier"] = {
        "s_suppkey": list(range(n["supplier"])),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(
            [rng.randrange(25) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [cents(rng, -999.99, 9999.99) for _ in range(n["supplier"])],
    }
    retail = [900 + k % 200 / 10 for k in range(n["part"])]
    t["part"] = {
        "p_partkey": list(range(n["part"])),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                   for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}"
                    for _ in range(n["part"])],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": pa.array(
            [rng.randint(1, 50) for _ in range(n["part"])], pa.int32()),
        "p_retailprice": retail,
    }
    order_dates = [EPOCH + datetime.timedelta(days=rng.randrange(2404))
                   for _ in range(n["orders"])]
    t["orders"] = {
        "o_orderkey": list(range(n["orders"])),
        "o_custkey": [rng.randrange(n["customer"]) for _ in range(n["orders"])],
        "o_orderstatus": [rng.choice("OFP") for _ in range(n["orders"])],
        "o_totalprice": [cents(rng, 1000, 500000) for _ in range(n["orders"])],
        "o_orderdate": order_dates,
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n["orders"])],
    }
    okeys = sorted(rng.randrange(n["orders"]) for _ in range(n["lineitem"]))
    line_no: dict[int, int] = {}
    li: dict[str, list] = {c: [] for c in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for ok in okeys:
        line_no[ok] = line_no.get(ok, 0) + 1
        pk = rng.randrange(n["part"])
        qty = rng.randint(1, 50)
        li["l_orderkey"].append(ok)
        li["l_partkey"].append(pk)
        li["l_suppkey"].append(rng.randrange(n["supplier"]))
        li["l_linenumber"].append(line_no[ok])
        li["l_quantity"].append(float(qty))
        li["l_extendedprice"].append(round(qty * retail[pk], 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("NRA"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(
            order_dates[ok] + datetime.timedelta(days=rng.randint(1, 121)))
    li["l_linenumber"] = pa.array(li["l_linenumber"], pa.int32())
    t["lineitem"] = li
    ev0 = datetime.datetime(2024, 1, 1)
    t["events"] = {
        "event_id": list(range(n["events"])),
        "ts": [ev0 + datetime.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
               for _ in range(n["events"])],
        "user_id": [rng.randrange(15) for _ in range(n["events"])],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n["events"])],
        "value": [cents(rng, 0, 330) for _ in range(n["events"])],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n["events"])],
    }
    texts: list[str] = []
    for _ in range(n["documents"]):
        if texts and rng.random() < 0.1:
            texts.append(rng.choice(texts))  # an exact repeat
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(8, 100))))
    t["documents"] = {
        "doc_id": list(range(n["documents"])),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{rng.randrange(20)}" for _ in texts],
        "n_chars": [len(x) for x in texts],
    }
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(LABELS)]
    labels = [rng.randrange(LABELS) for _ in range(n["embeddings"])]
    t["embeddings"] = {
        "vec_id": list(range(n["embeddings"])),
        "embedding": pa.array(
            [[c + rng.gauss(0, 0.3) for c in centers[lab]] for lab in labels],
            pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    timestamps = {"o_orderdate", "l_shipdate", "ts"}
    out = {}
    for name, cols in t.items():
        arrays = {
            c: v if isinstance(v, pa.Array)
            else pa.array(v, pa.timestamp("us") if c in timestamps else None)
            for c, v in cols.items()
        }
        out[name] = pa.table(arrays)
    return out


def write(seed: int, data_dir: str) -> None:
    os.makedirs(data_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
