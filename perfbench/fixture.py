"""Seeded stand-in for the star-schema test fixture (TESTDATA.md), for the
curation_batch workload.

Writes the tables the curation_batch keys read (region, nation,
customer, orders, lineitem, documents, embeddings) as one parquet file
each, with the column names and types of that fixture and the
same value domains, at about its sf0.01 size. The documents are drawn
from the fixture's 31-word vocabulary, and, as in that fixture, one
document in twenty is a near-duplicate: an earlier document with the
word ``dup`` appended. That keeps every near-duplicate pair's 3-gram
Jaccard similarity at 0.9 or more and every other pair's far below the
0.3 threshold of ``dedup_near_minhash``, whose MinHash-LSH answer equals
its exact DuckDB twin only on such a gap (see the key's docstring). The
embeddings are unit vectors around one centre per label.
"""

from __future__ import annotations

import datetime
import math
import os
import random

N_CUSTOMERS = 1_500
N_ORDERS = 15_000
N_LINEITEMS = 60_000
N_PARTS = 2_000
N_SUPPLIERS = 100
N_DOCS = 500
N_EMBEDDINGS = 500
DIM = 64
N_LABELS = 10
NEAR_DUP_SHARE = 0.05

TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en",) * 3 + ("zh", "es", "de", "fr")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
DUP_MARK = "dup"
DAY0 = datetime.datetime(1995, 1, 1)
N_DAYS = 2_400


def _day(rng: random.Random) -> datetime.datetime:
    return DAY0 + datetime.timedelta(days=rng.randrange(N_DAYS))


def _documents(rng: random.Random) -> list[dict]:
    texts: list[str] = []
    for _ in range(N_DOCS):
        if texts and rng.random() < NEAR_DUP_SHARE:
            texts.append(f"{rng.choice(texts)} {DUP_MARK}")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 99))))
    return [
        {"doc_id": i, "text": t, "lang": rng.choice(LANGS), "source": f"src{i % 20}",
         "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]


def _unit(vec: list[float]) -> list[float]:
    norm = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / norm for x in vec]


def _embeddings(rng: random.Random) -> list[dict]:
    centres = [_unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(N_LABELS)]
    rows = []
    for i in range(N_EMBEDDINGS):
        label = rng.randrange(N_LABELS)
        vec = _unit([c + rng.gauss(0, 0.15) for c in centres[label]])
        rows.append({"vec_id": i, "embedding": vec, "label": label})
    return rows


def generate(rng: random.Random) -> dict[str, list[dict]]:
    """Every table as a list of row dicts, drawn from ``rng``."""
    orders = [
        {"o_orderkey": k, "o_custkey": rng.randrange(N_CUSTOMERS),
         "o_orderstatus": rng.choice("FOP"),
         "o_totalprice": round(rng.uniform(1_000, 500_000), 2),
         "o_orderdate": _day(rng), "o_orderpriority": rng.choice(PRIORITIES)}
        for k in range(N_ORDERS)
    ]
    lineitem = []
    for n in range(N_LINEITEMS):
        qty = float(rng.randint(1, 50))
        lineitem.append({
            "l_orderkey": rng.randrange(N_ORDERS), "l_partkey": rng.randrange(N_PARTS),
            "l_suppkey": rng.randrange(N_SUPPLIERS), "l_linenumber": n % 7 + 1,
            "l_quantity": qty,
            "l_extendedprice": round(qty * rng.uniform(900, 2_100), 2),
            "l_discount": rng.randint(0, 10) / 100, "l_tax": rng.randint(0, 8) / 100,
            "l_returnflag": rng.choice("ANR"), "l_linestatus": rng.choice("FO"),
            "l_shipdate": _day(rng),
        })
    return {
        "region": [{"r_regionkey": i, "r_name": r} for i, r in enumerate(REGIONS)],
        "nation": [{"n_nationkey": i, "n_name": f"NATION_{i}", "n_regionkey": i % 5}
                   for i in range(25)],
        "customer": [
            {"c_custkey": k, "c_name": f"Customer#{k:09d}",
             "c_nationkey": rng.randrange(25),
             "c_acctbal": round(rng.uniform(-999.99, 9_999.99), 2),
             "c_mktsegment": rng.choice(SEGMENTS)}
            for k in range(N_CUSTOMERS)
        ],
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def schemas():
    import pyarrow as pa

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    return {
        "region": [("r_regionkey", i32), ("r_name", s)],
        "nation": [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)],
        "customer": [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                     ("c_acctbal", f64), ("c_mktsegment", s)],
        "orders": [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)],
        "lineitem": [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                     ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                     ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                     ("l_linestatus", s), ("l_shipdate", ts)],
        "documents": [("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)],
        "embeddings": [("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                       ("label", i32)],
    }


def write(rng: random.Random, out_dir: str) -> None:
    """Generate every table and write ``<out_dir>/<table>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    tables = generate(rng)
    for name, cols in schemas().items():
        schema = pa.schema(cols)
        pq.write_table(pa.Table.from_pylist(tables[name], schema=schema),
                       os.path.join(out_dir, f"{name}.parquet"))
