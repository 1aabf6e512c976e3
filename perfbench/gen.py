"""Seeded world generator: the ten input tables the program reads, with
the schemas, domains and row counts of the repository's sf0.01 test
fixture (see FIXTURES.md), drawn afresh from one integer seed.

    python3 perfbench/gen.py <outDir> <seed>

The same seed always writes the same tables. Like the fixture, the
columns are independent draws (foreign keys point inside their parent
table), the documents are word soup over a 30-word vocabulary with 5%
planted near-duplicates, and the embeddings are unit vectors with weak
label clusters. What the queries' work depends on (row counts, the
duplicate graph) is fixed; the values are drawn from the seed.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.13, 0.15]
DIM = 64


def days(rng, lo, hi, n):
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + d).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def documents(rng, n):
    """Word soup, except in a fixed set of slots: the document in slot
    (block b, position (b // 2) % 20) of each block of 20 is its
    same-source predecessor (20 back) plus the word "dup". The text
    dedup queries pair documents of one source only, so every seed
    plants the same duplicate graph: 11 three-document chains and 2
    pairs (24 near-duplicates, ~5%)."""
    texts = []
    for i in range(n):
        b, j = divmod(i, 20)
        if b >= 1 and j == (b // 2) % 20:
            texts.append(texts[i - 20] + " dup")
        else:
            texts.append(" ".join(pick(rng, VOCAB, int(rng.integers(10, 100)))))
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0, 0.14 / np.sqrt(DIM), (10, DIM))
    v = centroids[labels] + rng.normal(0, 1 / np.sqrt(DIM), (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": labels}


def world(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = np.int32
    gaps = rng.exponential(259.0, n["events"]) * 1e6
    return {
        "region": {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS},
        "nation": {"n_nationkey": np.arange(25, dtype=i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=i32) % 5},
        "customer": {"c_custkey": np.arange(n["customer"]),
                     "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                     "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
                     "c_acctbal": money(rng, -999.99, 9999.99, n["customer"]),
                     "c_mktsegment": pick(rng, SEGMENTS, n["customer"])},
        "supplier": {"s_suppkey": np.arange(n["supplier"]),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                     "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
                     "s_acctbal": money(rng, -999.99, 9999.99, n["supplier"])},
        "part": {"p_partkey": np.arange(n["part"]),
                 "p_name": [f"{a} {b}" for a, b in zip(
                     pick(rng, ADJECTIVES, n["part"]), pick(rng, NOUNS, n["part"]))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                 "p_type": pick(rng, PART_TYPES, n["part"]),
                 "p_size": rng.integers(1, 51, n["part"]).astype(i32),
                 "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1)},
        "orders": {"o_orderkey": np.arange(n["orders"]),
                   "o_custkey": rng.integers(0, n["customer"], n["orders"]),
                   "o_orderstatus": pick(rng, ["F", "O", "P"], n["orders"]),
                   "o_totalprice": money(rng, 1000, 500000, n["orders"]),
                   "o_orderdate": days(rng, "1995-01-01", "2001-08-01", n["orders"]),
                   "o_orderpriority": pick(rng, PRIORITIES, n["orders"])},
        "lineitem": {"l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
                     "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
                     "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
                     "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(i32),
                     "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
                     "l_extendedprice": money(rng, 900, 105000, n["lineitem"]),
                     "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
                     "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
                     "l_returnflag": pick(rng, ["A", "N", "R"], n["lineitem"]),
                     "l_linestatus": pick(rng, ["F", "O"], n["lineitem"]),
                     "l_shipdate": days(rng, "1995-01-02", "2001-11-04", n["lineitem"])},
        "events": {"event_id": np.arange(n["events"]),
                   "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                   "user_id": rng.integers(0, 150, n["events"]),
                   "event_type": pick(rng, EVENT_TYPES, n["events"]),
                   "value": np.maximum(np.round(rng.exponential(50, n["events"]), 2), 0.01),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]},
        "documents": documents(rng, n["documents"]),
        "embeddings": embeddings(rng, n["embeddings"]),
    }


def main(out, seed):
    os.makedirs(out, exist_ok=True)
    for name, cols in world(seed).items():
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
