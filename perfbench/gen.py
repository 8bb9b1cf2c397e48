"""Seeded generator for the benchmark's input catalog.

Writes the ten tables graft's queries read (the TPC-H-ish star schema plus
`events`, `documents` and `embeddings`), one parquet file each, with the
column names, types and value domains of the reference test catalog. The
same (seed, scale) always gives byte-identical inputs.

    python3 perfbench/gen.py <out_dir> <seed> <scale>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir, name, cols, schema):
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, seed, scale):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(150, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_users = max(15, int(15_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    _write(out_dir, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out_dir, "nation",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]))
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    _write(out_dir, "part",
           {"p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                  rng.choice(PART_NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                      ("o_orderdate", pa.timestamp("us")),
                      ("o_orderpriority", pa.string())]))

    # lineitem keys are drawn independently, so (l_orderkey, l_linenumber)
    # repeats exactly as in the reference catalog; the engine's 5-column
    # logical key must stay unique, so colliding rows are dropped.
    li = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 901, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), n_line),
    }
    key = np.rec.fromarrays([li[c] for c in ("l_orderkey", "l_linenumber", "l_partkey",
                                             "l_suppkey", "l_extendedprice")])
    _, first = np.unique(key, return_index=True)
    keep = np.sort(first)
    li = {k: v[keep] for k, v in li.items()}
    _write(out_dir, "lineitem", li,
           pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                      ("l_shipdate", pa.timestamp("us"))]))

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")
    _write(out_dir, "events",
           {"event_id": np.arange(n_events, dtype=np.int64),
            "ts": t0 + offs,
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": _money(rng, 0.01, 500, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]},
           pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                      ("user_id", pa.int64()), ("event_type", pa.string()),
                      ("value", pa.float64()), ("props", pa.string())]))

    # documents: random word streams, plus a share of near-duplicates (an
    # earlier document with a few words replaced) so the dedup operators
    # have clusters to find
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    _write(out_dir, "documents",
           {"doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32)},
           pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
