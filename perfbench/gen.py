"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, physical types and value
domains of the engine's sf0.1 fixtures. The same seed gives byte-identical
tables; a different seed gives different rows of the same shape.

Usage: python3 perfbench/gen.py <out_dir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()

DAY_US = 86_400_000_000
# epoch-µs of the fixture date domains (naive timestamps)
ORDER_LO, ORDER_DAYS = 788_918_400_000_000, 2404    # 1995-01-01 .. 2001-08-01
SHIP_LO, SHIP_DAYS = 789_004_800_000_000, 2498      # 1995-01-02 .. 2001-11-04
EVENT_LO, EVENT_SPAN = 1_704_067_200_000_000, 30 * DAY_US  # 2024-01-01 + 30 d


def _strings(values, idx):
    """String column from a small vocabulary and an index array."""
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)).cast(pa.string())


def _ts(us):
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale=1.0):
    """Build every table in memory; `scale` 1.0 is sf0.1's row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_line, n_ev = int(150000 * scale), int(600000 * scale), int(100000 * scale)
    n_doc, n_emb, n_user = int(5000 * scale), int(2000 * scale), int(1500 * scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, n_cust))})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _strings(names, rng.integers(0, len(names), n_part)),
        "p_brand": _strings([f"Brand#{k}" for k in range(1, 26)],
                            rng.integers(0, 25, n_part)),
        "p_type": _strings(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)})
    # every customer places at least one order (the fixtures are
    # referentially total); the rest are drawn uniformly
    cust = np.concatenate([np.arange(n_cust),
                           rng.integers(0, n_cust, n_ord - n_cust)])
    rng.shuffle(cust)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(cust.astype(np.int64)),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(ORDER_LO + rng.integers(0, ORDER_DAYS, n_ord) * DAY_US),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, n_ord))})
    # every part and supplier appears in lineitem at least once
    lpart = np.concatenate([np.arange(n_part),
                            rng.integers(0, n_part, n_line - n_part)])
    lsupp = np.concatenate([np.arange(n_supp),
                            rng.integers(0, n_supp, n_line - n_supp)])
    rng.shuffle(lpart)
    rng.shuffle(lsupp)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(lpart.astype(np.int64)),
        "l_suppkey": pa.array(lsupp.astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": _ts(SHIP_LO + rng.integers(0, SHIP_DAYS, n_line) * DAY_US)})
    # events: time-ordered by event_id, every user sees every event type
    users = np.concatenate([np.repeat(np.arange(n_user), 5),
                            rng.integers(0, n_user, n_ev - 5 * n_user)])
    etype = np.concatenate([np.tile(np.arange(5), n_user),
                            rng.integers(0, 5, n_ev - 5 * n_user)])
    perm = rng.permutation(n_ev)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(EVENT_LO + np.sort(rng.integers(0, EVENT_SPAN, n_ev))),
        "user_id": pa.array(users[perm].astype(np.int64)),
        "event_type": _strings(EVENT_TYPES, etype[perm]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        if i >= 100 and rng.random() < 0.002:      # a few exact duplicates
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = rng.choice(WORDS, int(rng.integers(8, 100)))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _strings(LANGS, rng.choice(5, n_doc, p=[.4, .15, .15, .15, .15])),
        "source": _strings([f"src{k}" for k in range(20)], np.arange(n_doc) % 20),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return out


def write(out_dir, seed, scale=1.0):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]),
          float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
