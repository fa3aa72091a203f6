#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables the library reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the schemas of the library's fixtures. The same seed gives
byte-identical files; a different seed gives different files.

The generator controls the input properties the workloads depend on and
records them in props.json beside the tables:
  - documents: planted near-duplicates (a copy of an earlier document with
    one token appended: 3-shingle Jaccard (n-2)/(n-1) >= 0.97 for the
    >= 40-token bases used) and exact duplicates (a verbatim copy). The
    background is uniform over a 30-word vocabulary, so unrelated pairs sit
    far below the 0.8 dedup threshold, the property the LSH-equals-exact
    argument behind the dedup oracles needs.
  - embeddings: 64-dim float32 vectors around seeded cluster centres.
  - events: a share of late events (timestamp moved back 1-6 hours against
    their id order) and of re-delivered duplicates (an earlier event's
    user, type, value and props under a new id and a nearby timestamp).

Usage: python3 perfbench/gen.py <out_dir> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes fit the benchmark's run-time budget. The library's cost at these
# sizes is mostly per-job and per-microbatch overhead: the pipeline takes
# about as long on 600 documents as on 2,000, and twice as long on 6,000.
N_DOCS = 2000
N_VECS = 4000
N_CLUSTERS = 16
DIM = 64
N_EVENTS = 10000
N_USERS = 300
N_CUSTOMERS = 1500
N_SUPPLIERS = 100
N_PARTS = 2000
N_ORDERS = 15000
N_LINEITEMS = 60000

NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.01
LATE_SHARE = 0.05
EVENT_DUP_SHARE = 0.05

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(choices, idx):
    return pa.array(np.array(choices)[idx])


def ts_us(values):
    return pa.array(values.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def documents(rng):
    n_base = int(round(N_DOCS * (1 - NEAR_DUP_SHARE - EXACT_DUP_SHARE)))
    n_near = int(round(N_DOCS * NEAR_DUP_SHARE))
    n_exact = N_DOCS - n_base - n_near
    texts = []
    for length in rng.integers(10, 101, n_base):
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), length)))
    long_bases = [i for i, t in enumerate(texts) if t.count(" ") + 1 >= 40]
    for src in rng.choice(long_bases, n_near, replace=False):
        texts.append(texts[src] + " " + VOCAB[rng.integers(0, len(VOCAB))])
    for src in rng.choice(n_base, n_exact, replace=False):
        texts.append(texts[src])
    # Shuffle so copies are spread over the id range (and over the stream
    # files the streaming stagers split the table into).
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pick(LANGS, rng.integers(0, len(LANGS), N_DOCS)),
        "source": pick([f"src{i}" for i in range(20)], rng.integers(0, 20, N_DOCS)),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    return table, {"docs": N_DOCS, "near_dup_share": n_near / N_DOCS,
                   "exact_dup_share": n_exact / N_DOCS, "vocab": len(VOCAB)}


def embeddings(rng):
    centres = rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    labels = rng.integers(0, N_CLUSTERS, N_VECS)
    vecs = (centres[labels] + rng.normal(0.0, 0.6, (N_VECS, DIM))) * 0.1
    flat = pa.array(vecs.astype(np.float32).reshape(-1), type=pa.float32())
    table = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, N_VECS * DIM + 1, DIM), type=pa.int32()), flat),
        "label": pa.array(labels.astype(np.int32)),
    })
    return table, {"vectors": N_VECS, "clusters": N_CLUSTERS, "dim": DIM}


def events(rng):
    n = N_EVENTS
    base = np.sort(rng.integers(0, 30 * DAY_US, n))
    users = rng.integers(0, N_USERS, n)
    types = rng.integers(0, len(EVENT_TYPES), n)
    values = money(rng, 0, 200, n)
    ks = rng.integers(0, 100, n)
    dup = rng.random(n) < EVENT_DUP_SHARE
    dup[0] = False
    for i in np.nonzero(dup)[0]:
        j = rng.integers(max(0, i - 50), i)
        users[i], types[i], values[i], ks[i] = users[j], types[j], values[j], ks[j]
    late = rng.random(n) < LATE_SHARE
    shift = rng.integers(3600, 6 * 3600, n) * 1_000_000
    ts = np.maximum(base - np.where(late, shift, 0), 0) + EPOCH_2024_US
    table = pa.table({
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "ts": ts_us(ts),
        "user_id": pa.array(users, type=pa.int64()),
        "event_type": pick(EVENT_TYPES, types),
        "value": pa.array(values, type=pa.float64()),
        "props": pick([f'{{"k": {k}}}' for k in range(100)], ks),
    })
    return table, {"events": n, "users": N_USERS, "late_share": float(late.mean()),
                   "duplicate_share": float(dup.mean())}


def star_schema(rng):
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": pa.array(REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, N_CUSTOMERS + 1), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, N_CUSTOMERS + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), type=pa.int32()),
        "c_acctbal": pa.array(money(rng, -999, 9999, N_CUSTOMERS)),
        "c_mktsegment": pick(SEGMENTS, rng.integers(0, 5, N_CUSTOMERS))})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, N_SUPPLIERS + 1), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, N_SUPPLIERS + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), type=pa.int32()),
        "s_acctbal": pa.array(money(rng, -999, 9999, N_SUPPLIERS))})
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, N_PARTS + 1), type=pa.int64()),
        "p_name": pa.array([" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), 3))
                            for _ in range(N_PARTS)]),
        "p_brand": pick([f"Brand#{i}" for i in range(11, 56)], rng.integers(0, 45, N_PARTS)),
        "p_type": pick([f"TYPE{i}" for i in range(30)], rng.integers(0, 30, N_PARTS)),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), type=pa.int32()),
        "p_retailprice": pa.array(money(rng, 900, 2000, N_PARTS))})
    odate = EPOCH_2024_US - rng.integers(0, 2000, N_ORDERS) * DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMERS + 1, N_ORDERS), type=pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], rng.integers(0, 3, N_ORDERS)),
        "o_totalprice": pa.array(money(rng, 1000, 400000, N_ORDERS)),
        "o_orderdate": ts_us(odate),
        "o_orderpriority": pick(PRIORITIES, rng.integers(0, 5, N_ORDERS))})
    okeys = rng.integers(1, N_ORDERS + 1, N_LINEITEMS)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(1, N_PARTS + 1, N_LINEITEMS), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, N_SUPPLIERS + 1, N_LINEITEMS), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEMS).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900, 100000, N_LINEITEMS)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, N_LINEITEMS) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, N_LINEITEMS) / 100, 2)),
        "l_returnflag": pick(["A", "N", "R"], rng.integers(0, 3, N_LINEITEMS)),
        "l_linestatus": pick(["F", "O"], rng.integers(0, 2, N_LINEITEMS)),
        "l_shipdate": ts_us(EPOCH_2024_US - rng.integers(0, 2000, N_LINEITEMS) * DAY_US)})
    return tables


def generate(out_dir, seed):
    # One independent stream per table, so resizing one table leaves the
    # others' bytes unchanged.
    streams = np.random.SeedSequence(seed).spawn(4)
    rngs = [np.random.default_rng(s) for s in streams]
    tables = star_schema(rngs[0])
    props = {"seed": seed}
    for name, make, rng in (("documents", documents, rngs[1]),
                            ("embeddings", embeddings, rngs[2]),
                            ("events", events, rngs[3])):
        tables[name], p = make(rng)
        props.update(p)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    with open(os.path.join(out_dir, "props.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    return props


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2])), sort_keys=True))
