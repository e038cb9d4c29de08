"""Seeded input tables for the benchmark.

Writes the ten parquet tables the program reads (a TPC-H-like star
schema, an event stream, a text corpus and an embedding table) with the
column names and types of the project's test data, at the row counts in
ROWS. The value distributions follow that data, except that documents
and embeddings carry planted duplicates (see documents, embeddings). Every value is drawn from one numpy
generator seeded by --seed, so the same seed writes the same rows.

    python3 perfbench/gen.py --seed 7 --out <dir>
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table (the project's sf0.01 test data has the same).
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = ("row the query stream key agg scan slow table part a merge window "
         "order column join vector value hash batch sort data big filter "
         "fast spark line small customer group").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64
US_PER_DAY = 86_400_000_000


def epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def days_between(rng, n, lo, hi):
    """Midnight timestamps drawn uniformly from [lo, hi] (epoch us)."""
    return lo + rng.integers(0, (hi - lo) // US_PER_DAY + 1, n) * US_PER_DAY


def ts(values):
    return pa.array(values, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """Word-salad documents over a small vocabulary; about one in twenty
    is a near-duplicate of an earlier one (its text plus " dup")."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    """Unit vectors around 16 cluster centres (cosine about 0.86 to their
    centre). About one in twenty is an exact copy of an earlier vector
    and one in twenty a near-duplicate of one (cosine above 0.9999), so
    EmbeddingIndexJob's exact and LSH near-dedup stages have work to
    remove and k-means has clusters to find. The project's own test
    embeddings are isotropic with no duplicates; on them both dedup
    stages remove nothing."""
    centres = rng.standard_normal((16, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    v = centres[rng.integers(0, 16, n)] + rng.standard_normal((n, DIM)) * 0.075
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            v[i] = v[rng.integers(0, i)]
        elif u < 0.10:
            w = v[rng.integers(0, i)] + rng.standard_normal(DIM) * 0.001
            v[i] = w / np.linalg.norm(w)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(seed):
    rng = np.random.default_rng(seed)
    r = ROWS
    nc, ns, npart, no, nl, ne = (r["customer"], r["supplier"], r["part"],
                                 r["orders"], r["lineitem"], r["events"])
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string())})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, ns))})
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(rng.choice(PTYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 1))})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUS, no), pa.string()),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": ts(days_between(rng, no, epoch_us(1995, 1, 1), epoch_us(2001, 8, 1))),
        "o_orderpriority": pa.array(rng.choice(PRIORITY, no), pa.string())})
    qty = rng.integers(1, 51, nl).astype(np.float64)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), pa.string()),
        "l_shipdate": ts(days_between(rng, nl, epoch_us(1995, 1, 2), epoch_us(2001, 11, 4)))})
    start = epoch_us(2024, 1, 1)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": ts(np.sort(start + rng.integers(0, 30 * US_PER_DAY, ne))),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string())})
    yield "documents", documents(rng, r["documents"])
    yield "embeddings", embeddings(rng, r["embeddings"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.seed, a.out)


def write(seed, out):
    """Writes every table under `out`; returns {table: (rows, bytes)}."""
    os.makedirs(out, exist_ok=True)
    sizes = {}
    for name, t in tables(seed):
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        sizes[name] = (t.num_rows, os.path.getsize(path))
    return sizes


if __name__ == "__main__":
    main()
