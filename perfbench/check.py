"""Correctness checks on the outputs of one benchmark run.

Query results (written as parquet by the first untimed warm-up pass) are compared
with the query's DuckDB oracle over the same generated tables, using the
canonicalization of the project's tools/check.py. Example-job outputs
are checked against the invariants their specs assert.
"""
import glob
import importlib.util
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon_module():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    return con


def check_query(con, canon, out_dir, name, sql):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return "NO_OUTPUT"
    rel = con.sql(sql)
    ocols, orows = list(rel.columns), rel.fetchall()
    tbl = pq.read_table(os.path.join(out_dir, name))
    scols, data = tbl.column_names, tbl.to_pydict()
    srows = list(zip(*[data[c] for c in scols])) if scols else []
    sc, sm = canon.table_matrix(scols, srows)
    oc, om = canon.table_matrix(ocols, orows)
    if sc != oc:
        return f"SCHEMA_MISMATCH spark={sc} oracle={oc}"
    if len(sm) != len(om):
        return f"ROWCOUNT spark={len(sm)} oracle={len(om)}"
    if sm != om:
        diffs = [(x, y) for x, y in zip(sm, om) if x != y][:2]
        return f"VALUE_MISMATCH {diffs}"[:300]
    return f"OK({len(sm)} rows)"


def _rows(con, path, cols="*"):
    return con.sql(f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet', "
                   "hive_partitioning = true)").fetchall()


def check_embedding_index(con, d, data):
    index = [r[0] for r in _rows(con, f"{d}/index", "id")]
    pruned = {r[0] for r in _rows(con, f"{d}/pruned", "id")}
    n = _rows(con, f"{d}/manifest", "sum(n_vectors)")[0][0]
    if not index:
        return "EMPTY index"
    if len(index) != len(set(index)) or set(index) != pruned:
        return "index does not cover exactly the pruned survivors"
    if n != len(index):
        return f"manifest counts {n} vectors, index has {len(index)}"
    # dedup: exact copies of a lower id are gone, and every other dropped
    # id has a lower-id near-duplicate (cosine >= 0.995) or no centroid
    # at cosine >= 0 (the default --min-proto)
    t = pq.read_table(os.path.join(data, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    first = {}
    exact = {i for i, row in zip(ids, v) if first.setdefault(row.tobytes(), i) != i}
    keep = np.array([i not in exact for i in ids])
    u = v.astype(np.float64)
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    cos = np.tril(u @ u.T, -1)
    cos[:, ~keep] = 0
    near = {i for i, row in zip(ids, cos) if i not in exact and row.max() >= 0.995}
    cents = np.array([r[0] for r in _rows(con, f"{d}/centroids", "cvec")], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    off = {i for i, p in zip(ids, (u @ cents.T).max(axis=1)) if p < 0}
    dropped = set(ids) - pruned
    if exact - dropped:
        return f"exact duplicates kept: {sorted(exact - dropped)[:5]}"
    if dropped - exact - near - off:
        return f"dropped without a duplicate: {sorted(dropped - exact - near - off)[:5]}"
    # LSH finds a near pair unless a hyperplane splits it, which is rare
    if 2 * len(near & dropped) < len(near):
        return f"near-dedup removed {len(near & dropped)} of {len(near)} near-duplicates"
    return (f"OK({len(index)} vectors; removed {len(exact)} exact and "
            f"{len(near & dropped)}/{len(near)} near duplicates)")


JOB_CHECKS = {"embedding_index": check_embedding_index}


def check_all(res, data):
    """{op name: "OK..." or a failure description}."""
    con = _connect(data)
    canon = _canon_module()
    out_dir = os.path.join(os.path.dirname(data), "out", "correct")
    status = {}
    warm = next(p for p in res["passes"] if p["kind"] == "warm")
    for o in warm["ops"]:
        if o["name"] in res["job_dirs"]:
            continue
        sql = res["oracle"].get(o["name"])
        try:
            status[o["name"]] = ("NO_ORACLE" if sql is None else
                                 check_query(con, canon, out_dir, o["name"], sql))
        except Exception as e:  # an oracle or read error fails the op
            status[o["name"]] = f"CHECK_ERROR {e}"[:300]
    for name, d in res["job_dirs"].items():
        try:
            status[name] = JOB_CHECKS[name](con, d, data)
        except Exception as e:
            status[name] = f"CHECK_ERROR {e}"[:300]
    return status
