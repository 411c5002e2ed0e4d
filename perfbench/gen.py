"""Seeded input generator for the benchmark.

Writes the tables graft's queries read (the TPC-H-style star schema plus
`events`, `documents` and `embeddings`) as one parquet file each, with
the schemas and value distributions of the project's test data. The
same seed gives the same bytes; inputs are cached per seed and scale
under the work directory and their row counts are checked on every use.
"""
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
WORDS = ("a the data big small fast slow query table row column key value "
         "join group agg sort order filter scan spark stream batch window "
         "hash merge vector line part customer").split()
LANGS = (["en", "zh", "de", "fr", "es"], [0.41, 0.15, 0.14, 0.15, 0.15])
DAY_US = 86_400_000_000


def row_counts(sf, docs=None):
    """Rows per table at scale factor `sf` (documents may be overridden)."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": docs or max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(days_lo, days_hi, n, rng):
    """Whole-day timestamps (µs) uniformly between two day offsets from 1970."""
    return pa.array(rng.integers(days_lo, days_hi + 1, n) * DAY_US,
                    type=pa.timestamp("us"))


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng, n):
    """Bag-of-words texts; about 5% are a near-duplicate (an earlier text plus
    " dup") and a few are exact copies, as in the project's test corpus."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in lens]
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return texts


def documents(rng, n):
    texts = doc_texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def make_tables(sf, seed, docs=None):
    rng = np.random.default_rng(seed)
    n = row_counts(sf, docs)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, c, rng),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, s, rng)})
    p = n["part"]
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "widget", "bolt", "plate", "gear", "anvil", "gizmo", "rod"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    # 1995-01-01 .. 2001-08-01 as day offsets from the epoch
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(1000, 500000, o, rng),
        "o_orderdate": _ts(9131, 11535, o, rng),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(900, 105000, li, rng),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(9132, 11630, li, rng)})
    e = n["events"]
    start = 19723 * DAY_US  # 2024-01-01
    ts = np.sort(rng.integers(0, 30 * DAY_US, e)) + start
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    t["documents"] = documents(rng, n["documents"])
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 0.018, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.125, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t, n


def _check(out, expected):
    for name, rows in expected.items():
        got = pq.ParquetFile(os.path.join(out, f"{name}.parquet")).metadata.num_rows
        if got != rows:
            raise RuntimeError(f"{out}/{name}.parquet has {got} rows, expected {rows}")


def ensure(out, sf, seed, docs=None):
    """Generate the tables into `out` unless a complete copy for this seed and
    scale is cached there. Returns (row counts, seconds spent generating)."""
    stamp = os.path.join(out, "_GEN.json")
    key = {"sf": sf, "seed": seed, "docs": docs}
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["key"] == key:
            _check(out, cached["rows"])
            return cached["rows"], 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tables, rows = make_tables(sf, seed, docs)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"), compression="snappy")
    _check(out, rows)
    with open(stamp, "w") as f:
        json.dump({"key": key, "rows": rows}, f)
    return rows, time.perf_counter() - t0


def _check_feed(out, batches, rows):
    got = sum(pq.ParquetFile(os.path.join(out, f"b{k:05d}.parquet")).metadata.num_rows
              for k in range(batches))
    if got != rows:
        raise RuntimeError(f"{out} has {got} feed rows, expected {rows}")


def ensure_feed(out, seed, corpus, batches, adds, dels, probes):
    """The CDC feed for state_ingest, drawn from the seed, over the corpus
    `corpus` (the documents table, live before the first batch): batch k
    deletes `dels` documents live before it (corpus or added earlier) and
    adds `adds` new documents with fresh ids and generated texts. One
    parquet file per batch (op, doc_id, text; deletes carry their text),
    plus `probe.parquet`: near duplicates of seeded corpus documents and
    fresh texts to probe with. Cached per seed; returns (rows, seconds
    spent generating)."""
    stamp = os.path.join(out, "_GEN.json")
    key = {"seed": seed, "batches": batches, "adds": adds, "dels": dels, "probes": probes,
           "corpus": corpus}
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["key"] == key:
            _check_feed(out, batches, cached["rows"])
            return cached["rows"], 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    docs = pq.read_table(corpus, columns=["doc_id", "text"]).to_pydict()
    rng = np.random.default_rng([seed, 1])
    text = dict(zip(docs["doc_id"], docs["text"]))
    live = sorted(text)
    next_id = max(live) + 1
    rows = 0
    for k in range(batches):
        pick = set(rng.choice(len(live), size=dels, replace=False).tolist())
        gone = [live[i] for i in sorted(pick)]
        live = [x for i, x in enumerate(live) if i not in pick]
        new = list(range(next_id, next_id + adds))
        next_id += adds
        text.update(zip(new, doc_texts(rng, adds)))
        live += new
        sel = [("del", i) for i in gone] + [("add", i) for i in new]
        tab = pa.table({"op": [o for o, _ in sel],
                        "doc_id": pa.array([i for _, i in sel], pa.int64()),
                        "text": [text[i] for _, i in sel]})
        pq.write_table(tab, os.path.join(out, f"b{k:05d}.parquet"), compression="snappy")
        rows += len(sel)
    near = rng.choice(len(docs["text"]), size=probes // 2, replace=False)
    fresh = doc_texts(rng, probes - len(near))
    texts = [docs["text"][int(i)] + " dup" for i in near] + fresh
    pq.write_table(pa.table({"doc_id": pa.array(range(10**9, 10**9 + probes), pa.int64()),
                             "text": texts}), os.path.join(out, "probe.parquet"))
    _check_feed(out, batches, rows)
    with open(stamp, "w") as f:
        json.dump({"key": key, "rows": rows}, f)
    return rows, time.perf_counter() - t0
