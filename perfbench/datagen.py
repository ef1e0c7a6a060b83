"""Seeded input generator for the graft benchmark.

Builds the TPC-H-ish star schema plus the `events`, `documents` and
`embeddings` tables that graft's queries read, with the same schemas,
physical types and value domains as the repository's test corpus
(TESTDATA.md), except that the embeddings are clustered by label: one
parquet file per table, written by pyarrow. The same seed gives the
same bytes.

Scale-ups follow graft.ScaleGen's construction for the star-schema
tables: `copies` key-shifted replicas (copy 0 is the identity) with
disjoint key strides, so joins stay FK-consistent and the join
structure becomes disjoint replicas. nation and region stay fixed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
# norm of the noise added to a label's centre before normalising
EMB_SPREAD = 0.8
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# key strides of graft.ScaleGen: copy k adds k * stride to each key family
STRIDES = {
    "lineitem": {"l_orderkey": 10**9, "l_partkey": 10**7, "l_suppkey": 10**6},
    "orders": {"o_orderkey": 10**9, "o_custkey": 10**7},
    "customer": {"c_custkey": 10**7},
    "supplier": {"s_suppkey": 10**6},
    "part": {"p_partkey": 10**7},
}


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(x):
    return np.round(x, 2)


def base_tables(seed, sf):
    """One replica at scale factor `sf` (sf=0.1: 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150000 * sf))
    n_supp = max(5, int(10000 * sf))
    n_part = max(20, int(200000 * sf))
    n_ord = max(150, int(1500000 * sf))
    n_line = 4 * n_ord
    n_evt = max(100, int(1000000 * sf))
    n_users = max(15, n_evt * 15 // 1000)
    n_docs = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900 + (pk % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000, 500000, n_ord)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    l_part = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * retail[l_part]),
        "l_discount": _money(rng.uniform(0, 0.1, n_line)),
        "l_tax": _money(rng.uniform(0, 0.08, n_line)),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": _money(rng.exponential(50.0, n_evt)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # documents: 10-100 words over a 30-word vocabulary; ~5% are a copy
    # of another document with " dup" appended (near-dup mass)
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(vocab[words[at:at + n]]))
        at += n
    dup = rng.random(n_docs) < 0.05
    src = rng.integers(0, n_docs, n_docs)
    for i in np.nonzero(dup)[0]:
        texts[i] = texts[src[i]] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    # embeddings: unit vectors clustered around one random direction per
    # label, so an IVF index has cells to find (on isotropic vectors its
    # recall is close to that of probing random cells)
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    centres = _unit(rng.standard_normal((10, 64)))
    v = centres[label] + EMB_SPREAD * _unit(rng.standard_normal((n_emb, 64)))
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(_unit(v).astype(np.float32)), pa.list_(pa.float32())),
        "label": label})
    return t


def _unit(v):
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _copy(tbl, strides, k):
    cols = {c: tbl.column(c) for c in tbl.column_names}
    for c, stride in strides.items():
        cols[c] = pa.array(cols[c].to_numpy() + k * stride, cols[c].type)
    return pa.table(cols)


def generate(out_dir, seed, sf, copies=1, tables=TABLES):
    """Write `tables` under out_dir/<table>.parquet, the star-schema
    tables as `copies` key-shifted replicas. Returns
    {table: {"rows": n, "bytes": size on disk}}."""
    os.makedirs(out_dir, exist_ok=True)
    base = base_tables(seed, sf)
    stats = {}
    for name in tables:
        strides = STRIDES.get(name)
        tbl = base[name] if not strides else pa.concat_tables(
            [_copy(base[name], strides, k) for k in range(copies)])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        stats[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return stats
