"""Seeded input generation for the benchmark.

Every table is a pure function of the seed: the same seed writes byte-
identical parquet, so a run can be repeated exactly. Shapes follow the
repository's testdata contract (TPC-H-ish star schema plus events,
documents and embeddings; one parquet file and one row group per table),
at scale factor 0.01 for the facade workloads and sf0.1 `documents` for
the dedup workload.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF001_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "spring", "valve", "panel"]
EVENT_TYPES = ["click", "view", "purchase", "error", "scroll"]
LANGS = ["en", "es", "fr", "zh", "de"]
# 31-word vocabulary of the testdata corpus; "dup" marks planted copies
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EPOCH_US = 946684800 * 1_000_000  # 2000-01-01T00:00:00 in microseconds


def _write(table, path):
    # one row group per table, like the testdata the program is tuned on
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents(rng, n, first_id=0):
    """(doc_id, text) rows of random vocabulary text, 8-100 words each."""
    lengths = rng.integers(8, 101, n)
    return [(first_id + i, _text(rng, int(k))) for i, k in enumerate(lengths)]


def _documents_table(rng, docs):
    ids = [d for d, _ in docs]
    texts = [t for _, t in docs]
    n = len(docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_sf001(seed, out_dir):
    """Write the ten sf0.01 tables under out_dir; returns the row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = SF001_ROWS
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(PART_ADJ), p),
                       rng.integers(0, len(PART_NOUN), p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(p) * 0.1 % 200, 2)})
    o = n["orders"]
    day_us = 86400 * 1_000_000
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, o, 1000, 500000),
        "o_orderdate": _ts(EPOCH_US - 1100 * day_us
                           + rng.integers(0, 2500, o) * day_us),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, li, 900, 3000), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _ts(EPOCH_US - 1000 * day_us
                          + rng.integers(0, 2600, li) * day_us)})
    e = n["events"]
    tables["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": _ts(EPOCH_US + np.sort(rng.integers(0, 86400 * 30, e)) * 1_000_000
                  + rng.integers(0, 1_000_000, e)),
        "user_id": pa.array(rng.integers(0, 100, e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": _money(rng, e, 0, 100),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)]})
    tables["documents"] = _documents_table(rng, documents(rng, n["documents"]))
    m = n["embeddings"]
    vecs = rng.normal(0, 0.1, (m, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}


def write_csv_fixture(seed, index, path, rows=2000):
    """A small CSV the workload registers with CREATE TABLE (<path>).
    Columns: id (int), grp (string), v (int-valued), w (2-dp double)."""
    rng = np.random.default_rng([seed, 2, index])
    grp = rng.integers(0, 8, rows)
    v = rng.integers(0, 1000, rows)
    w = _money(rng, rows, 0, 100)
    with open(path, "w") as f:
        f.write("id,grp,v,w\n")
        for i in range(rows):
            f.write(f"{i},g{grp[i]},{v[i]},{w[i]:.2f}\n")


def _mutate(rng, text):
    """A near-copy: append the marker word or swap one word."""
    words = text.split()
    if rng.random() < 0.5:
        words.append("dup")
    else:
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def write_dedup_inputs(seed, out_dir, n_docs=5000, pools=5, pool_size=100):
    """sf0.1-sized `documents` split into a base corpus and `pools`
    disjoint incoming batches of `pool_size` docs.

    Planted near-copies (each doc has at most one duplicate relation, so
    the store loop settles after one pass over the pools):
      - ~6% of each pool copies a base doc        -> corpus_dup
      - ~3% copies an earlier doc of the same pool -> batch_dup
      - ~3% copies a doc of the previous pool, which the rotating store
        may or may not hold when this pool arrives.
    Returns {"base": path, "pools": [paths], "base_rows": n}."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_base = n_docs - pools * pool_size
    base = documents(rng, n_base)
    used = set()  # docs already part of a duplicate relation

    def original(candidates):
        while True:
            d = candidates[int(rng.integers(0, len(candidates)))]
            if d[0] not in used:
                used.add(d[0])
                return d

    pool_docs = []
    next_id = n_base
    for p in range(pools):
        fresh = documents(rng, pool_size, first_id=next_id)
        next_id += pool_size
        docs = list(fresh)
        # slots 40.. hold copies so that their originals precede them
        slot = 40
        for _ in range(6):
            docs[slot] = (docs[slot][0], _mutate(rng, original(base)[1]))
            used.add(docs[slot][0]); slot += 1
        for _ in range(3):
            docs[slot] = (docs[slot][0], _mutate(rng, original(docs[:40])[1]))
            used.add(docs[slot][0]); slot += 1
        if p > 0:
            for _ in range(3):
                prev = pool_docs[p - 1][:40]
                docs[slot] = (docs[slot][0], _mutate(rng, original(prev)[1]))
                used.add(docs[slot][0]); slot += 1
        pool_docs.append(docs)
    paths = []
    _write(_documents_table(rng, base), os.path.join(out_dir, "base.parquet"))
    for p, docs in enumerate(pool_docs):
        path = os.path.join(out_dir, f"pool_{p}.parquet")
        _write(_documents_table(rng, docs), path)
        paths.append(path)
    return {"base": os.path.join(out_dir, "base.parquet"), "pools": paths,
            "base_rows": n_base}
