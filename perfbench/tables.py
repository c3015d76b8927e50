"""Seeded star-schema + text corpus in the layout graft's queries read.

Writes the ten tables graft's ``SparkEntry.queries`` take from a scale-factor
directory (``region nation customer supplier part orders lineitem events
documents embeddings``, one parquet file each) with the column names, types
and value domains of the synthetic TPC-H-like data graft is tested on. Row
counts scale with ``sf`` by the same ratios (sf=0.01: 60,000 lineitems, 500
documents).

``documents`` carries the corpus signals the text queries look for: a small
technical vocabulary, exact duplicates, near duplicates (a copy with the
token ``dup`` planted), and contamination from the probe documents (doc_id
below 3, which graft's decontamination treats as the benchmark set).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
PROBE_DOCS = 3  # graft's Curation.ContamProbeDocs
DUP_RATE = 0.004  # exact copies of an earlier document
NEAR_DUP_RATE = 0.05  # copies with the token "dup" planted
CONTAM_RATE = 0.01  # documents holding a 13-token span of a probe document
DAY_US = 86_400_000_000


def _days(start, n_days, size, rng):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size=size) * np.timedelta64(1, "D")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size=size), 2)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def documents(rng, n_docs):
    """(doc_id, text, lang, source, n_chars) with planted duplicates."""
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > PROBE_DOCS and r < DUP_RATE:
            texts.append(texts[int(rng.integers(PROBE_DOCS, i))])
            continue
        if i > PROBE_DOCS and r < DUP_RATE + NEAR_DUP_RATE:
            words = texts[int(rng.integers(PROBE_DOCS, i))].split(" ")
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
            continue
        words = [VOCAB[j] for j in
                 rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))]
        if i >= PROBE_DOCS and r > 1.0 - CONTAM_RATE:
            probe = texts[int(rng.integers(0, PROBE_DOCS))].split(" ")
            start = int(rng.integers(0, max(1, len(probe) - 13)))
            at = int(rng.integers(0, len(words) + 1))
            words[at:at] = probe[start:start + 13]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P).tolist(),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, n_labels=10):
    """Unit vectors clustered around one centroid per label."""
    labels = rng.integers(0, n_labels, size=n)
    centroids = rng.normal(size=(n_labels, dim))
    vecs = centroids[labels] * 0.35 + rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def generate(seed, out_dir, sf):
    """Writes every table under `out_dir`."""
    rng = np.random.default_rng([seed, 0x5F])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(25, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_events = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = int(round(2000 * (sf / 0.1) ** 0.6))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string())}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist(), pa.string())}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}))
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                            pa.string()),
        "p_type": pa.array(rng.choice(P_TYPES, n_part).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 2))}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist(),
                                  pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, n_ord, rng),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist(),
                                    pa.string())}))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist(),
                                 pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist(), pa.string()),
        "l_shipdate": pa.array(_days("1995-01-02", 2498, n_line, rng),
                               pa.timestamp("us"))}))
    ts = (np.datetime64("2024-01-01", "us")
          + np.sort(rng.integers(0, 30 * DAY_US, n_events)).astype("timedelta64[us]"))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_events)
                            .astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
                          pa.string())}))
    _write(out_dir, "documents",
           documents(rng, n_docs))
    _write(out_dir, "embeddings", embeddings(rng, n_emb))
