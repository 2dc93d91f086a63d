"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one file each)
with the same column names, physical types and value domains as the
engine's test fixtures: a TPC-H-like star schema, a time-ordered event
stream, a small-vocabulary document corpus in which 5% of documents are
near-duplicates of an earlier one (its text plus " dup"), and clustered
unit-norm 64-d embeddings. The same seed and scale give byte-identical
files; another variant of the same seed gives independent tables of the
same shape.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
N_LABELS = 10
US_PER_DAY = 86_400_000_000


def _days(start, end):
    """Microseconds since epoch of `start`, and the whole days up to `end`."""
    s, e = np.datetime64(start, "us"), np.datetime64(end, "us")
    return s.astype(np.int64), int((e - s) // np.timedelta64(1, "D"))


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(seed, sf, n_docs, n_vecs, variant=0):
    """{name: pyarrow.Table} for one seed and scale; another `variant` gives
    independent tables of the same shape."""
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_users = max(1, round(n_evt * 0.015))
    rng = lambda i: np.random.default_rng([seed, variant, i])  # one stream per table
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})

    r = rng(2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp), pa.float64())})

    r = rng(3)
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(r, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, pa.float64())})

    r = rng(4)
    base, span = _days("1995-01-01", "2001-08-01")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord), pa.float64()),
        "o_orderdate": _ts(base + r.integers(0, span + 1, n_ord) * US_PER_DAY),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)})

    r = rng(5)
    base, span = _days("1995-01-02", "2001-11-04")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_line), pa.float64()),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _ts(base + r.integers(0, span + 1, n_line) * US_PER_DAY)})

    r = rng(6)
    base, _ = _days("2024-01-01", "2024-01-01")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(base + np.sort(r.integers(0, 30 * US_PER_DAY, n_evt))),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_evt),
        "value": pa.array(np.maximum(np.round(r.exponential(50.0, n_evt), 2), 0.01),
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
                          pa.string())})

    r = rng(7)
    texts = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            words = r.integers(0, len(VOCAB), int(r.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng(8)
    centers = r.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = r.integers(0, N_LABELS, n_vecs)
    vecs = centers[labels] + r.normal(0.0, 1.0, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, seed, sf, n_docs, n_vecs, variant=0):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf, n_docs, n_vecs, variant).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")

