"""Seeded generator for the warehouse tables the registry queries read.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the same schemas and
value domains as the engine's test warehouse, at a chosen scale factor
(sf 1.0 = 6M lineitem rows).

    python3 gen_tables.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash line sort "
         "window join merge batch order group query spark data column "
         "customer filter stream big small").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.6, 0.1, 0.1, 0.1, 0.1]
PART_ADJ = "red old cold hot new large small blue".split()
PART_NOUN = "bolt anvil plate widget gear ring rod gizmo".split()
P_TYPES = "SMALL MEDIUM PROMO ECONOMY STANDARD LARGE".split()
SEGMENTS = "BUILDING MACHINERY AUTOMOBILE HOUSEHOLD FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(days_from, days_span, n, rng, micros=False):
    base = np.datetime64(days_from, "us")
    if micros:
        off = rng.integers(0, days_span * 86_400_000_000, n)
    else:
        off = rng.integers(0, days_span, n) * 86_400_000_000
    return pa.array(base + off.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(x):
    return np.round(x, 2)


def _texts(rng, n):
    lens = rng.integers(8, 95, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[i:i + ln]))
        i += ln
    return out


def _unit_rows(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def documents(rng, n):
    """Documents with ~5% exact and ~5% near duplicates."""
    text = _texts(rng, n)
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            text[i] = text[rng.integers(0, i)]
        elif i > 0 and r < 0.10:
            w = text[rng.integers(0, i)].split()
            w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, len(VOCAB))]
            text[i] = " ".join(w)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], np.int64)),
    }


def embeddings(rng, n):
    """Unit vectors around 10 label centroids, ~5% near duplicates."""
    labels = rng.integers(0, 10, n)
    cent = rng.normal(0, 1, (10, DIM))
    x = cent[labels] * 0.5 + rng.normal(0, 1, (n, DIM))
    dup = np.nonzero(rng.random(n) < 0.05)[0]
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(int)
    x[dup] = x[src] + rng.normal(0, 0.01, (len(dup), DIM))
    labels[dup] = labels[src]
    v = _unit_rows(x)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_part = max(150, int(150_000 * sf)), max(200, int(200_000 * sf))
    n_supp, n_ord = max(10, int(10_000 * sf)), max(1500, int(1_500_000 * sf))
    n_li, n_ev = max(6000, int(6_000_000 * sf)), max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_supp)))})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{k}" for k in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            _money(900 + (np.arange(n_part) % 1000) * 0.1))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng.uniform(1000, 500_000, n_ord))),
        "o_orderdate": _ts("1995-01-01", 2404, n_ord, rng),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(qty * rng.uniform(900, 2100, n_li))),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts("1995-01-02", 2498, n_li, rng)})
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", 30, n_ev, rng, micros=True),
        "user_id": pa.array(rng.integers(0, 150, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(_money(rng.uniform(0.01, 490.02, n_ev))),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    _write(out_dir, "documents", documents(rng, n_doc))
    _write(out_dir, "embeddings", embeddings(rng, n_doc))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
