"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the registry reads (`Tables.*`), with the
schemas and value domains of the engine's reference star schema plus its
`events` and `documents` tables: row counts scale with `sf` the same way
(lineitem ~6M x sf, events 1M x sf, documents 50k x sf). Every value is a
function of the data seed, so the committed oracle hashes stay valid for
any run.

Usage: python3 perfbench/gen_data.py <out_dir> <sf> [data_seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the a join hash row batch scan column customer filter small slow "
         "merge order vector line data table agg value key stream window "
         "spark part group big sort query fast").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.13, 0.14, 0.15, 0.14]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_MS = 86_400_000


def _ms(s):
    return np.datetime64(s, "ms").astype(np.int64)


def _cents(x):
    return np.round(x, 2)


def _ts(ms, unit="us"):
    arr = pa.array(ms.astype(np.int64), pa.int64())
    return arr.cast(pa.timestamp("ms")).cast(pa.timestamp(unit))


def _pick(rng, domain, n, p=None):
    return pa.array(np.asarray(domain, dtype=object)[rng.choice(len(domain), n, p=p)])


def documents(rng, n):
    lens = rng.integers(10, 100, n)
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in lens]
    # 5% exact-prefix near-duplicates: another document's text plus a
    # marker token, the shape the dedup and near-dup gates must catch
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def events(rng, n, n_users):
    start = _ms("2024-01-01")
    ts = np.sort(start + rng.integers(0, 30 * DAY_MS, n)) * 1000 \
        + rng.integers(0, 1000, n)  # microseconds, sub-ms noise
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, _cents(rng.exponential(50, n)))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(50_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp)))})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    pk = np.arange(n_part, dtype=np.int64)
    price = 900.0 + (pk % 1000) / 10.0
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part),
                                rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": pa.array(_cents(rng.uniform(1000, 500000, n_ord))),
        "o_orderdate": _ts(_ms("1995-01-01") + DAY_MS *
                           rng.integers(0, 2404, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(qty * price[l_part] *
                                           rng.uniform(0.9, 1.1, n_li))),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_ms("1995-01-02") + DAY_MS *
                          rng.integers(0, 2498, n_li))})
    out["events"] = events(rng, n_ev, max(10, int(15_000 * sf)))
    out["documents"] = documents(rng, n_doc)
    emb = rng.normal(0, 0.15, (n_emb, 64)).clip(-0.6, 0.6).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return out


def write(out_dir, sf, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]),
          int(sys.argv[3]) if len(sys.argv) > 3 else 42)
