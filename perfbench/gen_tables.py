"""Seeded generator for the ten registry input tables (region .. embeddings).

The tables follow the schemas and value shapes the registry entries read
(TPC-H-like star schema, an `events` stream, a `documents` corpus with
planted exact and near duplicates, and unit-norm `embeddings`), scaled by
`sf` (sf=0.1 gives 600k lineitem rows). The same (sf, seed) always gives
the same files.

    python3 perfbench/gen_tables.py <out_dir> [sf] [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_ADJ = "blue cold hot red small large green dark".split()
PART_NOUN = "ring plate gear rod bolt anvil pipe nut".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]


def _write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def generate(out, sf=0.1, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_events, n_docs, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", [np.arange(5, dtype=np.int32),
                           ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]],
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", [np.arange(25, dtype=np.int32), [f"NATION_{i}" for i in range(25)],
                           np.arange(25, dtype=np.int32) % 5],
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "customer", [np.arange(n_cust), [f"Customer#{i:09d}" for i in range(n_cust)],
                             rng.integers(0, 25, n_cust, dtype=np.int32),
                             money(n_cust, -999.99, 9999.99),
                             np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]],
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier", [np.arange(n_supp), [f"Supplier#{i:09d}" for i in range(n_supp)],
                             rng.integers(0, 25, n_supp, dtype=np.int32),
                             money(n_supp, -999.99, 9999.99)],
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", [pk, np.array(names)[rng.integers(0, len(names), n_part)],
                         [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                         np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                         rng.integers(1, 51, n_part, dtype=np.int32),
                         np.round(900.0 + (pk % 1000) / 10.0, 1)],
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                      ("p_size", i32), ("p_retailprice", f64)]))
    _write(out, "orders", [np.arange(n_ord), rng.integers(0, n_cust, n_ord),
                           np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
                           money(n_ord, 1000.0, 500000.0),
                           _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                           np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]],
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(out, "lineitem", [rng.integers(0, n_ord, n_line), rng.integers(0, n_part, n_line),
                             rng.integers(0, n_supp, n_line),
                             rng.integers(1, 8, n_line, dtype=np.int32),
                             rng.integers(1, 51, n_line).astype(np.float64),
                             money(n_line, 900.0, 105000.0),
                             rng.integers(0, 11, n_line) / 100.0,
                             rng.integers(0, 9, n_line) / 100.0,
                             np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)],
                             np.array(["O", "F"])[rng.integers(0, 2, n_line)],
                             _days(rng, n_line, "1995-01-02", "2001-11-04")],
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", ts)]))

    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ev_ts = start + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    _write(out, "events", [np.arange(n_events), ev_ts, rng.integers(0, int(15000 * sf), n_events),
                           np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
                           np.round(rng.exponential(50.0, n_events), 2),
                           [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]],
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                      ("value", f64), ("props", s)]))

    # documents: uniform words, 5% near duplicates (a copy + " dup") and a
    # few exact duplicates, sources round-robin, 40% English
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n_docs)]
    ids = rng.permutation(n_docs)
    n_near, n_exact = n_docs // 20, max(1, n_docs // 600)
    for src, dst in zip(ids[:n_near], ids[n_near:2 * n_near]):
        texts[dst] = texts[src] + " dup"
    for src, dst in zip(ids[2 * n_near:2 * n_near + n_exact],
                        ids[2 * n_near + n_exact:2 * n_near + 2 * n_exact]):
        texts[dst] = texts[src]
    lang = np.array(LANGS)[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    _write(out, "documents", [np.arange(n_docs), texts, lang,
                              [f"src{i % 20}" for i in range(n_docs)],
                              np.array([len(t) for t in texts], dtype=np.int64)],
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)]))

    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", [np.arange(n_emb), list(vec),
                               rng.integers(0, 10, n_emb, dtype=np.int32)],
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1,
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
