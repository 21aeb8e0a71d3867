"""Seeded generator for the tables graft's SparkEntry queries read.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as one parquet file each, with the
schemas and value domains of the TPC-H-ish test tables the queries were
written against (same column names and types, same categorical domains,
same key ranges per scale factor). The same (seed, sf) always gives
byte-identical inputs.

    python3 perfbench/datagen.py OUT_DIR --seed 7 --sf 0.1
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"])
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EMBEDDING_STREAM = 20240101

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _days(rng, n, start, end):
    lo = (np.datetime64(start, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    hi = (np.datetime64(end, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _texts(rng, n):
    """Space-joined words, 10-100 per doc; 5% near-duplicates (another
    doc's text plus ' dup') and a few exact duplicates, so the dedup
    families find real work."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    near = rng.choice(n, size=n // 20, replace=False)
    for i in near:
        j = int(rng.integers(0, n))
        texts[i] = texts[j] + " dup" if j != i else texts[i] + " dup"
    rest = np.setdiff1d(np.arange(n), near)
    pairs = rng.choice(rest, size=(max(1, n // 600), 2), replace=False)
    for i, j in pairs:
        texts[j] = texts[i]
    return texts


def _tables(rng, name, sf):
    """Columns of table `name` at scale factor `sf`."""
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    if name == "region":
        return {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    if name == "nation":
        return {"n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}
    if name == "customer":
        return {"c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}
    if name == "supplier":
        return {"s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
    if name == "part":
        names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
        return {"p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": names[rng.integers(0, len(names), n_part)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}
    if name == "orders":
        return {"o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, n_ord, 1000, 500000),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}
    if name == "lineitem":
        return {"l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900, 105000),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}
    if name == "events":
        # ids in time order over 30 days from 2024-01-01
        offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
        ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
        return {"event_id": pa.array(np.arange(n_ev), i64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(1, int(15000 * sf)), n_ev), i64),
                "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    if name == "documents":
        texts = _texts(rng, n_doc)
        return {"doc_id": pa.array(np.arange(n_doc), i64),
                "text": texts,
                "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
                "source": [f"src{i % 20}" for i in rng.permutation(n_doc)],
                "n_chars": pa.array([len(t) for t in texts], i64)}
    # embeddings: unit vectors, 64-d, a weak pull towards one of 10
    # label centres. Not drawn from the seed: the cosine graph over them
    # and its ids set how many rounds connected components runs (7 on one
    # draw, 13 on another; 9 to 11 with the ids alone permuted), a 2x
    # difference in work that a per-seed table would add to every run of
    # the same code.
    fixed = np.random.default_rng(EMBEDDING_STREAM)
    centres = fixed.standard_normal((10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = fixed.integers(0, 10, n_emb)
    v = fixed.standard_normal((n_emb, 64)) + 0.6 * centres[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {"vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, i32)}


def generate(out, seed, sf, tables=TABLES):
    """Writes `tables` under `out`. Each table draws from its own stream
    of the seed, so a table's content does not depend on which others
    are written."""
    os.makedirs(out, exist_ok=True)
    for name in tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        _write(out, name, _tables(rng, name, sf))


def stage_reference(data, out, rows, seed):
    """The reference input: the documents table replicated to `rows` rows,
    each replica given its doc id by a seed-keyed multiplicative
    permutation of [0, n), so rows adjacent in doc-id order carry
    unrelated text (unlike consecutive ids per replica, which let a
    clustered layout compress every replica run away)."""
    docs = pq.read_table(os.path.join(data, "documents.parquet"))
    base = docs.num_rows
    factor = max(1, rows // base)
    n = base * factor
    rng = np.random.default_rng([seed, 1])
    mult = 0
    while mult < 2 or np.gcd(mult, n) != 1:
        mult = int(rng.integers(n // 3, 2 * n // 3))
    shift = int(rng.integers(0, n))
    r = np.arange(n, dtype=np.int64)
    table = docs.take(pa.array(r // factor)).set_column(
        0, "doc_id", pa.array((r * mult + shift) % n, pa.int64()))
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, "part-0.parquet"), row_group_size=max(1, n // 8))
    return n


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf)
