"""Seeded input generators for the benchmark.

Two inputs, both pure functions of their arguments:

* ``tables(out_dir, sf)`` writes the ten engine tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
  file with one row group each, the layout the engine's tables have.
  Schemas, key ranges and value distributions follow the engine's
  documented test tables; the generator seed is fixed, so pinned result
  checksums stay valid across benchmark seeds.
* ``corpus(path, seed, lines)`` writes a Zipf text corpus for the
  MapReduce workload and returns its exact word counts.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240601
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    t = pa.table(cols)
    tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
    pq.write_table(t, tmp, row_group_size=max(1, t.num_rows),
                   compression="snappy")
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100, 2)


def tables(out_dir, sf):
    """Write the ten tables at scale factor ``sf`` (0.1 = 600k lineitems)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = 2000 if sf >= 0.1 else 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                         "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    adjectives = ["red", "blue", "hot", "cold", "old", "new", "large", "small"]
    nouns = ["bolt", "ring", "plate", "gear", "widget", "anvil", "rod", "nut"]
    names = np.array([f"{a} {b}" for a in adjectives for b in nouns])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, len(ptypes), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})

    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                           "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)]})

    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US)})

    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    vocab = np.array(WORDS)
    texts = []
    for _ in range(n_docs):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                 rng.integers(10, 101))]))
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] += " dup"
    n_copies = max(1, n_docs // 600)
    for src, dst in zip(rng.integers(0, n_docs // 2, n_copies),
                        rng.integers(n_docs // 2, n_docs, n_copies)):
        texts[dst] = texts[src]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})


def corpus(path, seed, lines, vocab=50_000, s=1.1):
    """Write a Zipf(``s``) corpus of ``lines`` lines over ``vocab`` words.

    Words are ``w<rank>``; line lengths are uniform in 4..16 words. Returns
    ``{word: count}`` computed from the generated arrays, independent of
    any engine code, for checking word-count output.
    """
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    lens = rng.integers(4, 17, lines)
    ids = rng.choice(vocab, int(lens.sum()), p=p)
    words = np.array([f"w{i}" for i in range(vocab)])
    ends = np.cumsum(lens)
    starts = ends - lens
    with open(path, "w") as f:
        f.writelines(" ".join(words[ids[a:b]]) + "\n"
                     for a, b in zip(starts, ends))
    counts = np.bincount(ids, minlength=vocab)
    return {str(words[i]): int(counts[i]) for i in np.nonzero(counts)[0]}


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: gen.py <out_dir> <sf>")
    tables(sys.argv[1], float(sys.argv[2]))
