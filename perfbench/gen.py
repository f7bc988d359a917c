"""Deterministic input generators for the benchmark.

Two kinds of input:

* ``write_tables(out_dir, sf, seed)`` writes the ten harness tables the
  query registry reads (``region nation customer supplier part orders
  lineitem events documents embeddings``), one parquet file each, with the
  schemas and value distributions of the harness testdata (FIXTURES.md §4):
  TPC-H-ish star schema, an ``events`` stream, a word-salad ``documents``
  table in which 5% of documents are near-copies of an earlier one (the
  text plus `` dup``), and unit-norm 64-d ``embeddings``.
* ``write_ratings_csv(path, seed)`` writes a ratings file in the
  reference CSV format (``I``/``V`` tag, user, product, rating) drawn from
  a rank-6 latent model plus Gaussian noise, clipped to 1..5. Every user
  and product of the validation split also appears in the training split.

Only numpy and pyarrow are used; numpy's PCG64 stream is stable for a given
seed, so the same seed always gives the same files' rows.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "anvil", "gizmo", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# ratings model (collab_refit): each user rates RATINGS_PER_USER distinct
# products, VALID_PER_USER of them held out for validation
RATING_USERS = 600
RATING_PRODUCTS = 120
RATINGS_PER_USER = 20
VALID_PER_USER = 2
RATING_RANK = 6
RATING_NOISE = 0.2
# a refit must recover the model to within 2.5x the noise it was drawn with
RMSE_BOUND = 2.5 * RATING_NOISE


def _us(d):
    return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _days(rng, n, start, end):
    """n midnight timestamps (epoch micros) uniform over [start, end]."""
    span = (end - start).days
    return _us(start) + rng.integers(0, span + 1, n) * 86_400_000_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir, sf, seed=42):
    """Write the ten tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_ord = max(1, int(round(1_500_000 * sf)))
    n_line = max(1, int(round(6_000_000 * sf)))
    n_ev = max(1, int(round(1_000_000 * sf)))
    n_users = max(1, int(round(15_000 * sf)))
    n_docs = max(500, int(round(50_000 * sf)))
    n_emb = max(500, int(round(20_000 * sf)))
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.datetime(1995, 1, 1),
                                      dt.datetime(2001, 8, 1)), ts),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, n_line, dt.datetime(1995, 1, 2),
                                     dt.datetime(2001, 11, 4)), ts)})

    t0 = _us(dt.datetime(2024, 1, 1))
    ev_ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def write_ratings_csv(path, seed):
    """Write a reference-format ratings CSV; returns (n_train, n_valid).

    Product ``u % RATING_PRODUCTS`` is always among user ``u``'s ratings,
    so every product is rated. The last VALID_PER_USER of each user's
    ratings (never the covering one) are tagged ``V``, so every validation
    user and product also appears in training.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    scale = 1.0 / np.sqrt(RATING_RANK)
    uf = rng.standard_normal((RATING_USERS, RATING_RANK)) * scale
    pf = rng.standard_normal((RATING_PRODUCTS, RATING_RANK)) * scale
    lines, n_train, n_valid = [], 0, 0
    for u in range(RATING_USERS):
        cover = u % RATING_PRODUCTS
        others = rng.permutation(np.delete(np.arange(RATING_PRODUCTS), cover))
        prods = [cover] + list(others[:RATINGS_PER_USER - 1])
        r = 3.0 + 1.2 * (pf[prods] @ uf[u]) \
            + rng.normal(0.0, RATING_NOISE, len(prods))
        r = np.clip(np.round(r, 2), 1.0, 5.0)
        for j, (p, x) in enumerate(zip(prods, r)):
            tag = "V" if j >= RATINGS_PER_USER - VALID_PER_USER else "I"
            n_valid += tag == "V"
            n_train += tag == "I"
            # users/products are 1-based, as in the reference file
            lines.append(f"{tag},{u + 1},{p + 1},{x:.2f}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return n_train, n_valid
