"""Seeded input generators for the benchmark.

Two inputs:

* ``tables(out_dir, sf, seed)`` writes the ten parquet tables the query
  workloads read (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings). Schema, encodings and value
  distributions follow the engine's fixture layout (FIXTURES.md): uniform
  keys and categories, exponential event values, microsecond timestamps
  without a zone, a 31-word document vocabulary and unit-norm 64-d
  embeddings. Row counts scale with ``sf`` as the fixtures do.
* ``ratings(out_dir, seed)`` writes a MovieLens-100K-shaped ratings pair
  ``train.tsv``/``test.tsv`` (userId, itemId, rating, timestamp; no
  header) with a planted low-rank signal, and returns the facts the
  output checks need.

The same arguments always give byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data table column row key value join group sort order scan "
         "filter hash merge batch stream window query spark agg line part "
         "customer vector fast slow big small").split()
ADJ = "blue old red small new large hot cold".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts(days_from, n_days, rng, n, whole_days):
    """Timestamps (µs since epoch, no zone) uniform over n_days."""
    base = np.datetime64(days_from, "us").astype(np.int64)
    if whole_days:
        off = rng.integers(0, n_days + 1, n) * 86_400_000_000
    else:
        off = np.sort(rng.integers(0, n_days * 86_400_000_000, n))
    return pa.array((base + off).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = int(15_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(segs)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    pkeys = np.arange(n_part)
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(types)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pkeys % 1000) * 0.1, 1)})

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", 2403, rng, n_ord, True),
        "o_orderpriority": np.array(prios)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, n_line, True)})

    etypes = ["click", "error", "purchase", "signup", "view"]
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", 30, rng, n_ev, False),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(etypes)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for n in rng.integers(10, 101, n_doc):
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    # plant a few exact and one-word-edit duplicates, as a crawl would hold
    for i in rng.choice(n_doc, n_doc // 300, replace=False):
        src = texts[rng.integers(0, n_doc)].split(" ")
        if rng.random() < 0.5:
            src[rng.integers(0, len(src))] = WORDS[rng.integers(0, len(WORDS))]
        texts[i] = " ".join(src)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})


def ratings(out_dir, seed, n_users=943, n_items=1682, n_ratings=100_000,
            rank=8, test_share=0.2):
    """MovieLens-100K-shaped ratings with a planted rank-`rank` signal.

    Items are drawn with Zipf-like popularity, users with a milder skew;
    each (user, item) pair appears at most once. The rating is
    round(3.5 + user bias + item bias + <u, v> + noise) clamped to 1..5.
    Every user's ratings are split 80/20 into train/test like
    u1.base/u1.test. Returns the counts and the global-mean MAE the
    output checks compare against.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    item_w = 1.0 / np.arange(1, n_items + 1) ** 0.9
    item_w = rng.permutation(item_w / item_w.sum())
    user_w = rng.gamma(1.2, 1.0, n_users)
    user_w /= user_w.sum()
    pairs = np.empty(0, np.int64)
    while pairs.size < n_ratings:
        u = rng.choice(n_users, n_ratings, p=user_w)
        i = rng.choice(n_items, n_ratings, p=item_w)
        pairs = np.unique(np.concatenate([pairs, u.astype(np.int64) * n_items + i]))
    pairs = rng.permutation(pairs)[:n_ratings]
    u, i = pairs // n_items, pairs % n_items

    uf = rng.normal(0, 0.45, (n_users, rank))
    vf = rng.normal(0, 0.45, (n_items, rank))
    ub, ib = rng.normal(0, 0.5, n_users), rng.normal(0, 0.6, n_items)
    score = 3.5 + ub[u] + ib[i] + np.einsum("ij,ij->i", uf[u], vf[i]) \
        + rng.normal(0, 0.6, n_ratings)
    r = np.clip(np.rint(score), 1, 5).astype(np.int64)
    ts = 874_724_710 + rng.integers(0, 20_000_000, n_ratings)

    # per-user split: the first 20% of each user's shuffled ratings go to test
    order = np.lexsort((rng.random(n_ratings), u))
    u, i, r, ts = u[order], i[order], r[order], ts[order]
    first = np.r_[0, np.flatnonzero(np.diff(u)) + 1]
    counts = np.diff(np.r_[first, n_ratings])
    rank_in_user = np.arange(n_ratings) - np.repeat(first, counts)
    test = rank_in_user < np.repeat(np.floor(counts * test_share), counts)

    def dump(name, mask):
        with open(os.path.join(out_dir, name), "w") as f:
            for a, b, c, d in zip(u[mask] + 1, i[mask] + 1, r[mask], ts[mask]):
                f.write(f"{a}\t{b}\t{c}\t{d}\n")

    dump("train.tsv", ~test)
    dump("test.tsv", test)
    mean = float(r[~test].mean())
    base = float(np.abs(r[test] - np.clip(mean, 1.0, 5.0)).mean())
    facts = {"train_rows": int((~test).sum()), "test_rows": int(test.sum()),
             "global_mean": mean, "global_mean_mae": base}
    with open(os.path.join(out_dir, "facts.json"), "w") as f:
        json.dump(facts, f)
    return facts
