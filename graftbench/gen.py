#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes the ten harness tables (region nation customer supplier part orders
lineitem events documents embeddings) as single-row-group snappy parquet
files with the fixture schemas, sized for one workload profile, plus
`planted.json`: the answers the generator planted (exact and near duplicate
document pairs, twin vectors of the query vectors) for the benchmark's own
correctness checks. The program under test only ever sees the parquet.

The same (seed, profile) always gives byte-identical files.

Usage: python3 gen.py --seed N --profile {curate,serve} --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table for each workload profile. Tables a profile does not
# exercise stay small but present, so every loader and the DuckDB oracle
# find the full harness shape in every data directory.
SMALL = dict(customer=1500, supplier=100, part=2000, orders=15000,
             events=10000, documents=2000, embeddings=2000)
PROFILES = {
    # the full curation chain over one corpus
    "curate": dict(SMALL, documents=1500),
    # clustered vectors and a mid-size corpus for retrieval; the star
    # schema's lineitem above the session's broadcast threshold and its
    # dimensions below; the tx table is loaded from `orders`
    "serve": dict(SMALL, embeddings=3000, documents=4000, orders=10000),
}
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# The fixture corpus vocabulary: kept as mid-rank words of the Zipf
# vocabulary so keys with hard-wired query terms (BM25's "join vector scan")
# still find matches.
FIXTURE_WORDS = ("a agg batch big column customer data dup fast filter group "
                 "hash join key line merge order part query row scan slow "
                 "small sort spark stream table the value vector window").split()
VOCAB = 4000
LANG_VOCAB = 300
N_QUERIES = 20  # the similarity keys query vec_id < 20
DIM = 64
EPOCH_1995 = np.datetime64("1995-01-01", "D")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def rng_for(seed, name):
    return np.random.default_rng([seed, sum(map(ord, name)) * 7919 + len(name)])


def zipf_index(rng, n, size, s=1.1):
    """Indices in [0, n) with P(i) ~ 1/(i+1)^s."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    return np.minimum(np.searchsorted(cdf / cdf[-1], rng.random(size)), n - 1)


def words(rng, n, taken):
    """n distinct pronounceable pseudo-words not in `taken`."""
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    out = []
    seen = set(taken)
    while len(out) < n:
        k = int(rng.integers(1, 4))
        w = "".join(cons[rng.integers(16)] + vows[rng.integers(5)]
                    for _ in range(k)) + cons[rng.integers(16)]
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"),
                   compression="snappy", row_group_size=1 << 30)


def dates(rng, lo, hi, n):
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + days).astype("datetime64[us]")


def star(seed, size, out):
    r = rng_for(seed, "star")
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc, ns, np_, no = (size["customer"], size["supplier"], size["part"],
                       size["orders"])
    write(out, "customer", {
        "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(r.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], nc)})
    write(out, "supplier", {
        "s_suppkey": np.arange(1, ns + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": pa.array(r.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})
    adj = ["blue", "cold", "hot", "new", "red", "small", "big", "old"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "pin"]
    write(out, "part", {
        "p_partkey": np.arange(1, np_ + 1, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, np_), r.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, np_)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], np_),
        "p_size": pa.array(r.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": np.round(r.uniform(900.0, 999.9, np_), 1)})
    # orders: skewed customers (a few hot accounts carry many orders)
    odate = dates(r, EPOCH_1995, np.datetime64("2001-08-01", "D"), no)
    write(out, "orders", {
        "o_orderkey": np.arange(1, no + 1, dtype=np.int64),
        "o_custkey": (zipf_index(r, nc, no, 0.8) + 1).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], no)})
    # lineitem: 1..7 lines per order, skewed parts
    per = r.integers(1, 8, no)
    nl = int(per.sum())
    okey = np.repeat(np.arange(1, no + 1, dtype=np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    lnum = (np.arange(nl) - starts + 1).astype(np.int32)
    qty = r.integers(1, 51, nl).astype(np.float64)
    ship = (np.repeat(odate, per).astype("datetime64[D]")
            + r.integers(1, 122, nl)).astype("datetime64[us]")
    flags = r.integers(0, 6, nl)
    write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": (zipf_index(r, np_, nl, 0.9) + 1).astype(np.int64),
        "l_suppkey": r.integers(1, ns + 1, nl).astype(np.int64),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})


def events(seed, n, out):
    r = rng_for(seed, "events")
    span_us = 30 * 86400 * 1_000_000
    ts = EPOCH_2024 + np.sort(r.integers(0, span_us, n)).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": zipf_index(r, 1500, n, 0.6).astype(np.int64),
        "event_type": r.choice(["click", "error", "purchase", "signup",
                                "view"], n),
        "value": np.round(np.minimum(r.exponential(60.0, n), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 101, n)]})


def documents(seed, n, out):
    """Zipf-vocabulary corpus with planted exact and near duplicates."""
    r = rng_for(seed, "documents")
    shared = words(r, VOCAB - len(FIXTURE_WORDS), FIXTURE_WORDS)
    # fixture words take every 40th rank from rank 20 on
    vocab = list(shared)
    for i, w in enumerate(FIXTURE_WORDS):
        vocab.insert(20 + 40 * i, w)
    vocab = np.array(vocab)
    per_lang = {l: np.array(words(r, LANG_VOCAB, set(vocab))) for l in LANGS}
    lang = r.choice(LANGS, n, p=LANG_P)
    lens = r.integers(40, 101, n)
    ends = np.cumsum(lens)
    all_toks = vocab[zipf_index(r, VOCAB, int(ends[-1]), 1.05)]
    texts = []
    for i in range(n):
        k = int(lens[i])
        toks = all_toks[ends[i] - k:ends[i]]
        own = r.random(k) < 0.2
        toks[own] = per_lang[lang[i]][r.integers(0, LANG_VOCAB, own.sum())]
        texts.append(" ".join(toks))
    # plant: ~1.5% exact copies and ~2.5% one-token edits of earlier docs
    exact, near = [], []
    kind = r.random(n)
    for i in range(1, n):
        if kind[i] < 0.04:
            j = int(r.integers(0, i))
            if kind[i] < 0.015:
                texts[i] = texts[j]
                exact.append([j, i])
            else:
                toks = texts[j].split(" ")
                p = int(r.integers(0, len(toks)))
                toks[p] = str(vocab[r.integers(0, VOCAB)]) + "x"
                texts[i] = " ".join(toks)
                near.append([j, i])
            lang[i] = lang[j]
    write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{k}" for k in zipf_index(r, 20, n, 0.7)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return exact, near


def embeddings(seed, n, out):
    """Ten classes, each a cloud of tight families of ~20 vectors (the
    local structure real embedding spaces have); each query vector
    (vec_id < 20) has one planted twin, its near-copy elsewhere in the
    table."""
    r = rng_for(seed, "embeddings")
    cent = r.normal(0.0, 0.15, (10, DIM))
    fam_label = r.integers(0, 10, max(1, n // 20))
    fam = cent[fam_label] + r.normal(0.0, 0.08, (len(fam_label), DIM))
    member = r.integers(0, len(fam_label), n)
    label = fam_label[member].astype(np.int32)
    emb = fam[member] + r.normal(0.0, 0.02, (n, DIM))
    twins = r.choice(np.arange(N_QUERIES, n), N_QUERIES, replace=False)
    emb[twins] = emb[:N_QUERIES] + r.normal(0.0, 0.002, (N_QUERIES, DIM))
    label[twins] = label[:N_QUERIES]
    flat = pa.array(emb.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label)})
    return [[q, int(t)] for q, t in enumerate(twins)]


def generate(seed, profile, out):
    size = PROFILES[profile]
    os.makedirs(out, exist_ok=True)
    star(seed, size, out)
    events(seed, size["events"], out)
    exact, near = documents(seed, size["documents"], out)
    twins = embeddings(seed, size["embeddings"], out)
    planted = {"seed": seed, "profile": profile, "rows": size,
               "exact_pairs": exact, "near_pairs": near, "twins": twins}
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(planted, f, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--profile", choices=sorted(PROFILES), required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.profile, a.out)


if __name__ == "__main__":
    main()
