#!/usr/bin/env python3
"""Deterministic synthetic tables for the graft benchmark.

Writes the ten tables graft's catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one parquet
file each, with the same schemas and value domains as the repo's sf0.1 test
data, at the sf0.1 size (600k lineitem rows, 150k orders, 5k documents).

Everything is drawn from a fixed generator seed, so every run yields the same
bytes. The run seed of the benchmark never reaches this file:
it only chooses the operations run against the data.

Planted structure the workloads rely on:
 - (l_orderkey, l_linenumber) is unique, so lineitem's slug is a real key.
 - every 4th order belongs to hot customer 7 (the skew the salted join
   exists for; tools/gen_sf.py plants the same customer above sf0.1).
 - documents: each language's texts carry that language's marker words, a
   third of them carry e-mail / IPv4 / phone strings, 0.2% are exact copies
   of an earlier document and 2% are near copies (one token replaced) of
   an earlier document of at least 60 tokens; `_near_copies.json` lists
   those (copy, original) id pairs.

Usage: gen_data.py OUT_DIR      (OUT_DIR must not exist)
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ['a', 'agg', 'batch', 'big', 'column', 'customer', 'data', 'dup', 'fast',
         'filter', 'group', 'hash', 'join', 'key', 'line', 'merge', 'order', 'part',
         'query', 'row', 'scan', 'slow', 'small', 'sort', 'spark', 'stream', 'table',
         'the', 'value', 'vector', 'window']
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "to"],
    "de": ["der", "die", "und", "das", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "es"],
    "zh": ["的", "是", "在", "了", "和"],
}
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15]
HOT_CUSTKEY = 7
N_CUST, N_SUPP, N_PART, N_ORD, N_EVT, N_DOC, N_VEC = 15000, 1000, 20000, 150000, 100000, 5000, 2000
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000


def write(out, name, table, row_group_size=65536):
    # small row groups: a single-row-group parquet file is one scan split
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), row_group_size=row_group_size)


def ts(us):
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def gen(out):
    rng = np.random.default_rng(42)
    n_cust, n_supp, n_part = N_CUST, N_SUPP, N_PART
    n_ord, n_evt, n_doc, n_vec = N_ORD, N_EVT, N_DOC, N_VEC

    write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}))

    keys = np.arange(n_cust, dtype=np.int64)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}))

    keys = np.arange(n_supp, dtype=np.int64)
    write(out, "supplier", pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))

    keys = np.arange(n_part, dtype=np.int64)
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write(out, "part", pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)}))

    okeys = np.arange(n_ord, dtype=np.int64)
    custkey = rng.integers(0, n_cust, n_ord).astype(np.int64)
    custkey[okeys % 4 == 0] = HOT_CUSTKEY
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    write(out, "orders", pa.table({
        "o_orderkey": okeys,
        "o_custkey": custkey,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]}))

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ord = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", pa.table({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US)}))

    write(out, "events", pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_evt))),
        "user_id": rng.integers(0, 1500, n_evt).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}")}))

    planted, docs = documents(rng, n_doc)
    write(out, "documents", docs, row_group_size=4096)
    with open(os.path.join(out, "_near_copies.json"), "w") as f:
        json.dump(planted, f)

    centers = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = (centers[labels] + 0.3 * rng.standard_normal((n_vec, 64))).astype(np.float32)
    write(out, "embeddings", pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}), row_group_size=2048)


def documents(rng, n):
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    n_tok = rng.integers(10, 111, n)
    texts = []
    for i in range(n):
        toks = list(rng.choice(VOCAB, size=n_tok[i]))
        markers = LANG_MARKERS[lang[i]]
        for j in rng.choice(n_tok[i], size=max(1, n_tok[i] // 8), replace=False):
            toks[j] = markers[rng.integers(0, len(markers))]
        r = rng.integers(0, 6)
        if r == 0:
            toks.append(f"contact user{i}@example.com")
        elif r == 1:
            toks.append(f"from 10.0.{i % 250}.7")
        elif r == 2:
            toks.append("call 555-867-5309")
        texts.append(" ".join(toks))
    ids = np.arange(1, n)
    exact = rng.choice(ids, size=n // 500, replace=False)
    for j in exact:
        texts[j] = texts[rng.integers(0, j)]
    # near copies: one token of a long earlier document replaced
    taken = set(exact.tolist())
    near = sorted(j for j in rng.choice(ids, size=n // 25, replace=False) if j not in taken)
    planted = []
    for j in near[: n // 50]:
        src = int(rng.integers(0, j))
        while len(texts[src].split(" ")) < 60:
            src = int(rng.integers(0, j))
        toks = texts[src].split(" ")
        toks[len(toks) // 2] = "nearcopy"
        texts[j] = " ".join(toks)
        lang[j] = lang[src]
        planted.append((int(j), src))
    return planted, pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


if __name__ == "__main__":
    out_dir = sys.argv[1]
    os.makedirs(out_dir)
    gen(out_dir)
