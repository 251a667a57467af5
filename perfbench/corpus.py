"""Seeded corpus versions in the fixture layout the engine reads.

A version is a directory of `<table>.parquet` tables with the fixtures'
schema (the one `graft.Tables` checks): documents over a 30-word
vocabulary with planted near-duplicates and 64-d unit embeddings, plus,
by kind, EP1's crawl-schema table (`cold`) or the TPC-H-like star tables
and the events stream (`serve`). `scale` plays the fixture scale factor
(sf0.01 = 500 documents). The same seed always gives the same version.

    python3 perfbench/corpus.py OUT_DIR KIND SCALE SEED[,SEED...]

writes one version and prints its properties as one JSON line.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array("""spark window merge table column vector stream value data small join
filter big group hash customer sort order slow line part fast row the agg key query a
scan batch""".split())
LANGS = np.array(["zh", "es", "fr", "de"])


def _write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def documents(rng, n):
    """10–100 vocabulary words each; 5% are an earlier document plus
    " dup", 0.2% an exact copy of one; lang is 41% en; source cycles
    over 20 values."""
    lens = rng.integers(10, 101, n)
    base = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in lens]
    texts = list(base)
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = base[rng.integers(0, i)] + " dup"
        elif kind[i] < 0.052:
            texts[i] = base[rng.integers(0, i)]
    lang = np.where(rng.random(n) < 0.41, "en", LANGS[rng.integers(0, 4, n)])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    v = rng.uniform(-1.0, 1.0, (n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def crawl(rng, docs):
    """EP1's crawl-schema source (시작 날짜 / 제목 / 정제데이터): 4% of rows
    repeat an earlier row's contents, 1% have null contents and 1% an
    unparseable date, so EP1's dedup and null drops all do work."""
    texts = docs.column("text").to_pylist()
    n = len(texts)
    contents = list(texts)
    kind = rng.random(n)
    for i in range(n):
        if kind[i] < 0.01:
            contents[i] = None
        elif i > 0 and kind[i] < 0.05:
            contents[i] = texts[rng.integers(0, i)]
    days = np.datetime64("2023-01-01") + rng.integers(0, 730, n)
    dates = [str(d) for d in days]
    for i in np.flatnonzero(rng.random(n) < 0.01):
        dates[i] = "n/a"
    return pa.table({
        "시작 날짜": pa.array(dates, pa.string()),
        "제목": pa.array([" ".join(t.split()[:5]) for t in texts], pa.string()),
        "정제데이터": pa.array(contents, pa.string()),
    })


def _pick(rng, xs, n):
    return pa.array(np.array(xs)[rng.integers(0, len(xs), n)], pa.string())


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _days(rng, start, span, n):
    d = np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d, pa.timestamp("us"))


def relational(rng, scale):
    """The star tables and the events stream at fixture scale `scale`."""
    def rows(x):
        return max(1, round(x * scale))
    n_cust, n_supp, n_part = rows(150000), rows(10000), rows(200000)
    n_ord, n_line, n_ev, n_users = rows(1500000), rows(6000000), rows(1000000), rows(15000)
    ids = np.arange
    ev_ts = (np.datetime64("2024-01-01", "us")
             + (ids(n_ev) * (30 * 86400 * 10**6 // n_ev)
                + rng.integers(0, 25 * 10**6, n_ev)).astype("timedelta64[us]"))
    return {
        "region": pa.table({
            "r_regionkey": pa.array(ids(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(ids(25), pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array(ids(25) % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(ids(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(ids(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(ids(n_part), pa.int64()),
            "p_name": pa.array([f"{c} {m}" for c, m in zip(
                np.array(["red", "blue", "green", "hot", "large", "small", "dark", "pale"])[
                    rng.integers(0, 8, n_part)],
                np.array(["bolt", "ring", "nut", "screw", "gear", "pipe", "valve", "spring"])[
                    rng.integers(0, 8, n_part)])]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                  "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900 + (ids(n_part) % 1000) / 10.0, pa.float64())}),
        "orders": pa.table({
            "o_orderkey": pa.array(ids(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), pa.float64()),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)}),
        "events": pa.table({
            "event_id": pa.array(ids(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"], n_ev),
            "value": _money(rng, 0, 560, n_ev),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}),
    }


def properties(docs):
    """Rows, text MB, vocabulary size and shares of the version's documents."""
    texts = docs.column("text").to_pylist()
    bases = {}
    for t in texts:
        b = t[:-4] if t.endswith(" dup") else t
        bases[b] = bases.get(b, 0) + 1
    copies = sum(c - 1 for c in bases.values())
    return {"rows": len(texts), "text_mb": sum(len(t.encode()) for t in texts) / 1e6,
            "vocabulary": len({w for t in texts for w in t.split()}),
            "dup_family_share": copies / len(texts),
            # the generated corpora plant no contamination or PII spans; the
            # harness measures those of the cold workload's realistic twin
            "contaminated_share": 0.0, "pii_share": 0.0}


def write_version(path, kind, scale, seed):
    """Write one version of `kind` (cold or serve). Returns the
    version's properties."""
    rng = np.random.default_rng(seed)
    docs = documents(rng, round(50000 * scale))
    tables = {"documents": docs, "embeddings": embeddings(rng, round(20000 * scale))}
    if kind == "cold":
        tables["crawl"] = crawl(rng, docs)
    elif kind == "serve":
        tables.update(relational(rng, scale))
    for name, table in tables.items():
        _write(os.path.join(path, f"{name}.parquet"), table)
    return dict(properties(docs), dir=path, kind=kind, scale=scale, seed=seed)


if __name__ == "__main__":
    out, kind, scale, seed = sys.argv[1:5]
    print(json.dumps(write_version(out, kind, float(scale),
                                   [int(x) for x in seed.split(",")])))
