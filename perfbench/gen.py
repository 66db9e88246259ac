"""Seeded input generator for the benchmark.

Same schemas, value domains and Zipf shapes as ``tools/gen_sf.py``
(customers, parts, users and words are Zipf-skewed), but the seed is an
argument and the row counts follow ``scale`` (0.1 = sf0.1 counts:
600k lineitem, 100k events, 5k documents, 2k embeddings).  The same
(seed, scale) gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts, scaled linearly by ``scale / 0.1``
BASE = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
           "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA",
           "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO",
           "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
           "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = np.array(["batch", "data", "part", "scan", "slow", "agg", "key",
                  "window", "table", "merge", "join", "the", "query",
                  "row", "stream", "sort", "value", "hash", "filter",
                  "big", "dup", "spark", "fast", "customer", "column",
                  "order", "a", "vector", "line", "small", "group"])
LANGS = ["en"] * 8 + ["es", "de", "fr", "zh"] * 3
DAY_US = 86_400_000_000
T0_US = 788_918_400_000_000        # 1995-01-01 UTC
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01 UTC
DIM = 64
N_CENTERS = 10


def row_counts(scale: float) -> dict:
    mult = scale / 0.1
    return {t: max(1, int(round(n * mult))) for t, n in BASE.items()}


def zipf_keys(rng, n_rows: int, n_keys: int, a: float = 1.3):
    z = rng.zipf(a, n_rows)
    return ((z - 1) % n_keys).astype(np.int64)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng, n: int) -> list:
    lens = np.clip(rng.poisson(50, n), 8, 110)
    words = VOCAB[((rng.zipf(1.4, int(lens.sum())) - 1) % len(VOCAB))]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def _docs_table(texts, rng) -> dict:
    n = len(texts)
    return {"doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": [LANGS[i] for i in rng.randint(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.randint(0, 20, n)],
            "n_chars": pa.array(np.array([len(t) for t in texts],
                                         dtype=np.int64))}


def _emb_table(n: int, rng) -> dict:
    centers = rng.normal(0, 0.35, (N_CENTERS, DIM))
    labels = rng.randint(0, N_CENTERS, n)
    emb = (centers[labels] + rng.normal(0, 0.12, (n, DIM))).astype(np.float32)
    return {"vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel()), DIM).cast(pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32))}


def generate(out_dir: str, seed: int, scale: float) -> dict:
    """Write every table and return the row counts written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)
    n = row_counts(scale)

    _write(out_dir, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                               "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32), "n_name": NATIONS,
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.randint(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, nc)]})

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.randint(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2)})

    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"part {VOCAB[i % 31]} {i}" for i in range(npart)],
        "p_brand": [f"Brand#{1 + i % 25}" for i in
                    rng.randint(0, 25, npart)],
        "p_type": [PTYPES[i] for i in rng.randint(0, 6, npart)],
        "p_size": rng.randint(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, npart), 2)})

    no = n["orders"]
    odate = T0_US + rng.randint(0, 2404, no).astype(np.int64) * DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(zipf_keys(rng, no, nc)),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          rng.choice(3, no, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, no)]})

    nl = n["lineitem"]
    lok = np.sort(zipf_keys(rng, nl, no, a=2.0))
    # line number = position inside each run of equal order keys
    starts = np.r_[0, np.flatnonzero(lok[1:] != lok[:-1]) + 1]
    run_len = np.diff(np.r_[starts, nl])
    linenum = (np.arange(nl) - np.repeat(starts, run_len) + 1)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(zipf_keys(rng, nl, npart)),
        "l_suppkey": pa.array(rng.randint(0, ns, nl).astype(np.int64)),
        "l_linenumber": linenum.astype(np.int32),
        "l_quantity": rng.randint(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": np.round(rng.randint(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, nl)],
        "l_shipdate": pa.array(
            T0_US + rng.randint(1, 2500, nl).astype(np.int64) * DAY_US,
            pa.timestamp("us"))})

    ne = n["events"]
    nusers = max(1, int(round(1_500 * scale / 0.1)))
    ets = np.sort(EVENTS_T0_US + rng.randint(
        0, 30 * DAY_US, ne).astype(np.int64))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(zipf_keys(rng, ne, nusers)),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, ne)],
        "value": np.round(rng.exponential(60, ne), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.randint(0, 100, ne)]})

    _write(out_dir, "documents",
           _docs_table(_texts(rng, n["documents"]), rng))
    _write(out_dir, "embeddings", _emb_table(n["embeddings"], rng))
    return n
