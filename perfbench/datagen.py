"""Deterministic synthetic copies of the test tables for the benchmark.

Writes the ten tables ``load_tables`` reads (``session.TABLE_NAMES``)
as single parquet files, with the schema and value distributions of
the repository's test tables (``TESTDATA.md``): a TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings`` tables. At
``k=1`` the row counts are sf0.01's:
60k lineitem, 15k orders, 10k events; ``k=10`` gives sf0.1's 600k
lineitem and 150k orders. Both have 500 documents (5% near-duplicates:
a copy of another document with `` dup`` appended) and 500 unit-norm
64-d embeddings. The benchmark generates its tables itself so that a
run reads nothing outside its checkout.

The tables depend only on ``GEN_SEED``, never on the run's
``--seed``: every run of every workload reads the same data.

To compare the generated tables with the test tables, run from the
repository root:

    python3 perfbench/datagen.py

It prints, for each op the benchmark runs, the op's output row count
on the generated sf0.01-sized tables next to the count ``CENSUS.json``
records for the test tables at sf0.01.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated data changes, so cached copies are rebuilt.
VERSION = "v1"
GEN_SEED = 20240101

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
EMBED_DIM = 64

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]


def _days(rng, n, start, stop):
    """``n`` midnight timestamps drawn uniformly from [start, stop]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(stop, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n, p=None):
    return np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)]


def _documents(rng):
    n_words = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(_pick(rng, _VOCAB, k)) for k in n_words]
    # 5% near-duplicates: doc i repeats doc j's text plus one token
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        j = int(rng.integers(0, N_DOCS))
        if j != i:
            texts[i] = texts[j] + " dup"
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, N_DOCS, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _tables(rng, k: int) -> dict[str, dict]:
    """The ten tables, with the TPC-H tables and ``events`` at ``k`` x
    the sf0.01 row counts."""
    nc, ns, npart, no, nl, ne, nu = (
        n * k for n in (N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM, N_EVENTS, N_USERS)
    )
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month_us = 30 * 86_400 * 1_000_000
    vecs = rng.normal(size=(N_VECS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        },
        "supplier": {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _ADJ, npart), _pick(rng, _NOUN, npart))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": _pick(rng, _TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        },
        "orders": {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        },
        "events": {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.sort(rng.integers(ts0, ts0 + month_us, ne)).astype("datetime64[us]"),
            "user_id": rng.integers(0, nu, ne).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
        "documents": _documents(rng),
        "embeddings": {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, N_VECS).astype(np.int32),
        },
    }


def ensure_tables(root: str, k: int = 1) -> str:
    """Generate the tables at ``k`` x the sf0.01 row counts under
    ``root`` once; return their directory.

    Writes to a temporary sibling and renames it into place, so a run
    that dies mid-write never leaves a partial table set behind.
    """
    out = os.path.join(root, f"tables-{VERSION}-x{k}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in _tables(np.random.default_rng(GEN_SEED), k).items():
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out)
    return out


def census_check(root: str) -> list[tuple[str, int, int]]:
    """(op, rows on the generated tables, rows in ``CENSUS.json``) for
    each op of the query workloads."""
    import json
    import sys

    from pyspark.sql import SparkSession

    sys.path.insert(0, root)
    import __spark_entry__
    from workloads import LLM_OPS, TPCH_OPS

    with open(os.path.join(root, "CENSUS.json")) as fh:
        census = json.load(fh)["scales"]["sf0.01"]
    sf_dir = ensure_tables(os.path.join(root, ".perfbench_data"))
    spark = SparkSession.builder.master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    fns = __spark_entry__.queries()
    try:
        return [(op, fns[op](spark, sf_dir).count(), census[op]["n_rows"]) for op in TPCH_OPS + LLM_OPS]
    finally:
        spark.stop()


if __name__ == "__main__":
    rows = census_check(os.getcwd())
    print(f"{'op':32} {'generated':>10} {'census':>10}")
    for op, got, want in rows:
        print(f"{op:32} {got:>10} {want:>10}")
