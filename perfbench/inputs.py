"""Seeded input generation for the benchmark workloads.

Everything the engine sees comes from here: a manifest lake laid out by
``fixtures.generate`` (history plus a pool of run directories the trickle
lands later), word-bag documents shaped like the engine's testdata
``documents`` table, and small star-schema and embedding tables for the
catalog queries.  The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words documents with the testdata's edge cases: ~5% near
    duplicates (an earlier text plus a ``dup`` token) and a few exact
    copies, so both dedup stages have work."""
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    roll = rng.random(n)
    for i in range(n):
        if i > 20 and roll[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and roll[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, lengths[i])))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_documents(root: str, seed: int, n: int) -> str:
    """Write ``root/documents.parquet`` (the layout ``plans/base.t`` reads)
    and return its path."""
    path = os.path.join(root, "documents.parquet")
    pq.write_table(pa.table(documents(np.random.default_rng(seed), n)), path)
    return path


#: the tables ``catalog_tables`` writes
CATALOG_TABLES = (
    "region nation customer supplier part orders lineitem documents embeddings"
).split()
COLORS = "red green blue cold small large bright dark".split()
ITEMS = "widget bolt gear valve spring panel".split()
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _day(rng: np.random.Generator, n: int) -> np.ndarray:
    """Timestamps (µs, midnight) spread over 1992-1998."""
    return (np.datetime64("1992-01-01") + rng.integers(0, 7 * 365, n)).astype("datetime64[us]")


def catalog_tables(root: str, seed: int, orders: int, dim: int) -> str:
    """Write the tables the catalog queries read (``plans/base.t`` layout,
    the testdata's schemas) at about ``orders`` orders with four lines each,
    and return ``root``.  Embeddings are ``dim``-long unit vectors around
    ten label centroids, so IVF cells have members."""
    rng = np.random.default_rng(seed)
    n_part, n_supp, n_cust = max(orders // 8, 20), max(orders // 150, 5), max(orders // 10, 10)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(COLORS)} {rng.choice(ITEMS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    write("orders", {
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": np.round(rng.uniform(1000, 400000, orders), 2),
        "o_orderdate": _day(rng, orders),
        "o_orderpriority": rng.choice(PRIORITIES, orders),
    })
    n_line = orders * 4
    write("lineitem", {
        "l_orderkey": rng.integers(0, orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _day(rng, n_line),
    })
    docs = documents(rng, orders // 3)
    write("documents", docs)
    n_vec = orders // 3
    labels = rng.integers(0, 10, n_vec)
    vec = rng.normal(size=(10, dim))[labels] + 0.6 * rng.normal(size=(n_vec, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return root


def manifest_lake(stage: str, seed: int, instruments: int, days: int, runs_per_day: int) -> list[str]:
    """Generate every run directory into ``stage`` and return them in
    landing order (by day, then path).  Callers move files from ``stage``
    into the lake to make them visible."""
    from fixtures.generate import generate

    generate(stage, instruments=instruments, days=days, runs_per_day=runs_per_day, seed=seed)
    runs = []
    raw = os.path.join(stage, "raw")
    for dirpath, dirnames, files in os.walk(raw):
        if "run.json" in files:
            runs.append(dirpath)
            dirnames.clear()
    # raw/{instrument}/{YYYY}/{MM}/{DD}/{run_id}: zero-padded, so the
    # date parts sort as strings
    return sorted(runs, key=lambda p: (p.split(os.sep)[-4:-1], p))


def lake_path(run_dir: str, stage: str, lake: str) -> str:
    return os.path.join(lake, os.path.relpath(run_dir, stage))


def land(run_dir: str, stage: str, lake: str, name: str | None = None) -> None:
    """Make a staged run directory visible in the lake: every file in it,
    or only the manifests called ``name``.  Each file arrives by one
    rename, so a stream never sees a half-written manifest."""
    for dirpath, _, files in os.walk(run_dir):
        for f in files:
            if name is None or f == name:
                src = os.path.join(dirpath, f)
                out = os.path.join(lake, os.path.relpath(src, stage))
                os.makedirs(os.path.dirname(out), exist_ok=True)
                os.rename(src, out)


def redeliver(run_dir: str) -> None:
    """Byte-identical re-delivery: rewrite every manifest of an already
    landed run in place with the same bytes (a fresh modification time)."""
    for dirpath, _, files in os.walk(run_dir):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                data = fh.read()
            tmp = p + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, p)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
