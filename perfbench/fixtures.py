"""Seeded benchmark inputs, written inside the run's work directory.

Two families, both a pure function of ``(seed, size)`` so the same seed
always yields the same bytes:

- ``write_maxquant``: a MaxQuant ``Phospho (STY)Sites``-shaped TSV, the
  design CSVs and a ``modificationSpecificPeptides`` TSV for the
  pipeline workloads. The tables come from the engine's own generators
  in ``padua_spark/benchdata.py``, loaded by file path so that making
  inputs does not import the engine (its import time belongs to
  ``setup_s``). ``Amino acid``/``Position`` columns are added so the
  Phosphopath export has a site to write.
- ``write_tables``: the star schema plus ``events``/``documents``/
  ``embeddings`` parquet tables that ``__spark_entry__.queries()``
  reads, with the column names, types and value domains of the engine's
  test tables, scaled by ``sf`` (lineitem = 6M x sf rows).
"""

from __future__ import annotations

import importlib.util
import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_WORDS = (
    "the a fast slow big small key order sort table scan merge part "
    "window hash join batch stream spark group query row data filter "
    "customer line value agg column vector"
).split()
_ADJ = ["cold", "small", "large", "blue", "new", "hot", "red", "green"]
_NOUN = ["widget", "bolt", "rod", "gear", "anvil", "ring", "nut", "pin"]


def _benchdata():
    """The engine's ``padua_spark/benchdata.py``, loaded standalone (it
    imports only numpy/pandas)."""
    path = os.path.join(ROOT, "padua_spark", "benchdata.py")
    spec = importlib.util.spec_from_file_location("_perfbench_benchdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_maxquant(out_dir: str, seed: int, n_features: int) -> dict[str, str]:
    """Pipeline inputs; returns their paths by role."""
    bd = _benchdata()
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "sites": os.path.join(out_dir, "sites.txt"),
        "design": os.path.join(out_dir, "design.csv"),
        "ratio_design": os.path.join(out_dir, "ratio_design.csv"),
        "msp": os.path.join(out_dir, "msp.txt"),
    }
    sites, design = bd.make_maxquant_tables(n_features, seed=seed)
    rng = np.random.default_rng([seed, 1])
    sites.insert(
        4, "Amino acid", rng.choice(np.array(["S", "T", "Y"]), n_features)
    )
    sites.insert(5, "Position", rng.integers(1, 2000, n_features))
    sites.to_csv(paths["sites"], sep="\t", index=False)
    design.to_csv(paths["design"], index=False)
    pd.DataFrame(
        {"Label": ["E1", "E2", "E3"], "Group": ["Exp"] * 3,
         "Replicate": [1, 2, 3]}
    ).to_csv(paths["ratio_design"], index=False)
    bd.make_msp_table(n_features, seed=seed + 1).to_csv(
        paths["msp"], sep="\t", index=False
    )
    return paths


def _dates(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _documents(rng, n: int) -> pd.DataFrame:
    """Bag-of-words documents with planted near duplicates: ~5% are an
    earlier document plus a trailing ``dup`` token, ~4% share a long
    prefix with an earlier document."""
    vocab = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        if i > 10 and r < 0.09:
            src = texts[int(rng.integers(0, i))].split()
            keep = max(5, int(len(src) * rng.uniform(0.6, 0.9)))
            words = src[:keep] + words[: max(1, len(src) - keep)]
        texts.append(" ".join(words))
    langs = rng.choice(
        np.array(["en", "fr", "es", "zh", "de"]), n,
        p=[0.4, 0.15, 0.15, 0.15, 0.15],
    )
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    n_li = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_part = int(200_000 * sf)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def tab(df: pd.DataFrame) -> pa.Table:
        return pa.Table.from_pandas(df, preserve_index=False)

    i32 = np.int32
    out = {
        "region": tab(pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })),
        "nation": tab(pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        })),
        "customer": tab(pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(np.array(
                ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE",
                 "HOUSEHOLD"]), n_cust),
        })),
        "supplier": tab(pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        })),
        "part": tab(pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
                    rng.integers(0, len(_ADJ), n_part),
                    rng.integers(0, len(_NOUN), n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(np.array(
                ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE",
                 "STANDARD"]), n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(
                900.0 + (np.arange(n_part) % 200) * 0.1, 1),
        })),
        "orders": tab(pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_ord),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"]), n_ord),
        })),
        "lineitem": tab(pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(np.array(["N", "R", "A"]), n_li),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
            "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
        })),
    }
    t0 = datetime(2024, 1, 1)
    span_us = int(timedelta(days=30).total_seconds() * 1e6)
    ts = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = tab(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64(t0, "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(np.array(
            ["click", "purchase", "error", "signup", "view"]), n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    out["documents"] = tab(_documents(rng, n_docs))
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Parquet tables (one row group each, like the engine's test
    tables); returns their paths by table name."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in make_tables(seed, sf).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name], row_group_size=1 << 30)
    return paths
