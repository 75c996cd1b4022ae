"""Seeded synthetic tables for the operator workload, in the schema of the
engine's registry tables (documents, embeddings, lineitem)."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; about 8% are near copies of an earlier one
    (a word swapped or appended), so the dedup operators find clusters."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = "dup"
            else:
                words.append("dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors around `labels` cluster centres."""
    centres = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centres[label] + 0.8 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    base = dt.datetime(1995, 1, 1)
    ship = [base + dt.timedelta(days=int(d)) for d in rng.integers(0, 2500, n)]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def build(d: str, seed: int, docs: int = 500, vecs: int = 500, lines: int = 6000) -> dict[str, int]:
    """Write the tables as <d>/<name>.parquet; returns row counts."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {"documents": documents(rng, docs), "embeddings": embeddings(rng, vecs),
              "lineitem": lineitem(rng, lines)}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
