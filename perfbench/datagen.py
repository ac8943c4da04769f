"""Deterministic synthetic inputs for the benchmark.

The catalog tables follow the schema and value distributions of the
engine's reference testdata (TESTDATA.md): `documents` is a 30-word
technical vocabulary with ~5% near-duplicates (an earlier document plus
a trailing " dup") and a few exact copies, `embeddings` are unit-norm
64-d float vectors with a 0..9 label. `lineitem` exists only for the
frozen calibration probe, which scans it.

The tables are a pure function of (scale, DATA_SEED): the run's
--seed does not change them, so the oracle-checked outputs stay the
same across seeds and only the per-run choices (op order, ingest drop
split, pipeline ran_seed) vary.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def documents(n_docs: int, rng: np.random.Generator) -> pa.Table:
    n_words = rng.integers(10, 101, n_docs)
    words = np.asarray(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in n_words]
    # near-duplicates: a copy of another document with " dup" appended;
    # exact copies: one in ~600 documents repeats another verbatim
    kind = rng.random(n_docs)
    src = rng.integers(0, n_docs, n_docs)
    for i in range(n_docs):
        j = int(src[i])
        if j == i:
            continue
        if kind[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.0517:
            texts[i] = texts[j]
    lang = rng.choice(len(LANGS), n_docs, p=LANG_P)
    source = rng.integers(0, 20, n_docs)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in lang], pa.string()),
            "source": pa.array([f"src{k}" for k in source], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(n_vecs: int, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )


def lineitem(n_rows: int, rng: np.random.Generator) -> pa.Table:
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2500, n_rows).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_rows // 4, n_rows)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_rows)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_rows)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_rows).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_rows).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_rows), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_rows) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_rows) / 100.0),
            "l_returnflag": pa.array(np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_rows)]),
            "l_linestatus": pa.array(np.asarray(["F", "O"])[rng.integers(0, 2, n_rows)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )


def write_catalog(out_dir: str, n_docs: int, n_vecs: int, n_lineitem: int = 0) -> dict[str, int]:
    """Write the catalog tables as single-file Parquet (the layout the
    engine's catalog reads) and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    tables = {"documents": documents(n_docs, rng), "embeddings": embeddings(n_vecs, rng)}
    if n_lineitem:
        tables["lineitem"] = lineitem(n_lineitem, rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
