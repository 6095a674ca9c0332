"""Seeded input tables for the benchmark.

The library reads its fixtures from a directory of parquet tables
(``sources.datasets`` for the ML fixtures, ``queries`` for the operator
queries).  This module writes such a directory from a seed, so a run needs
nothing outside its checkout and the same seed always yields byte-identical
inputs.  Every distribution below reproduces one measured on the library's
test tables (sf0.001, sf0.01 and sf0.1); README.md ("Inputs") lists the
measurements.

* ``lineitem`` — the columns the ML fixtures read.  Key ranges scale with the
  row count as in the test tables (``l_partkey`` < rows/30, ``l_suppkey`` <
  rows/600, about four lines per ``l_orderkey``); ``l_extendedprice`` is
  uniform on [900, 105000), independent of every other column.
* ``documents`` — whitespace-token text over a 30-word vocabulary, 10-99
  words per document, five languages, 20 sources; 5% of the documents are an
  exact copy of another document with the token ``dup`` appended.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DUP_SHARE = 0.05


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": rng.integers(0, max(n // 4, 1), n),
            "l_partkey": rng.integers(0, max(n // 30, 1), n),
            "l_suppkey": rng.integers(0, max(n // 600, 1), n),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, n),
            "l_discount": _cents(rng, 0.0, 0.10, n),
            "l_tax": _cents(rng, 0.0, 0.08, n),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    # Copies are made in place, one after another, so a copy of a copy
    # carries two markers, as a few test-table documents do.
    for target in rng.choice(n, size=round(DUP_SHARE * n), replace=False):
        source = int(rng.integers(0, n - 1))
        source += source >= target
        texts[target] = texts[source] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(np.array(LANGS), n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, seed: int, lineitem_rows: int, document_rows: int) -> dict:
    """Write ``lineitem.parquet`` and ``documents.parquet`` for ``seed`` into
    ``out_dir``; return the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    # Independent streams per table, so resizing one leaves the other alone.
    for stream, (name, make, n) in enumerate(
        (("lineitem", lineitem, lineitem_rows), ("documents", documents, document_rows))
    ):
        rng = np.random.default_rng([seed, stream])
        pq.write_table(make(rng, n), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = n
    return rows
