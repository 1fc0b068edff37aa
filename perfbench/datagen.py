"""Seeded generator for the corpus the curation workload reads.

Writes ``documents``, ``embeddings`` and ``lineitem`` as parquet files
with the engine's declared testdata schemas (``schemas.TESTDATA_SCHEMAS``)
and the value domains of the engine's reference tables:

* documents: text over a fixed 30-word vocabulary, 10-100 words; about
  5 % of documents are near-duplicates of an earlier one (first word
  dropped, `` dup`` appended) and a few of those are exact copies of
  each other, so every dedup tier has clusters to find.
* embeddings: unit-norm float32 vectors of dimension 64, labels 0-9.
* lineitem: TPC-H-shaped line items; only the columns' domains matter
  to the curation panel (``exact_percentiles_distributed`` ranks
  ``l_extendedprice``).

Sizes are fixed by the caller; the seed only changes values.
"""

from __future__ import annotations

import datetime as dt
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
EMB_DIM = 64


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    dup_of: dict[int, int] = {}
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = int(rng.integers(0, i))
            src = dup_of.get(src, src)  # copy originals only
            dup_of[i] = src
            words = texts[src].split()
            # a few near-duplicates keep every word, so some pairs are exact
            keep = words if rng.random() < 0.15 else words[1:]
            texts.append(" ".join(keep + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, size=k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, size=n, dtype=np.int32)),
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    n_orders = max(n // 4, 1)
    day0 = np.datetime64(dt.date(1995, 1, 2), "D")
    ship = day0 + rng.integers(0, 2499, size=n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, size=n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(n // 30, 1), size=n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(n // 600, 1), size=n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, size=n) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], size=n).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n).tolist(), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


_TABLES = {"documents": _documents, "embeddings": _embeddings, "lineitem": _lineitem}


def write_corpus(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write ``<out_dir>/<table>.parquet`` for each table in ``sizes``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, n in sizes.items():
        rng = np.random.default_rng([seed, sorted(_TABLES).index(name)])
        pq.write_table(_TABLES[name](rng, n), os.path.join(out_dir, f"{name}.parquet"))
