"""Seeded input generators.

Every input the benchmark hands the engine comes from here, drawn from
a ``numpy.random.Generator`` built from the run's ``--seed``: the same
seed gives byte-identical parquet files. The shapes follow the TPC-H
style fixtures the engine's own tests use (``lineitem``, ``orders``,
``documents``, ``embeddings``) so the registry stages read them
unchanged, but nothing is read from outside the benchmark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEARS = np.arange(1995, 2002, dtype=np.int32)  # 7 ship-year partitions
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
EMBED_DIM = 64


def lineitem(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """One ``lineitem`` row per key in ``keys`` (``l_orderkey``), with a
    ``l_shipyear`` partition column derived from ``l_shipdate``.
    Prices are whole cents and quantities whole numbers, so sums are
    exact in double precision on every engine."""
    n = len(keys)
    year_idx = rng.integers(0, len(YEARS), n)
    day = rng.integers(0, 365, n)
    shipdate = (_EPOCH_1995 + year_idx * 365 + year_idx // 2 + day).astype(
        "datetime64[D]"
    )
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(keys, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 20_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1_000, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                qty * rng.integers(90_000, 210_000, n) / 100.0
            ),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(_FLAGS[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(_STATUS[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(shipdate, pa.date32()),
            "l_shipyear": pa.array(YEARS[year_idx], pa.int32()),
        }
    )


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    """``orders`` keyed ``0..n-1``."""
    day = rng.integers(0, 7 * 365, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, 15_000, n), pa.int64()),
            "o_orderstatus": pa.array(_STATUS[rng.integers(0, 2, n)]),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n) / 100.0),
            "o_orderdate": pa.array(
                (_EPOCH_1995 + day).astype("datetime64[D]"), pa.date32()
            ),
            "o_orderpriority": pa.array(PRIORITY[rng.integers(0, 5, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int, dup_frac: float = 0.08) -> pa.Table:
    """A text corpus over a 30-word vocabulary. ``dup_frac`` of the
    documents are near-copies of an earlier one (same language and
    source, one token changed, a trailing ``dup`` marker), so the dedup
    stages find real pairs."""
    lang = _LANGS[rng.integers(0, len(_LANGS), n)]
    source = np.array([f"src{s}" for s in rng.integers(0, 8, n)])
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_frac:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            toks[int(rng.integers(0, len(toks)))] = str(_VOCAB[rng.integers(0, len(_VOCAB))])
            texts.append(" ".join(toks + ["dup"]))
            lang[i], source[i] = lang[j], source[j]
        else:
            texts.append(" ".join(_VOCAB[rng.integers(0, len(_VOCAB), rng.integers(8, 90))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array(source),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int, k: int = 10) -> pa.Table:
    """Unit-norm float32 vectors around ``k`` random centres, labelled
    by centre; a few are near-copies so near-dup stages have hits."""
    centres = rng.normal(size=(k, EMBED_DIM))
    label = rng.integers(0, k, n)
    vec = centres[label] + 1.2 * rng.normal(size=(n, EMBED_DIM))
    dups = rng.random(n) < 0.05
    src = rng.integers(0, n, n)
    vec[dups] = vec[src[dups]] + 0.01 * rng.normal(size=(int(dups.sum()), EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32),
                pa.array(vec.ravel()),
            ),
            "label": pa.array(label, pa.int32()),
        }
    )


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
