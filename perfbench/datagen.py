"""Seeded synthetic inputs for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed writes
byte-identical rows.  Schemas and value domains follow the repository's
TPC-H-ish harness tables (``lineitem``, ``documents``, ``embeddings``), so
the engine's own golden oracles in ``__spark_entry__`` apply to them
unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the harness corpus vocabulary; the scored goldens query these words
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

EMBED_DIM = 64
NUM_SOURCES = 20
LANGS = ("en", "zh", "es", "de", "fr")
_SHIP_EPOCH_DAY = np.datetime64("1992-01-01", "D")
SHIP_DAYS = 3650  # 1992-01-01 .. 2001-12-28


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` order lines; (l_orderkey, l_linenumber) is unique."""
    lines_per_order = rng.integers(1, 8, size=n // 3 + 8)
    orderkey = np.repeat(np.arange(lines_per_order.size), lines_per_order)[:n]
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1
    ship = _SHIP_EPOCH_DAY + rng.integers(0, SHIP_DAYS, size=n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(0, max(n // 30, 10), size=n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, size=n).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, size=n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` bag-of-words documents.  About 8 % are near-duplicates of an
    earlier document (one or two tokens replaced, tagged ``dup``), 4 % exact
    duplicates under a new id and 4 % too short for the quality gate, so the
    curation filters all have work to do."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.08:
            toks = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 3)):
                toks[rng.integers(0, len(toks))] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks + ["dup"]))
        elif i > 10 and kind[i] < 0.12:
            texts.append(texts[rng.integers(0, i)])
        elif kind[i] < 0.16:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=rng.integers(2, 5))]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=rng.integers(10, 100))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, NUM_SOURCES, size=n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` 64-d float vectors around ten cluster centres."""
    centres = rng.normal(0.0, 0.15, size=(10, EMBED_DIM))
    label = rng.integers(0, 10, size=n)
    vecs = (centres[label] + rng.normal(0.0, 0.08, size=(n, EMBED_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


GENERATORS = {"lineitem": lineitem, "documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, str]:
    """Write ``{name}.parquet`` for each table in ``sizes`` under
    ``out_dir`` (the layout ``sources.read_table`` reads).  Each table
    draws from its own stream of the seed, so adding a table leaves the
    others unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for k, name in enumerate(sorted(sizes)):
        rng = np.random.default_rng([seed, k, sizes[name]])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(GENERATORS[name](rng, sizes[name]), path)
        paths[name] = path
    return paths
