"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of ``(seed, size)``: it writes its
parquet files under ``out_dir`` and returns the row counts it wrote.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: independent random streams per generator, so changing one generator's
#: draws never shifts another's inputs for the same seed
_STREAM = {"copurchase": 1, "documents": 2}

#: word list of the document corpus (small, so random documents share
#: shingles by chance and the inverted-index join has real work to do)
VOCAB = (
    "a the key row scan slow fast table value part hash merge batch "
    "spark line sort window order data column agg join small big query "
    "customer stream group filter vector"
).split()


def _rng(kind: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([_STREAM[kind], seed])


def _write_parquet(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path, compression="snappy")


def copurchase_tables(
    out_dir: str, seed: int, customers: int, suppliers: int, orders: int
) -> dict:
    """``orders`` (o_orderkey, o_custkey) and ``lineitem`` (l_orderkey,
    l_suppkey) parquet tables, the two inputs of
    ``sources.copurchase_edges``, drawn the way TPC-H dbgen draws them:
    each order has a uniform customer and 1-7 lineitems, each lineitem a
    uniform supplier. The co-purchase graph therefore has almost no
    community structure, like the TPC-H tables it stands in for."""
    rng = _rng("copurchase", seed)
    o_key = np.arange(1, orders + 1, dtype=np.int64)
    o_cust = rng.integers(1, customers + 1, size=orders, dtype=np.int64)
    l_order = np.repeat(o_key, rng.integers(1, 8, size=orders))
    l_supp = rng.integers(1, suppliers + 1, size=len(l_order), dtype=np.int64)
    _write_parquet(
        os.path.join(out_dir, "orders.parquet"),
        {"o_orderkey": o_key, "o_custkey": o_cust},
    )
    _write_parquet(
        os.path.join(out_dir, "lineitem.parquet"),
        {"l_orderkey": l_order, "l_suppkey": l_supp},
    )
    return {"orders": orders, "lineitems": len(l_order)}


def documents_table(
    out_dir: str, seed: int, docs: int, dup_share: float, edits: int
) -> dict:
    """``documents`` (doc_id, text) parquet: random texts over VOCAB,
    where a ``dup_share`` of the documents copy an earlier original
    document with up to ``edits`` token substitutions (small
    near-duplicate families of varying Jaccard, some above the dedup
    threshold, some below)."""
    rng = _rng("documents", seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(docs):
        if originals and rng.random() < dup_share:
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for _ in range(int(rng.integers(0, edits + 1))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(vocab))
        else:
            originals.append(i)
            toks = rng.choice(vocab, size=int(rng.integers(10, 90))).tolist()
        texts.append(" ".join(toks))
    _write_parquet(
        os.path.join(out_dir, "documents.parquet"),
        {"doc_id": np.arange(docs, dtype=np.int64), "text": texts},
    )
    return {"docs": docs}
