"""Seeded input generator: the input tables the workloads read, as parquet.

The engine's queries read a TPC-H-shaped directory (``dle.sqlgen.TABLES``)
and derive pages, points and designation layers from it arithmetically.
This module writes the four tables the benchmarked ops read (orders,
documents, embeddings, events) from a seed with numpy alone, so the
benchmark carries no data files and the same seed gives byte-identical
parquet. The engine registers only the tables it finds.

What a seed may move is fixed by how ``dle.sqlgen`` joins the tables:

* pages join documents on ``o_orderkey % n_docs = doc_id``, so workloads
  that read pages keep doc ids ``0..n-1`` and move the page keys (which
  decide url, host and point location) and the text behind each doc id;
* layers, bands and triangles are functions of ``doc_id`` alone, so the
  polygon workloads move the doc-id range instead.

Amplified documents are seeded near-duplicates of earlier documents (a
few words replaced), not copies, so dedup has real work to do.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch")
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.39, 0.16, 0.16, 0.15, 0.14)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64
EMB_LABELS = 10
_EPOCH_US = 1704067200 * 1_000_000      # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet",
                   compression="snappy")


def _documents(rng, doc_ids: np.ndarray, n_base: int):
    """Documents: `n_base` fresh texts, the rest near-duplicates of a
    random earlier document with ~8% of words replaced. Returns the
    column dict and the near-duplicate count."""
    n = len(doc_ids)
    texts: list[str] = []
    for i in range(n):
        if i < n_base:
            k = int(rng.integers(8, 90))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]
            if rng.random() < 0.05:
                words.append("dup")
        else:
            words = texts[int(rng.integers(0, i))].split()
            hit = rng.random(len(words)) < 0.08
            for j in np.flatnonzero(hit):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return {
        "doc_id": pa.array(doc_ids.astype("int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in lang]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, n - n_base


def _embeddings(rng, n: int):
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, n)
    v = centers[label] + 0.6 * rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    }


def _events(rng, n: int):
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n)) + _EPOCH_US
    return {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, n // 60), n)
                            .astype("int64")),
        "event_type": pa.array([EVENT_TYPES[j] for j in
                                rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(rng.integers(100, 50000, n) / 100.0),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n)]),
    }


def _orders(rng, keys: np.ndarray, n_cust: int):
    n = len(keys)
    days = rng.integers(0, 7 * 365, n)
    return {
        "o_orderkey": pa.array(keys.astype("int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype("int64")),
        "o_orderstatus": pa.array([("O", "F", "P")[j]
                                   for j in rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(rng.integers(100000, 50000000, n) / 100.0),
        "o_orderdate": _ts((days + 9131) * 86400 * 1_000_000),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in
                                     rng.integers(0, 5, n)]),
    }


def generate(out: Path, seed: int, *, n_docs: int, n_pages: int,
             dup_share: float = 0.0, n_emb: int = 500, n_events: int = 1000,
             doc_offset: bool = False) -> dict:
    """Write the four tables under `out` and return their sizes.

    `doc_offset` moves the doc-id range with the seed (layer workloads);
    otherwise doc ids are 0..n_docs-1 and the seed moves page keys."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 20231])
    base = int(rng.integers(0, 1_000_000)) if doc_offset else 0
    doc_ids = base + np.arange(n_docs)
    n_base = n_docs - int(round(n_docs * dup_share))
    docs, n_dups = _documents(rng, doc_ids, n_base)
    _write(out, "documents", docs)
    if doc_offset:
        keys = np.arange(n_pages)
    else:
        keys = np.sort(rng.choice(50_000_000, n_pages, replace=False))
    _write(out, "orders", _orders(rng, keys, max(10, n_pages // 10)))
    _write(out, "embeddings", _embeddings(rng, n_emb))
    _write(out, "events", _events(rng, n_events))
    return {"documents": n_docs, "pages": n_pages, "embeddings": n_emb,
            "events": n_events, "doc_id_min": int(doc_ids[0]),
            "near_dup_share": round(n_dups / n_docs, 4)}


def digest(out: Path) -> str:
    """sha256 over every parquet file's bytes, in name order."""
    h = hashlib.sha256()
    for p in sorted(out.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()
