"""Seeded input generator for the benchmark.

Writes the four tables the library reads from an ``sf_dir`` —
``events``, ``documents``, ``embeddings`` and ``orders`` — with the same
schemas as the engine's test fixtures, as ONE parquet file holding ONE
row group each (the layout the scan-parallelism paths were tuned for).
Every value is drawn from ``numpy.random.default_rng(seed)``, so the same
seed gives byte-identical inputs and a different seed gives different
keys, texts, vectors and timestamps at the same sizes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture documents' vocabulary: short, heavily repeated tokens, so
# MinHash shingles and BM25-style statistics look like the fixtures'.
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column order join small big query filter "
    "group customer stream vector"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["click", "view", "purchase", "error", "search"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMB_DIM = 64
N_LABELS = 10

_EV_START = dt.datetime(2024, 1, 1)
_EV_SPAN_S = 30 * 86400
_ORD_START = dt.datetime(1995, 1, 1)
_ORD_SPAN_DAYS = 2404


def _us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _write(table: pa.Table, path: str) -> int:
    # one row group: the fixture layout (a single unsplittable scan split)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return os.path.getsize(path)


def _events(rng, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, _EV_SPAN_S * 1_000_000, n)) + _us(_EV_START)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(8, 90, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _documents(rng, n: int) -> pa.Table:
    texts = _texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    # unit vectors scattered around N_LABELS random directions
    centers = rng.standard_normal((N_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n)
    X = centers[label] + 0.6 * rng.standard_normal((n, EMB_DIM)) / np.sqrt(EMB_DIM)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    X = X.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(X.ravel()), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _orders(rng, n: int, n_cust: int) -> pa.Table:
    days = rng.integers(0, _ORD_SPAN_DAYS, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(STATUS, n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(
            days.astype(np.int64) * 86_400_000_000 + _us(_ORD_START),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITY, n)),
    })


def generate(out_dir: str, seed: int, sizes: dict[str, int]) -> dict:
    """Write the seeded tables under ``out_dir``; return the input record.

    ``sizes`` holds row counts: ``events``, ``users``, ``documents``,
    ``embeddings``, ``orders`` and ``customers``. Each table gets its own
    child generator, so changing one size leaves the other tables'
    contents unchanged. Returns ``{"seed", "rows", "bytes"}``.
    """
    os.makedirs(out_dir, exist_ok=True)
    ss = np.random.SeedSequence(seed)
    r_ev, r_doc, r_emb, r_ord = (np.random.default_rng(s) for s in ss.spawn(4))
    tables = {
        "events": _events(r_ev, sizes["events"], sizes["users"]),
        "documents": _documents(r_doc, sizes["documents"]),
        "embeddings": _embeddings(r_emb, sizes["embeddings"]),
        "orders": _orders(r_ord, sizes["orders"], sizes["customers"]),
    }
    rec = {"seed": seed, "rows": {}, "bytes": {}}
    for name, tbl in tables.items():
        rec["rows"][name] = tbl.num_rows
        rec["bytes"][name] = _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(rec, f)
    return rec
