"""Seeded benchmark inputs.

* ``materialize_transcripts`` — the extraction input: the package's own
  synthetic transcripts (all 20 fixture classes, ~3% mega-conversations,
  ~1% future-dated turns), cut to an exact turn count and written to
  parquet so the timed jobs read a table, as in production.
* ``write_analytics_tables`` — the analytics input: the star-schema +
  documents + embeddings tables the ``__spark_entry__`` queries read,
  with the column types and value distributions of the fixed sf0.1
  testdata (random bags of a 30-word vocabulary, ~5% near-duplicate
  documents, 30 days of events, uniform order prices), generated here so
  that every input comes from ``--seed`` and stays inside the checkout.
"""

from __future__ import annotations

import os
import zlib
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# rows per table at scale 1.0 (the sf0.1 testdata sizes)
ROWS = {
    "documents": 5000,
    "events": 100_000,
    "orders": 150_000,
    "customer": 15_000,
    "embeddings": 2000,
}


# Conversation structure (ids, sizes, roles, timestamps) and the fixture
# class of every turn are the same for every seed; the run's seed picks
# the fixture instance, so the HTML and every output value change with it.
# Conversation sizes, hash placement and per-class document sizes decide
# how the work packs into tasks, so fixing them keeps timings comparable
# across seeds.
STRUCTURE_SEED = 42


def materialize_transcripts(spark, path: str, seed: int, n_turns: int, files: int):
    """Write ``n_turns`` synthetic turns as ``files`` parquet files and
    return the table as Spark reads it. Rows come from the package's
    transcript generator (``generate_conversation``, the function
    ``transcripts_df`` runs on the executors) at ``STRUCTURE_SEED``; each
    turn's text is ``make_fixture`` of a class fixed by the turn's
    position and an instance chosen by ``seed``."""
    from readability_scanner_spark.sources.fixtures import fixture_classes, make_fixture
    from readability_scanner_spark.sources.transcripts import generate_conversation

    rows, seq = [], 0
    while len(rows) < n_turns:
        rows.extend(generate_conversation(seq, STRUCTURE_SEED))
        seq += 1
    rows = rows[:n_turns]
    classes = fixture_classes()
    texts = [
        make_fixture(classes[zlib.crc32(f"{r['conv_id']}/{r['turn_idx']}".encode()) % len(classes)], seed * 1_000_003 + i)
        for i, r in enumerate(rows)
    ]
    table = pa.table(
        {
            "conv_id": pa.array([r["conv_id"] for r in rows]),
            "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
            "role": pa.array([r["role"] for r in rows]),
            "text": pa.array(texts),
            "tool": pa.array([r["tool"] for r in rows], pa.string()),
            "ts": pa.array([r["ts"] for r in rows], pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(path, exist_ok=True)
    per_file = -(-n_turns // files)
    for i in range(files):
        pq.write_table(table.slice(i * per_file, per_file), os.path.join(path, f"part-{i:05d}.parquet"))
    return spark.read.parquet(path)


def _write(path: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), path)


def _ts(days_from: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def write_analytics_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write documents, events, orders, customer and embeddings parquet
    files under ``out_dir`` (one row group each, like the testdata)."""
    rng = np.random.default_rng(seed)
    n = {name: max(50, int(rows * scale)) for name, rows in ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)

    n_docs = n["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n_docs)]
    near = rng.random(n_docs) < 0.05
    exact = ~near & (rng.random(n_docs) < 0.002)
    sources = rng.integers(0, n_docs, n_docs)
    for i in np.flatnonzero(near | exact):
        j = int(sources[i]) if sources[i] != i else (i + 1) % n_docs
        texts[i] = texts[j] + (" dup" if near[i] else "")
    _write(
        os.path.join(out_dir, "documents.parquet"),
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
    )

    n_ev = n["events"]
    _write(
        os.path.join(out_dir, "events.parquet"),
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts("2024-01-01", np.sort(rng.random(n_ev)) * 30 * 86400),
            "user_id": pa.array(rng.integers(0, max(2, n_ev // 66), n_ev, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
    )

    n_cust, n_ord = n["customer"], n["orders"]
    _write(
        os.path.join(out_dir, "customer.parquet"),
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        },
    )
    span_days = (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days
    _write(
        os.path.join(out_dir, "orders.parquet"),
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(("P", "O", "F"), n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, span_days + 1, n_ord) * 86400.0),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        },
    )

    n_emb, dim = n["embeddings"], 64
    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=2.0, size=(n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        os.path.join(out_dir, "embeddings.parquet"),
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        },
    )
