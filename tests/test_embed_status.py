"""V1 embedding seam + status-machine + weighted text search tests."""

import numpy as np
from pyspark.sql import functions as F

from readability_scanner_spark.operators import statusflow
from readability_scanner_spark.operators.embeddings import embed_documents, stub_predict_fn
from readability_scanner_spark.operators.search import text_search_weighted


def test_embed_seam_deterministic_and_unit_norm(spark):
    df = spark.createDataFrame(
        [(1, "alpha", "some content here"), (2, "beta", "other content"), (3, "alpha", "some content here")],
        "doc_id long, source string, text string",
    )
    out = {r.doc_id: r.embedding for r in embed_documents(df, "doc_id", "source", "text", dim=16).collect()}
    assert all(len(v) == 16 for v in out.values())
    assert out[1] == out[3]  # same prep text → same stub vector
    assert out[1] != out[2]
    assert abs(float(np.linalg.norm(out[1])) - 1.0) < 1e-5
    # repartitioning must not change values (per-worker model load, pure fn)
    out2 = {r.doc_id: r.embedding for r in embed_documents(df.repartition(3), "doc_id", "source", "text", dim=16).collect()}
    assert out == out2


def test_embed_seam_accepts_custom_model(spark):
    """The predict_batch_udf contract: a user-supplied factory returning
    fn(np.ndarray)->np.ndarray plugs in without touching the flow."""

    def factory():
        def predict(texts: np.ndarray) -> np.ndarray:
            return np.array([[float(len(str(t))), 1.0] for t in texts], dtype=np.float32)

        return predict

    df = spark.createDataFrame([(1, "ab", "cd")], "doc_id long, source string, text string")
    row = embed_documents(df, "doc_id", "source", "text", make_predict_fn=factory, dim=2).first()
    assert row.embedding == [5.0, 1.0]  # "ab cd" → len 5


def test_embed_seam_real_model_file_from_disk(spark, tmp_path):
    """The production shape of V1 (vector_service.py:24-103 analog): the
    model lives in a FILE, the factory loads it worker-side (once per
    python worker, not per row/batch), and encoding is a real numpy
    computation over the loaded weights. Checks batch-size invariance —
    batch_size=3 and 64 must produce identical vectors — and partition
    invariance."""
    rng = np.random.RandomState(0)
    model_path = str(tmp_path / "tiny_encoder.npz")
    np.savez(model_path, W=rng.standard_normal((256, 8)).astype(np.float32))

    def factory():  # runs on the worker: load weights from disk ONCE
        W = np.load(model_path)["W"]

        def predict(texts: np.ndarray) -> np.ndarray:
            out = np.zeros((len(texts), W.shape[1]), dtype=np.float32)
            for i, t in enumerate(texts):
                hist = np.bincount(
                    np.frombuffer(str(t).encode("utf-8"), dtype=np.uint8), minlength=256
                ).astype(np.float32)
                v = hist @ W
                out[i] = v / (np.linalg.norm(v) or 1.0)
            return out

        return predict

    df = spark.createDataFrame(
        [(i, f"title {i}", f"content body number {i} " * (i + 1)) for i in range(17)],
        "doc_id long, source string, text string",
    )
    small = {
        r.doc_id: r.embedding
        for r in embed_documents(
            df, "doc_id", "source", "text", make_predict_fn=factory, dim=8, batch_size=3
        ).collect()
    }
    big = {
        r.doc_id: r.embedding
        for r in embed_documents(
            df.repartition(4), "doc_id", "source", "text",
            make_predict_fn=factory, dim=8, batch_size=64,
        ).collect()
    }
    assert small == big  # batch size + partitioning are invisible to values
    assert all(len(v) == 8 for v in small.values())
    assert abs(float(np.linalg.norm(small[0])) - 1.0) < 1e-5


def test_embed_seam_sentence_transformers_if_available(spark):
    """Plugs an ACTUAL sentence-transformers encoder through the same
    seam when the library exists; self-skips cleanly otherwise (no model
    libraries ship in this container)."""
    import pytest

    st = pytest.importorskip("sentence_transformers")

    def factory():
        model = st.SentenceTransformer("all-MiniLM-L6-v2")
        return lambda texts: model.encode([str(t) for t in texts])

    df = spark.createDataFrame([(1, "hello", "world")], "doc_id long, source string, text string")
    row = embed_documents(df, "doc_id", "source", "text", make_predict_fn=factory, dim=384).first()
    assert len(row.embedding) == 384


def test_stub_predict_batch_shape():
    fn = stub_predict_fn(dim=8)
    out = fn(np.array(["a", "b", "a"]))
    assert out.shape == (3, 8)
    assert (out[0] == out[2]).all() and not (out[0] == out[1]).all()


def test_status_lifecycle(spark):
    df = spark.createDataFrame(
        [(i, "pending" if i < 6 else "completed", i * 100) for i in range(10)],
        "k long, status string, ts long",
    )
    claimed = statusflow.claim_batch(df, "k", "status", 3)
    got = {r.k: r.status for r in claimed.collect()}
    assert [got[i] for i in range(6)] == ["processing"] * 3 + ["pending"] * 3
    done = statusflow.transition(claimed, "status", "processing", "completed", F.col("k") < 2)
    got = {r.k: r.status for r in done.collect()}
    assert got[0] == got[1] == "completed" and got[2] == "processing"
    requeued = statusflow.requeue_stale(done, "status", "ts", 1000)
    got = {r.k: r.status for r in requeued.collect()}
    assert got[2] == "pending"  # ts 200 < cutoff → back to pending
    counts = {r.status: r.cnt for r in statusflow.status_counts(requeued, "status").collect()}
    assert counts == {"completed": 6, "pending": 4}


def test_weighted_search_field_weights_dominate(spark):
    df = spark.createDataFrame(
        [
            (1, "data", "nothing relevant at all"),
            (2, "misc", "data data data data data everywhere in the body data"),
            (3, "misc", "nothing"),
        ],
        "doc_id long, source string, text string",
    )
    out = [r.doc_id for r in text_search_weighted(df, {"source": 5.0, "text": 1.0}, "data", "doc_id").collect()]
    # one title hit (5 * 0.75 = 3.75) outranks many body hits (1 * <1.0)
    assert out == [1, 2]


def test_pii_redaction_and_hits(spark):
    from readability_scanner_spark.operators.textquality import pii_hits_col, redact_pii_col

    df = spark.createDataFrame(
        [
            (1, "contact john.doe+spam@example.co.uk or call 555-123-4567 from 10.0.0.1"),
            (2, "clean text with numbers 12345 and a date 2024-01-01 but no pii"),
        ],
        "id long, text string",
    )
    out = {
        r.id: (r.red, r.hits)
        for r in df.select(
            "id",
            redact_pii_col(F.col("text")).alias("red"),
            pii_hits_col(F.col("text")).alias("hits"),
        ).collect()
    }
    assert out[1][0] == "contact [EMAIL] or call [PHONE] from [IP]"
    assert out[1][1] == 3
    # no false positives: plain numbers and ISO dates survive
    assert out[2] == ("clean text with numbers 12345 and a date 2024-01-01 but no pii", 0)


def test_repetition_signals(spark):
    from readability_scanner_spark.operators.textquality import with_repetition_signals

    df = spark.createDataFrame(
        [
            (1, "buy now " * 50),                       # pathological repetition
            (2, "each word here is completely unique today friend"),
        ],
        "id long, text string",
    )
    out = {
        r.id: (r.dup_word_frac, r.top_bigram_frac)
        for r in with_repetition_signals(df, "text").collect()
    }
    assert out[1][0] > 0.9 and out[1][1] > 0.4   # "now buy"/"buy now" dominate
    assert out[2][0] == 0.0 and out[2][1] < 0.2


def test_claim_batch_deterministic_replay(spark):
    """A killed enricher re-claims the SAME rows: claim is ordered by key,
    so replaying claim_batch on the same table state is deterministic."""
    from readability_scanner_spark.operators.statusflow import claim_batch

    df = spark.createDataFrame(
        [(i, "pending") for i in range(100)], "k long, status string"
    ).repartition(7)
    a = sorted(r.k for r in claim_batch(df, "k", "status", 10).where("status = 'processing'").collect())
    b = sorted(r.k for r in claim_batch(df, "k", "status", 10).where("status = 'processing'").collect())
    assert a == b == list(range(10))
