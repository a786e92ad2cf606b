"""Sequence packing (operators/packing.py): next-fit semantics pinned by
hand, partitioning invariance (the auditability contract), and the
bin-capacity / offset-cumsum invariants on a generated corpus."""

import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.operators.packing import (
    pack_sequences,
    split_windows,
)


def _pack(spark, rows, seq_len, n_partitions=None):
    df = spark.createDataFrame(rows, "shard long, doc_id long, n_tokens long")
    if n_partitions:
        df = df.repartition(n_partitions)
    out = pack_sequences(df, "doc_id", "n_tokens", "shard", seq_len)
    return {r["doc_id"]: (r["bin_id"], r["bin_offset"]) for r in out.collect()}


def test_next_fit_hand_pinned(spark):
    """Every branch of the fold: fits (doc 2), overflow closes bin
    (doc 3), oversize doc overflows in AND closes out (doc 4), exact
    fill closes out (doc 6 at 3+11>=10... doc 6 is oversize too), and
    a post-close doc starts fresh (docs 5, 7)."""
    rows = [(0, i + 1, t) for i, t in enumerate([4, 4, 4, 10, 3, 11, 2])]
    got = _pack(spark, rows, seq_len=10)
    assert got == {
        1: (0, 0),
        2: (0, 4),
        3: (1, 0),
        4: (2, 0),  # 4+10>10 closes bin 1; 10>=10 closes bin 2 behind it
        5: (3, 0),
        6: (4, 0),  # 3+11>10 closes bin 3; oversize occupies bin 4 alone
        7: (5, 0),
    }


def test_zero_and_null_tokens_pack_in_place(spark):
    rows = [(0, 1, 5), (0, 2, 0), (0, 3, None), (0, 4, 5)]
    got = _pack(spark, rows, seq_len=10)
    # zero/NULL-token docs occupy a slot at the current offset without
    # advancing it; doc 4 then fills the bin exactly (5+5 >= 10)
    assert got == {1: (0, 0), 2: (0, 5), 3: (0, 5), 4: (0, 5)}


def test_assignment_invariant_under_partitioning(spark):
    rows = [
        (d % 5, d, (d * 2654435761) % 300)
        for d in range(200)
    ]
    base = _pack(spark, rows, seq_len=512)
    for n in (1, 7, 32):
        assert _pack(spark, rows, seq_len=512, n_partitions=n) == base


def test_bin_invariants_hold(spark):
    """Per (shard, bin): token sum <= seq_len unless the bin holds a
    single oversize doc; offsets are the exclusive prefix sums of the
    bin's docs in id order; bin ids are contiguous from 0."""
    seq_len = 100
    rows = [
        (d % 3, d, (d * 48271) % 140)  # some docs exceed seq_len
        for d in range(150)
    ]
    df = spark.createDataFrame(rows, "shard long, doc_id long, n_tokens long")
    out = pack_sequences(df, "doc_id", "n_tokens", "shard", seq_len).collect()
    by_bin = {}
    for r in out:
        by_bin.setdefault((r["shard"], r["bin_id"]), []).append(r)
    for (_, _), docs in by_bin.items():
        docs.sort(key=lambda r: r["doc_id"])
        run = 0
        for r in docs:
            assert r["bin_offset"] == run
            run += r["n_tokens"]
        assert run <= seq_len or (len(docs) == 1 and docs[0]["n_tokens"] > seq_len)
    for shard in {s for s, _ in by_bin}:
        bins = sorted(b for s, b in by_bin if s == shard)
        assert bins == list(range(len(bins)))


def test_null_id_or_shard_rows_excluded(spark):
    """Arrow→pandas would cast a NULL id/shard's NaN to INT64_MIN
    silently; the operator excludes such rows instead (documented)."""
    rows = [(0, 1, 5), (None, 2, 5), (0, None, 5)]
    df = spark.createDataFrame(rows, "shard long, doc_id long, n_tokens long")
    out = pack_sequences(df, "doc_id", "n_tokens", "shard", 10).collect()
    assert [(r["shard"], r["doc_id"]) for r in out] == [(0, 1)]


def test_duplicate_ids_tiebreak_deterministically(spark):
    """Duplicate ids sort by n_tokens on both engines, so the output is
    a pure function of the row multiset even then."""
    rows = [(0, 1, 7), (0, 1, 2), (0, 2, 3)]
    # sorted (id, t): (1,2) -> bin0@0, f=2; (1,7) -> 2+7<=10 bin0@2, f=9;
    # (2,3) -> 9+3>10 closes -> bin1@0
    expect = {(0, 1, 2, 0, 0), (0, 1, 7, 0, 2), (0, 2, 3, 1, 0)}
    for n in (1, 3):
        df = spark.createDataFrame(
            rows, "shard long, doc_id long, n_tokens long"
        ).repartition(n)
        out = pack_sequences(df, "doc_id", "n_tokens", "shard", 10).collect()
        got = {
            (r["shard"], r["doc_id"], r["n_tokens"], r["bin_id"], r["bin_offset"])
            for r in out
        }
        assert got == expect


def test_state_survives_arrow_batch_boundaries(spark):
    """The (bin, fill) fold rides the mapInPandas generator across
    batches: with maxRecordsPerBatch=7 a 100-row shard spans many Arrow
    batches and must pack identically to the single-batch run."""
    rows = [(d % 2, d, 3 + d % 5) for d in range(100)]
    df = spark.createDataFrame(rows, "shard long, doc_id long, n_tokens long")
    base = {
        r["doc_id"]: (r["bin_id"], r["bin_offset"])
        for r in pack_sequences(df, "doc_id", "n_tokens", "shard", 37).collect()
    }
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        tiny = {
            r["doc_id"]: (r["bin_id"], r["bin_offset"])
            for r in pack_sequences(df, "doc_id", "n_tokens", "shard", 37).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert tiny == base


def test_split_windows(spark):
    """Oversize doc fans out into ceil(t/L) windows (tail remainder
    short); in-bin docs get one window; zero-token docs keep one
    zero-length row (no phantom descending-sequence window)."""
    rows = [(0, 1, 25), (0, 2, 7), (0, 3, 0), (0, 4, 10)]
    df = spark.createDataFrame(rows, "shard long, doc_id long, n_tokens long")
    packed = pack_sequences(df, "doc_id", "n_tokens", "shard", 10)
    out = split_windows(packed, 10).collect()
    wins = {}
    for r in out:
        wins.setdefault(r["doc_id"], []).append((r["window_idx"], r["window_len"]))
    for v in wins.values():
        v.sort()
    assert wins == {
        1: [(0, 10), (1, 10), (2, 5)],
        2: [(0, 7)],
        3: [(0, 0)],
        4: [(0, 10)],
    }
    # token conservation: window lengths re-sum to each doc's n_tokens
    for doc_id, v in wins.items():
        t = {1: 25, 2: 7, 3: 0, 4: 10}[doc_id]
        assert sum(w for _, w in v) == t


def test_split_windows_null_tokens_zero_length(spark):
    """Spark greatest/least SKIP NULL args, so a NULL n_tokens row used
    to claim one full seq_len window; it must get one zero-length row."""
    df = spark.createDataFrame(
        [(0, 1, None), (0, 2, 5)], "shard long, doc_id long, n_tokens long"
    )
    out = {
        r["doc_id"]: (r["window_idx"], r["window_len"])
        for r in split_windows(df, 10).collect()
    }
    assert out == {1: (0, 0), 2: (0, 5)}


def test_rejects_nonpositive_seq_len(spark):
    df = spark.createDataFrame([(0, 1, 1)], "shard long, doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="seq_len"):
        pack_sequences(df, "doc_id", "n_tokens", "shard", 0)
    with pytest.raises(ValueError, match="seq_len"):
        split_windows(df, -1)
