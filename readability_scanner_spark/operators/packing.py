"""Sequence packing for LLM training-data preparation.

Tokenized documents rarely fill a model's context window, so training
pipelines PACK several short documents into each fixed-length sequence
(with separators) before batching — otherwise most of every batch is
padding. This module implements deterministic **next-fit** packing:
within a shard, documents are visited in ascending id order and appended
to the current bin; a document that would overflow ``seq_len`` closes
the bin and starts the next one, and a bin that reaches ``seq_len``
exactly is closed too. A document longer than ``seq_len`` gets a bin of
its own (real pipelines then split it into ``ceil(t/seq_len)`` windows —
a trivial downstream ``explode`` of this operator's output).

Graft extension — no reference analog (pixelmixer/readability-scanner
stops at article extraction; this is the step that turns its output
into model-ready sequences).

Scale design: packing is inherently sequential WITHIN a bin stream but
embarrassingly parallel ACROSS shards, so the shard column is the unit
of parallelism — pick something content-deterministic like
``hash(doc_id) % N`` with N a few times the executor count. The
physical shape is ``repartition(shard) → sortWithinPartitions(shard,
id) → mapInPandas`` with the (bin, fill) state carried across Arrow
batches in the generator — ONE shuffle, and task memory is O(arrow
batch), NOT O(shard), so a shard may hold billions of rows without a
single task ever materializing it (the groupBy+applyInPandas
alternative would). The per-document work is a handful of int64 ops,
orders of magnitude cheaper than the tokenization that produced
``n_tokens``. Assignment depends only on the shard's own sorted
(id, n_tokens) sequence — NOT on partitioning or parallelism — which
keeps the output reproducible across cluster layouts (the same
auditability contract as operators/sampling.py). Duplicate ids within
a shard are tie-broken by n_tokens, so even then the output is a
deterministic function of the row multiset.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    id_col: str,
    ntok_col: str,
    shard_col: str,
    seq_len: int,
) -> DataFrame:
    """Next-fit packing of ``(shard, id, n_tokens)`` rows into
    fixed-capacity bins. Output one row per input document:
    ``shard, doc_id, n_tokens, bin_id, bin_offset`` (all long) —
    ``bin_id`` counts from 0 within each shard, ``bin_offset`` is the
    token position of the document inside its bin. NULL token counts
    pack as 0 (the document still gets a slot). Rows with a NULL id or
    shard are excluded — they have no position in any bin stream, and
    Arrow→pandas would otherwise cast their NaN to INT64_MIN silently
    (callers that must keep them assign a sentinel shard/id first)."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")

    prepared = (
        df.select(shard_col, id_col, ntok_col)
        .where(F.col(id_col).isNotNull() & F.col(shard_col).isNotNull())
        .repartition(F.col(shard_col))
        # n_tokens as the duplicate-id tie-break: the sort key is then a
        # pure function of the row multiset, never of arrival order
        .sortWithinPartitions(shard_col, id_col, ntok_col)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # (bin, fill) state rides the generator across Arrow batches —
        # a partition holds each of its shards contiguously, so a shard
        # change (or the first row) resets the fold
        cur_shard = None
        b = 0
        f = 0
        for pdf in batches:
            if pdf.empty:
                continue
            shards = pdf[shard_col].to_numpy("int64")
            ids = pdf[id_col].to_numpy("int64")
            toks = pdf[ntok_col].fillna(0).to_numpy("int64")
            bins = []
            offs = []
            for s, t in zip(shards.tolist(), toks.tolist()):
                if s != cur_shard:
                    cur_shard, b, f = s, 0, 0
                if f > 0 and f + t > seq_len:
                    b += 1
                    f = 0
                bins.append(b)
                offs.append(f)
                f += t
                if f >= seq_len:
                    b += 1
                    f = 0
            yield pd.DataFrame(
                {
                    "shard": shards,
                    "doc_id": ids,
                    "n_tokens": toks,
                    "bin_id": bins,
                    "bin_offset": offs,
                }
            )

    return prepared.mapInPandas(
        run,
        schema="shard long, doc_id long, n_tokens long, "
        "bin_id long, bin_offset long",
    )


def split_windows(packed: DataFrame, seq_len: int) -> DataFrame:
    """The downstream explode the packing docstring promises: each
    packed document becomes its ``ceil(n_tokens/seq_len)`` training
    windows (minimum one, so zero-token docs keep a row). In-bin
    documents get their single window; the oversize documents that
    next-fit parked alone in a bin fan out here. Pure JVM
    sequence+explode — no shuffle, no Python. Output adds
    ``window_idx`` (0-based) and ``window_len`` (= seq_len except the
    tail remainder). ``F.sequence`` infers a DESCENDING step when stop
    < start (sequence(0, -1) == [0, -1]), so the window count is
    floored at 1 rather than letting a 0-token doc emit a phantom
    negative window."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    # coalesce NULL n_tokens to 0 BEFORE the window math: Spark's
    # greatest/least skip NULL arguments, so a NULL-count row would
    # otherwise claim one full seq_len window (review find) instead of
    # one zero-length row
    toks = F.coalesce(F.col("n_tokens"), F.lit(0).cast("long"))
    n_win = F.greatest(F.ceil(toks / F.lit(seq_len)), F.lit(1))
    return packed.withColumn(
        "window_idx", F.explode(F.sequence(F.lit(0).cast("long"), n_win - 1))
    ).withColumn(
        "window_len",
        F.greatest(
            F.least(
                F.lit(seq_len).cast("long"),
                toks - F.col("window_idx") * F.lit(seq_len),
            ),
            F.lit(0).cast("long"),
        ),
    )
