"""Benchmark decontamination: n-gram overlap against an eval set.

The canonical pre-training hygiene op (GPT-3 appendix C / The Pile):
before training, drop or flag any document sharing a long-enough token
n-gram with a held-out benchmark, so eval numbers measure generalization
rather than memorization. The reference has no analog (graft extension,
same family as operators/dedup.py); semantics follow the published
recipe: tokenize, form all n-token shingles, and mark a document
contaminated if ANY shingle also occurs in the benchmark corpus.

Scale shape (the part that matters at 100 TB):

- The benchmark side is an EVAL SUITE — thousands of documents, at most
  a few million distinct n-grams. Hashed to 64-bit it broadcasts; the
  100-TB training side then joins map-side with NO shuffle of the
  corpus at all. ``.explain`` shows BroadcastHashJoin; pinned in
  tests/test_decontam.py.
- Document grams are de-duplicated per doc BEFORE the join (a doc
  repeating a benchmark phrase counts once), and the per-doc aggregate
  is a map-side-combinable count.
- Everything is JVM expressions (split/transform/slice/explode); no
  Python workers.

Determinism: grams join on their md5-low64 hash (sketches.md5_low64 ==
DuckDB ``md5_number_lower``), so the DuckDB oracle reproduces the exact
match set — collisions included, identically on both engines.

Tokenization is a plain single-space split (the same corpus-contract as
operators/sketches.cms_sketch): decontamination shingles care about
exact phrase reuse, so no case folding or unicode word segmentation is
applied — "The quick" and "the quick" are different 2-gram starts, as
in the published recipes which decontaminate on raw token sequences.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sketches import md5_low64


def ws_tokens_col(text_col: Column) -> Column:
    """Non-empty single-space tokens (split collapses nothing: repeated
    spaces yield empty strings, filtered here — identical to the oracle's
    list_filter(string_split(...))). NULL text coalesces to '' so a NULL
    row behaves exactly like an empty doc on BOTH engines (array_join of
    the empty result is '' in Spark; a NULL array would propagate NULL
    into reconstructed text while DuckDB oracles coalesce to '').

    Shared by the gram builders here and operators/dedup.py's
    duplicated-span family — the one expression that must stay
    byte-identical to the oracles' string_split contract."""
    return F.filter(F.split(F.coalesce(text_col, F.lit("")), " "), lambda t: t != "")


def ngrams_from_tokens(toks: Column, n: int | Column) -> Column:
    """All n-token shingles of a token-array column as space-joined
    strings; empty array when the doc has fewer than n tokens. ``n`` may
    be a per-row Column (dedup._grams_from_toks caps it at the doc's
    token count).

    ``toks`` MUST be a bound column (a projected alias), not a raw
    tokenize expression tree: Spark re-evaluates a lambda-captured
    subexpression PER ELEMENT, so passing the split+filter expression
    here re-tokenizes the whole document for every gram — measured
    O(n_tokens^2): 330 s vs 0.6 s on ONE 20k-token doc (r5 review).

    The ``when`` guard is load-bearing: Spark's ``sequence(1, m)`` with
    m < 1 infers a NEGATIVE step and yields a descending sequence (not
    empty), which would fabricate grams from slice() of short docs."""
    starts = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(starts, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def gram_hashes_from_tokens(toks: Column, n: int) -> Column:
    """DISTINCT md5-low64 hashes of a doc's n-token shingles (``toks``
    a bound token-array column — see ngrams_from_tokens). Dedup happens
    ON THE HASHES (after md5_low64), not on the gram strings: the
    DuckDB oracle dedups hashes too, so even a 64-bit collision between
    two distinct grams in one doc resolves identically on both engines
    (at ~10^10 grams the birthday bound makes collisions expected —
    string-side dedup would count such a pair as 2 here and 1 in the
    oracle)."""
    return F.array_distinct(
        F.transform(ngrams_from_tokens(toks, n), lambda g: md5_low64(g))
    )


def benchmark_gram_set(
    benchmark: DataFrame, text_col: str, n: int = 8
) -> DataFrame:
    """The distinct gram-hash set of the eval corpus — the broadcast
    side. One column ``gram_hash``; size is bounded by the benchmark,
    never by the training corpus. array_distinct runs BEFORE explode,
    so the fan-out never materializes a doc's repeated grams.

    explode_OUTER, not explode: plain explode makes Catalyst's
    InferFiltersFromGenerate clone the entire gram-hash expression into
    a ``size(...) > 0`` filter and push it below any upstream
    repartition — doubling the most expensive computation in the plan
    and running the first copy on the unspread scan task. explode_outer
    infers no such filter; short docs yield one NULL row, dropped by
    the cheap post-filter on the GENERATED column (which cannot be
    pushed below the generate).

    Tokens project into a bound ``_ts`` column first: the gram builder
    re-evaluates lambda-captured expressions per element, so inlining
    the tokenize expression is quadratic per doc (see
    ngrams_from_tokens). CollapseProject cannot re-inline it — ``_ts``
    is referenced several times and split+filter is not 'cheap' by
    Catalyst's rule."""
    return (
        benchmark.select(ws_tokens_col(F.col(text_col)).alias("_ts"))
        .select(
            F.explode_outer(gram_hashes_from_tokens(F.col("_ts"), n)).alias(
                "gram_hash"
            )
        )
        .where(F.col("gram_hash").isNotNull())
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-document contamination report against ``benchmark``:
    ``id, total_grams, hit_grams, hit_ratio`` for every doc with at
    least one shingle shared with the eval set (the drop/flag list).

    Plan: ONE tokenize+shingle pass over the corpus — the distinct
    gram-hash array is computed once per doc, its size carried through
    the explode as ``total_grams`` (functionally dependent on the id,
    so it rides the groupBy key; no second scan, no totals join) ->
    inner join against the BROADCAST benchmark gram set -> per-doc
    count. hit_ratio is the unrounded double quotient
    (expression-shape identical to the oracle's)."""
    bench = benchmark_gram_set(benchmark, text_col, n)
    # explode_outer: see benchmark_gram_set — plain explode would let
    # Catalyst clone the gram-hash expression into a pushed-down
    # size()>0 filter, computing it twice (once below the spread
    # repartition). The NULL row a gram-less doc emits can never match
    # the inner join.
    grams = docs.select(
        F.col(id_col), ws_tokens_col(F.col(text_col)).alias("_ts")
    ).select(
        F.col(id_col), gram_hashes_from_tokens(F.col("_ts"), n).alias("_grams")
    ).select(
        id_col,
        F.size("_grams").cast("long").alias("total_grams"),
        F.explode_outer("_grams").alias("gram_hash"),
    )
    return (
        grams.join(F.broadcast(bench), "gram_hash")
        .groupBy(id_col, "total_grams")
        .agg(F.count("*").cast("long").alias("hit_grams"))
        .select(
            id_col,
            "total_grams",
            "hit_grams",
            (
                F.col("hit_grams").cast("double")
                / F.col("total_grams").cast("double")
            ).alias("hit_ratio"),
        )
        .orderBy(F.desc("hit_grams"), F.asc(id_col))
    )
