"""Full-text search (P9, SURVEY.md §2.1).

The reference uses Mongo's `$text` index with `textScore` relevance and
a regex fallback (news-scanner/api/routes/article_search_routes.py:52-113).
Spark has no built-in FTS index; this is the documented-weak mapping made
strong enough for parity: tokenized term matching with a match-count ×
term-frequency relevance score, fully JVM-side (regexp_count), ordered
deterministically. At 100 TB the same expressions run after partition
pruning; a real deployment would pair this with an external index, but
the semantics live here."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TOKEN = re.compile(r"[^\w\s]")

# THE word-character set (single source: functions/wordchars.py —
# re-exported here for the existing search API): _term_pattern's
# lookarounds exclude exactly these on both ends, WORD_RUN extracts
# runs of exactly these, and every DuckDB search oracle repeats the
# same class as '[\\p{L}\\p{N}_]+' (string literal there — keep them
# in sync; tests/test_search_unicode.py pins the equivalence).
from readability_scanner_spark.functions.wordchars import WORD_CHARS, WORD_RUN  # noqa: E402


def _terms(query: str) -> list[str]:
    return [t.lower() for t in _TOKEN.sub(" ", query or "").split() if t]


def _term_pattern(t: str) -> str:
    """Explicit unicode word-boundary: letter/digit/underscore
    lookarounds — the only boundary definition that is STABLE across
    engines (measured, tests/test_search_unicode.py): Java's \\b agrees
    on letter-adjacency ('\\bdata\\b' does not match inside 'data表')
    but diverges on No-category numerics (①, ²) and combining marks;
    RE2/DuckDB's \\b is ASCII-only and false-matches every non-ASCII
    adjacency. The DuckDB oracles therefore use token-run equality over
    '[\\p{{L}}\\p{{N}}_]+' runs, which equals this lookaround form by
    construction (same word-char set), pinned by the same test."""
    return rf"(?<![{WORD_CHARS}]){re.escape(t)}(?![{WORD_CHARS}])"


def _ranked(
    df: DataFrame,
    fields: dict[str, float],
    query: str,
    id_col: str,
    limit: int,
    contrib,
    value_col: str = "score",
) -> DataFrame:
    """THE core of the regexp search family. Binds lower(field) once
    per field and each (field, term) lookaround count once (r6: the
    formulas reference every count 2-3x and CollapseProject re-evaluates
    non-bound subtrees per reference — measured ~5x the necessary regex
    passes for the mongo score). ``contrib(cnt, weight, n_tokens)`` is a
    scorer's per-term contribution, folded fields outer / terms inner —
    the oracles' CASE order, so double sums match them bit for bit.
    ``value_col`` "relevance" keeps the long sum exact; "score" starts
    from 0.0 and rounds to 4 places. ``n_tokens`` is the field's
    word-run count on the RAW text (column pruning drops it for scorers
    that ignore it). The rank tail keeps value > 0 and orders value
    desc, id asc, top-``limit``."""
    terms = _terms(query)
    base = df.withColumns(
        {f"_ts_low_{i}": F.lower(F.col(c)) for i, c in enumerate(fields)}
    )
    counts = {}
    for i, col_name in enumerate(fields):
        counts[f"_ts_nt_{i}"] = F.size(
            F.regexp_extract_all(F.col(col_name), F.lit(WORD_RUN), 0)
        ).cast("double")
        for j, t in enumerate(terms):
            counts[f"_ts_c_{i}_{j}"] = F.regexp_count(
                F.col(f"_ts_low_{i}"), F.lit(_term_pattern(t))
            )
    base = base.withColumns(counts)
    exact = value_col == "relevance"
    score = F.lit(0).cast("long") if exact else F.lit(0.0)
    for i, weight in enumerate(fields.values()):
        for j in range(len(terms)):
            cnt = F.col(f"_ts_c_{i}_{j}")
            score = score + contrib(cnt, float(weight), F.col(f"_ts_nt_{i}"))
    return (
        base.withColumn(value_col, score if exact else F.round(score, 4))
        .where(F.col(value_col) > 0)
        .select(id_col, value_col)
        .orderBy(F.desc(value_col), F.asc(id_col))
        .limit(limit)
    )


def text_search(
    df: DataFrame, text_col: str, query: str, id_col: str, limit: int = 20
) -> DataFrame:
    """Search: ``relevance`` = sum of per-term occurrence counts
    (case-insensitive, word-bounded) — the textScore analog; $text ORs
    terms, so it is the plain sum. Relevance desc, id asc tie-break,
    top-k."""
    return _ranked(
        df,
        {text_col: 1.0},
        query,
        id_col,
        limit,
        lambda cnt, _w, _nt: cnt.cast("long"),
        value_col="relevance",
    )


def text_search_weighted(
    df: DataFrame, fields: dict[str, float], query: str, id_col: str, limit: int = 20
) -> DataFrame:
    """P9 with field weights + TF scaling (the textScore upgrade over
    text_search's raw match count). Mongo-$text-style relevance: per
    indexed FIELD with weight w, per query term with tf occurrences in
    that field, the contribution is w * (0.5 + 0.5 * tf / (tf + 1)) when
    tf > 0 — a saturating term-frequency curve with field weighting, the
    shape Mongo documents for textScore (exact constants are not a
    public contract; this is the documented approximation). Deliberately
    transcendental-free: only small-int arithmetic and one IEEE division
    per term, so the DuckDB oracle reproduces it bit-for-bit."""

    def contrib(cnt: Column, weight: float, _nt: Column) -> Column:
        tf = cnt.cast("double")
        return F.when(tf > 0, F.lit(weight) * (0.5 + 0.5 * tf / (tf + 1))).otherwise(0.0)

    return _ranked(df, fields, query, id_col, limit, contrib)


def text_search_mongo(
    df: DataFrame, fields: dict[str, float], query: str, id_col: str, limit: int = 20
) -> DataFrame:
    """P9 relevance ranking under MongoDB's EXACT textScore formula
    (article_search_routes.py:52-81 sorts on {$meta: "textScore"};
    open-source: mongo/src/mongo/db/fts/fts_spec.cpp,
    ``FTSSpec::_scoreStringV2``), not text_search_weighted's saturating
    approximation. Per (field with weight w, query term with ``count``
    occurrences among the field's ``numTokens`` word tokens):

        freq  = sum_{k=1..count} 1/2^(k-1)  =  2 - 2^(1-count)
        coeff = 0.5 * count / numTokens + 0.5
        contribution = w * freq * coeff

    and textScore = sum of contributions over query terms and indexed
    fields. Tokenization here is the engine's unicode word-run set with
    no stemming and no stopwords — exactly Mongo's behavior for
    ``default_language: "none"`` (stemming/stopwords are language
    processing Mongo also skips for 'none'); for stemmed languages the
    scores would diverge on inflected terms only. Expression shape is
    kept identical in the DuckDB oracle (same association order, one
    pow + one division per term) so the two engines agree bit-exact.

    numTokens counts runs on the RAW text: full-string case folding can
    mint or merge word runs differently per engine (İ U+0130 lowers to
    'i'+combining-mark in Java — TWO runs — but plain 'i' in DuckDB;
    the Kelvin sign U+212A folds to ASCII 'k'); run counts on the
    unfolded text agree everywhere."""

    def contrib(cnt: Column, weight: float, n_tokens: Column) -> Column:
        cnt = cnt.cast("double")
        freq = F.lit(2.0) - F.pow(F.lit(2.0), F.lit(1.0) - cnt)
        coeff = F.lit(0.5) * cnt / n_tokens + F.lit(0.5)
        # cnt > 0 implies n_tokens > 0, so the division in the taken
        # branch can never hit ANSI divide-by-zero
        return F.when(cnt > 0, F.lit(weight) * freq * coeff).otherwise(0.0)

    return _ranked(df, fields, query, id_col, limit, contrib)


def _token_array(text_col: str, extract_then_lower: bool):
    """THE tokenizer expression shared by every index builder — two
    builders with drifted copies would silently tokenize one corpus two
    ways. Lower-first matches the regexp search family; extract-then-
    lower keeps 1:N case folds (İ) from splitting runs on one engine
    only (see build_token_index)."""
    if extract_then_lower:
        return F.transform(
            F.regexp_extract_all(F.col(text_col), F.lit(WORD_RUN), 0),
            F.lower,
        )
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RUN), 0)


def _empty_result(index: DataFrame, value_col: str) -> DataFrame:
    """Empty frame for no-term queries: doc_id tracks the index's actual
    id type (string ids are legal) so the result unions with non-empty
    paths; the value column is long."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", index.schema["doc_id"].dataType),
            StructField(value_col, LongType()),
        ]
    )
    return index.sparkSession.createDataFrame([], schema)


def build_token_index(
    df: DataFrame, id_col: str, text_col: str, extract_then_lower: bool = False
) -> DataFrame:
    """Inverted token index: (token, doc_id, tf) — the scale path for
    P9. The regexp forms above re-scan the corpus per query (fine for
    ad-hoc filters, O(corpus) at 100 TB); a materialized index makes a
    query O(matching postings). Tokenization is the SAME unicode
    word-run definition the lookaround matchers use
    (`[\\p{L}\\p{N}_]+` on lowercased text), so index-backed search
    returns exactly the regexp search's results (pinned by
    tests/test_search_unicode.py).

    At scale: write with `.write.bucketBy(N, "token")` (or partition by
    a token hash prefix) so each query's term lookups prune to a few
    buckets; the index build is one explode + one aggregation, both
    map-side combinable. Pruning a bucketed read also needs
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``:
    at its default the planner drops the bucketed scan (and its
    pruning) when the query's aggregation shuffles on doc_id anyway.

    ``extract_then_lower`` tokenizes the RAW text and lowercases each
    token afterwards. Lower-FIRST (the default, matching the regexp
    search family) lets 1:N case folds split runs differently per
    engine — Spark lowers İ (U+0130) to ``i``+U+0307 (the combining
    mark breaks the word run) while DuckDB folds it to plain ``i`` —
    so per-document token TOTALS (BM25's dl/avgdl inputs) disagree on
    multilingual text. Raw-run extraction agrees everywhere; only the
    folded CONTENT of a token containing such a codepoint can still
    differ (it then carries the combining mark and can never collide
    with a pure-ASCII query term). BM25 uses this fold."""
    tok_arr = _token_array(text_col, extract_then_lower)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tok_arr).alias("token"),
    )
    return toks.groupBy("token", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    )


def search_token_index(index: DataFrame, query: str, limit: int = 20) -> DataFrame:
    """Query the inverted index: broadcast the (tiny) term list against
    the postings, sum tf per doc, top-k. Shuffles only the matching
    postings' partial sums — independent of corpus size."""
    # dedup repeated terms: Mongo's $text dedups terms too — without
    # this a query like "data data" double-counts through the join
    # (r5 review)
    terms = list(dict.fromkeys(_terms(query)))
    spark = index.sparkSession
    if not terms:
        return _empty_result(index, "relevance")
    tdf = spark.createDataFrame([(t,) for t in terms], "token string")
    return (
        index.join(F.broadcast(tdf), "token")
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("long").alias("relevance"))
        .orderBy(F.desc("relevance"), F.asc("doc_id"))
        .limit(limit)
    )


def build_positional_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Positional inverted index: ``(token, doc_id, positions)`` with
    the 0-based token offsets sorted ascending (collect_list order is
    partition-dependent; sort_array pins it) — what phrase and
    proximity queries need beyond :func:`build_token_index`'s tf.
    Same tokenizer, in its extract-then-lower fold (see
    build_token_index), same explode+aggregate build shape, same
    bucketBy(token) layout advice."""
    tok_arr = _token_array(text_col, extract_then_lower=True)
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(tok_arr).alias("pos", "token")
    )
    return toks.groupBy("token", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )


def _positions_pivot(index_pos: DataFrame, slot: dict[str, int]) -> DataFrame:
    """Shared phrase/proximity pivot: postings filtered to the query's
    distinct terms (IN literal — pushes to the scan and prunes a
    bucketBy(token) layout), one groupBy(doc_id) gathering each term's
    position array into ``p_<slot>``. Exactly one posting exists per
    (doc, token), so first+ignorenulls is deterministic."""
    return (
        index_pos.where(F.col("token").isin(*slot))
        .groupBy("doc_id")
        .agg(
            *[
                F.first(
                    F.when(F.col("token") == t, F.col("positions")),
                    ignorenulls=True,
                ).alias(f"p_{i}")
                for t, i in slot.items()
            ]
        )
    )


def _span_ends_result(per_doc: DataFrame, cand: Column, limit: int) -> DataFrame:
    """Shared phrase/proximity tail: count the surviving span-end
    positions, keep matching docs, rank deterministically."""
    occ = F.size(cand).cast("long")
    return (
        per_doc.select("doc_id", occ.alias("occurrences"))
        .where(F.col("occurrences") > 0)
        .orderBy(F.desc("occurrences"), F.asc("doc_id"))
        .limit(limit)
    )


def phrase_search(index_pos: DataFrame, phrase: str, limit: int = 20) -> DataFrame:
    """Exact-phrase query over the positional index: documents where
    the phrase's tokens occur CONSECUTIVELY, with the occurrence count
    (overlapping occurrences counted — 'data data' appears twice in
    'data data data'). ``(doc_id, occurrences)``, most occurrences
    first.

    Shape: the shared :func:`_positions_pivot` aggregate, then the
    phrase match is a pure array expression — fold left-to-right with
    ``array_intersect(transform(cand, +1), next_positions)``, so cand
    always holds the end positions of phrase prefixes. No joins beyond
    the one aggregation; a document missing any term yields NULL and is
    filtered. O(matching postings), like the other index queries."""
    terms = _terms(phrase)
    if not terms:
        return _empty_result(index_pos, "occurrences")
    slot = {t: i for i, t in enumerate(dict.fromkeys(terms))}
    per_doc = _positions_pivot(index_pos, slot)
    cand = F.col(f"p_{slot[terms[0]]}")
    for t in terms[1:]:
        cand = F.array_intersect(
            F.transform(cand, lambda x: x + F.lit(1)), F.col(f"p_{slot[t]}")
        )
    return _span_ends_result(per_doc, cand, limit)


def _bm25_score_expr(n_terms: int, k1: float, b: float) -> Column:
    """The Okapi score as a fixed-order expression over pivot columns
    ``tf_i``/``df_i`` + ``dl``/``n_docs``/``total_tokens`` for
    bm25_search — the term-by-term shape the DuckDB oracle mirrors."""
    n = F.col("n_docs").cast("double")
    dl = F.col("dl").cast("double")
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")

    def contrib(i: int) -> Column:
        tf = F.col(f"tf_{i}").cast("double")
        dfc = F.col(f"df_{i}").cast("double")
        idf = F.log(((n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))) + F.lit(1.0))
        sat = (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dl / avgdl))
        )
        return F.when(F.col(f"tf_{i}") > 0, idf * sat).otherwise(F.lit(0.0))

    score = contrib(0)
    for i in range(1, n_terms):
        score = score + contrib(i)
    return score


def near_search(
    index_pos: DataFrame, query: str, max_distance: int, limit: int = 20
) -> DataFrame:
    """Ordered proximity query over the positional index: documents
    where consecutive query terms appear at positions differing by at
    most ``max_distance`` — i.e. up to ``max_distance - 1`` intervening
    tokens; ``max_distance=1`` IS :func:`phrase_search`'s exact
    adjacency. Counts the distinct end positions of matching spans.

    Same prefix fold as phrase_search, with each step expanding the
    kept positions into their reachable windows:
    ``cand = array_intersect(flatten(transform(cand, c ->
    sequence(c+1, c+d))), p_next)``. The expansion references the
    previous fold OUTSIDE any lambda, so each step is evaluated once
    per row — a filter/exists formulation (the obvious alternative)
    embeds the whole prefix fold inside the next step's per-element
    lambda, and Spark re-evaluates it for EVERY element: measured
    O(prod |positions_i|), 65 s for one 800-token doc with 4x200
    occurrences (review find). This form is O(sum |positions_i| * d).
    Pure array expressions over the one pivot aggregate — no joins, no
    Python."""
    if max_distance < 1:
        raise ValueError("max_distance must be >= 1")
    terms = _terms(query)
    if not terms:
        return _empty_result(index_pos, "occurrences")
    slot = {t: i for i, t in enumerate(dict.fromkeys(terms))}
    per_doc = _positions_pivot(index_pos, slot)
    cand = F.col(f"p_{slot[terms[0]]}")
    for t in terms[1:]:
        # q survives iff exists kept c with 0 < q-c <= d, i.e. q is in
        # some window [c+1, c+d]; array_intersect dedups, keeping each
        # end position once (positions are distinct)
        cand = F.array_intersect(
            F.flatten(
                F.transform(
                    cand,
                    lambda c: F.sequence(c + F.lit(1), c + F.lit(max_distance)),
                )
            ),
            F.col(f"p_{slot[t]}"),
        )
    return _span_ends_result(per_doc, cand, limit)


def bm25_search(
    index: DataFrame,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 20,
) -> DataFrame:
    """BM25 ranking over the inverted index (Robertson & Spärck Jones;
    the Okapi formulation every production FTS engine ships) — the
    relevance-quality step past :func:`search_token_index`'s raw
    tf sum:

        idf(t)  = ln(((N - df + 0.5) / (df + 0.5)) + 1)
        score   = Σ_t idf(t) · tf·(k1+1) / (tf + k1·((1-b) + b·dl/avgdl))

    Plan shape (the first-cut join formulation re-executed the index
    lineage FOUR times — matched postings, per-term df, doc-length
    join, corpus stats; review find): query terms are literals, so ONE
    ``groupBy(doc_id)`` pivot computes dl and every per-term tf
    together, and the corpus stats (N, total_tokens, per-term df) are
    one further aggregate over that SAME pivot — two branches sharing
    an identical subplan, which the planner collapses to a single
    computation via ``ReusedExchange`` (plan-pinned in tests). The
    1-row stats cross-joins back as a broadcast; no other join exists.
    Output is ``(doc_id, score_q)`` quantized to integer micro-units
    (floor(score·1e6 + 0.5), the feat_q pattern): every float input is
    an exact integer aggregate and the contribution sum is a
    FIXED-ORDER expression over the terms (no aggregate summation-order
    wobble at all), so the only conceivable cross-engine difference is
    a 1-ulp ln(), far below the quantum. k1+1 / 1-b are computed HERE
    in python and the oracle interpolates repr() of the same doubles,
    so both engines parse identical bit patterns."""
    terms = list(dict.fromkeys(_terms(query)))
    if not terms:
        return _empty_result(index, "score_q")
    per_doc = index.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("dl"),
        *[
            F.sum(F.when(F.col("token") == t, F.col("tf")).otherwise(0))
            .cast("long")
            .alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("long").alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    score = _bm25_score_expr(len(terms), k1, b)
    any_match = F.col("tf_0") > 0
    for i in range(1, len(terms)):
        any_match = any_match | (F.col(f"tf_{i}") > 0)
    return (
        per_doc.where(any_match)
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("long").alias("score_q"),
        )
        .orderBy(F.desc("score_q"), F.asc("doc_id"))
        .limit(limit)
    )
