"""Adversarial proof that the FTS term matching and its DuckDB oracle
form agree on NON-ASCII-adjacent terms (VERDICT r3 follow-up).

Measured ground truth (r4, probed in both engines): there are THREE
different word-char sets behind `\\b`:
  * RE2/DuckDB `\\b` — ASCII-only: false-matches inside 'data表'.
  * Java `\\b` — unicode-LETTER-aware (no match inside 'data表') but
    EXCLUDES No-category numerics ('data①', 'data²' match) and treats
    combining marks as word-continuation.
  * search.py's lookarounds `(?<![\\p{L}\\p{N}_])…(?![\\p{L}\\p{N}_])`
    — exactly the \\p{L}\\p{N}_ set on both ends.
Only the lookaround form has a DuckDB twin with the IDENTICAL word-char
set: token-run equality over `[\\p{L}\\p{N}_]+` runs. This test pins
that pairwise equivalence (the one correctness depends on) on a corpus
built to break it — CJK, accents, No-category digits, combining marks —
and documents where each engine's native \\b falls off.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.operators.search import (
    text_search,
    text_search_mongo,
    text_search_weighted,
)

# every way 'data' can abut something: real matches (punctuation/space
# boundaries), non-matches (letter/digit/underscore/CJK/accent joins)
CORPUS = [
    (0, "data table query"),                 # 3 plain hits
    (1, "data表 holds the 表data ledger"),    # CJK-joined: NO 'data' hit
    (2, "the data 表 and more data."),        # CJK-separated: 2 hits
    (3, "café data naïve-data data_x"),      # accent-sep: 2 hits, _x join: no
    (4, "DATA, Data; (data)"),               # case + punctuation: 3 hits
    (5, "database datatable metadata"),      # substrings only: 0 hits
    (6, "data1 2data data 3"),               # digit-joined: 1 hit
    (7, "таблица data данные"),              # cyrillic-separated: 1 hit
    (8, "数据 data 表 query データ"),          # CJK corpus, spaced: 2 hits
    (9, ""),                                  # empty row
]

TERMS = ["data", "table", "query"]

_TOKEN_COUNT = (
    "len(list_filter(regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}_]+'),"
    " x -> x = '{t}'))"
)


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def _relevance(df, term: str) -> dict[int, int]:
    """Per-row lookaround match counts read off text_search's ranking;
    a row the ranking leaves out (no hit) reads as 0."""
    ids = [r["doc_id"] for r in df.select("doc_id").collect()]
    got = {
        r["doc_id"]: r["relevance"]
        for r in text_search(df, "text", term, "doc_id", limit=len(ids)).collect()
    }
    return {i: got.get(i, 0) for i in ids}


def _duck_counts(term: str) -> dict[int, int]:
    rows = duckdb.sql(
        "SELECT doc_id, " + _TOKEN_COUNT.format(t=term) + " AS c FROM corpus",
        params=None,
        connection=_conn(),
    ).fetchall()
    return {r[0]: r[1] for r in rows}


_CONN = None


def _conn():
    global _CONN
    if _CONN is None:
        _CONN = duckdb.connect()
        _CONN.execute("CREATE TABLE corpus (doc_id BIGINT, text VARCHAR)")
        _CONN.executemany("INSERT INTO corpus VALUES (?, ?)", CORPUS)
    return _CONN


def test_lookaround_equals_token_runs_per_term(spark, corpus_df):
    """Spark lookaround counts == DuckDB token-run counts, row by row,
    for every term — on the corpus built to expose \\b-style divergence."""
    for term in TERMS:
        assert _relevance(corpus_df, term) == _duck_counts(term), term


def test_expected_hit_pattern_hand_checked(spark, corpus_df):
    """Pin the hand-derived per-row 'data' counts so BOTH engines are
    checked against human intent, not just each other."""
    expected = {0: 1, 1: 0, 2: 2, 3: 2, 4: 3, 5: 0, 6: 1, 7: 1, 8: 1, 9: 0}
    assert _relevance(corpus_df, "data") == expected


def test_engine_boundary_semantics_pinned(spark, corpus_df):
    """Pin each engine's \\b flavor on the letter-adjacency corpus:
    Java \\b == the lookaround form HERE (it is unicode-letter-aware),
    while RE2 \\b is ASCII-only (2 false hits on the CJK-joined row) —
    why no oracle may use RE2 \\b for word-bounded terms."""
    java_b = {
        r["doc_id"]: r["c"]
        for r in corpus_df.select(
            "doc_id",
            F.regexp_count(F.lower(F.col("text")), F.lit(r"\bdata\b")).alias("c"),
        ).collect()
    }
    look = _relevance(corpus_df, "data")
    assert java_b == look  # agreement holds for LETTER adjacency...
    assert look[1] == 0  # 'data表'/'表data' are joins, not matches
    re2_b = {
        r[0]: r[1]
        for r in _conn()
        .execute(
            "SELECT doc_id, len(regexp_extract_all(lower(text), '\\bdata\\b'))"
            " FROM corpus"
        )
        .fetchall()
    }
    assert re2_b[1] == 2  # RE2's ASCII \b false-matches both CJK joins


def test_java_b_diverges_on_no_category_and_combining_marks(spark):
    """...but Java \\b is NOT a safe stand-in either: No-category
    numerics and combining marks split the engines three ways, and ONLY
    lookaround == token-run survives. This is why every word-bounded
    Spark-side expression uses the explicit lookarounds."""
    # row 2 is the DECOMPOSED form 'data' + U+0301 + 'y' (a precomposed
    # \u00e1 would not contain the substring 'data' at all)
    rows = [(0, "data\u2460"), (1, "data\u00b2 x"), (2, "data\u0301y"), (3, "data ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    java_b = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", F.regexp_count("text", F.lit(r"\bdata\b")).alias("c")
        ).collect()
    }
    look = _relevance(df, "data")
    # Java \b: ①/² are not word chars to it -> false boundary matches;
    # combining mark U+0301 IS word-continuation to it -> missed match
    assert java_b == {0: 1, 1: 1, 2: 0, 3: 1}
    assert look == {0: 0, 1: 0, 2: 1, 3: 1}
    conn = duckdb.connect()
    conn.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    conn.executemany("INSERT INTO d VALUES (?, ?)", rows)
    tok = {
        r[0]: r[1]
        for r in conn.execute(
            "SELECT doc_id, len(list_filter(regexp_extract_all(lower(text),"
            " '[\\p{L}\\p{N}_]+'), x -> x = 'data')) FROM d"
        ).fetchall()
    }
    assert tok == look  # the oracle pair agrees on every edge


def test_text_search_end_to_end_vs_duckdb(spark, corpus_df):
    """Full text_search ranking vs the oracle-shaped DuckDB query —
    same rows, same relevance, same order."""
    got = [
        (r["doc_id"], r["relevance"])
        for r in text_search(corpus_df, "text", "data query", "doc_id", limit=10)
        .collect()
    ]
    want = _conn().execute(
        """
        SELECT doc_id, relevance FROM (
          SELECT doc_id,
                 """
        + _TOKEN_COUNT.format(t="data")
        + " + "
        + _TOKEN_COUNT.format(t="query")
        + """ AS relevance
          FROM corpus
        ) WHERE relevance > 0
        ORDER BY relevance DESC, doc_id ASC LIMIT 10
        """
    ).fetchall()
    assert got == [(d, c) for d, c in want]


# contrib_sql: a scorer's per-(field, term) contribution written the
# way its DuckDB oracle writes it: w = field weight, c = term count,
# n = the field's word-run count on the RAW text
@pytest.mark.parametrize(
    "scorer, contrib_sql",
    [
        (
            text_search_weighted,
            "CASE WHEN {c} > 0 THEN {w} * (0.5 + 0.5 * {c} / ({c} + 1)) ELSE 0 END",
        ),
        (
            text_search_mongo,
            "CASE WHEN {c} > 0 THEN ({w} * (2.0 - power(2.0, 1.0 - {c})))"
            " * (0.5 * {c} / {n} + 0.5) ELSE 0 END",
        ),
    ],
    ids=["weighted", "mongo"],
)
def test_weighted_score_unicode_corpus(spark, scorer, contrib_sql):
    """text_search_scored's and text_search_mongo_score's rankings on a
    two-field frame with CJK-adjacent terms: Spark vs the oracles'
    CASE/token-run recompute (same fold order: fields outer, terms
    inner). Row 3 carries İ (U+0130) and the Kelvin sign (U+212A), whose
    case folds mint word runs differently per engine — numTokens must
    count runs on the raw text to agree."""
    rows = [
        (0, "data表 query", "data query data"),
        (1, "query data", "表data"),
        (2, "nothing here", "метаdata"),
        (3, "İstanbul data", "\u212aelvin query data query"),
    ]
    fields = {"source": 5.0, "text": 1.0}
    terms = ["data", "query"]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = [
        (r["doc_id"], r["score"])
        for r in scorer(df, fields, "data query", "doc_id", limit=10).collect()
    ]
    conn = duckdb.connect()
    conn.execute("CREATE TABLE d (doc_id BIGINT, source VARCHAR, text VARCHAR)")
    conn.executemany("INSERT INTO d VALUES (?, ?, ?)", rows)
    runs = "regexp_extract_all({col}, '[\\p{{L}}\\p{{N}}_]+')"
    tf = [f"len({runs.format(col=col)})::DOUBLE AS {col}_n" for col in fields] + [
        f"len(list_filter({runs.format(col=f'lower({col})')}, x -> x = '{t}'))"
        f"::DOUBLE AS {col}_{t}"
        for col in fields
        for t in terms
    ]
    score = " + ".join(
        f"({contrib_sql.format(w=w, c=f'{col}_{t}', n=f'{col}_n')})"
        for col, w in fields.items()
        for t in terms
    )
    want = conn.execute(
        f"""
        WITH tf AS (SELECT doc_id, {', '.join(tf)} FROM d)
        SELECT doc_id, score FROM (
          SELECT doc_id, round({score}, 4) AS score FROM tf
        ) WHERE score > 0
        ORDER BY score DESC, doc_id ASC
        """
    ).fetchall()
    assert got == want
    assert {d for d, _ in got} == {0, 1, 3}


def test_token_index_equals_regexp_search(spark, corpus_df):
    """The inverted-index path (build_token_index + search_token_index)
    must return EXACTLY the regexp search's results — same tokenizer
    definition, same relevance, same ordering — including on the
    CJK/accent-adjacent corpus."""
    from readability_scanner_spark.operators.search import (
        build_token_index,
        search_token_index,
        text_search,
    )

    idx = build_token_index(corpus_df, "doc_id", "text")
    for query in ("data query", "data table query", "表", "nothing matching"):
        via_index = [
            (r["doc_id"], r["relevance"])
            for r in search_token_index(idx, query, limit=10).collect()
        ]
        via_regexp = [
            (r["doc_id"], r["relevance"])
            for r in text_search(corpus_df, "text", query, "doc_id", limit=10).collect()
        ]
        assert via_index == via_regexp, query


def test_token_index_empty_query_tracks_id_type(spark):
    """Empty/no-word-char queries return an empty frame whose doc_id
    type matches the index (string ids are legal) — unionable with the
    non-empty path (r4 review)."""
    from readability_scanner_spark.operators.search import (
        build_token_index,
        search_token_index,
    )

    df = spark.createDataFrame([("u1", "data here")], "url string, text string")
    idx = build_token_index(df, "url", "text")
    empty = search_token_index(idx, "!!!")
    assert empty.count() == 0
    assert empty.schema["doc_id"].dataType.simpleString() == "string"
    full = search_token_index(idx, "data")
    empty.unionByName(full).collect()  # must not raise a type mismatch


def test_bm25_matches_independent_python_recompute(spark, corpus_df):
    """bm25_search vs a from-scratch python BM25 on the adversarial
    corpus (extract-then-lower tokenizer twin in python): exact
    quantized scores, rank order, and the rare-term > common-term
    property."""
    import math
    import re

    from readability_scanner_spark.operators.search import (
        bm25_search,
        build_token_index,
    )

    rows = {r["doc_id"]: r["text"] for r in corpus_df.collect()}
    tok = re.compile(r"\w+")  # CPython \w+ == WORD_RUN (module sweep)
    postings = {}
    dl = {}
    for d, text in rows.items():
        toks = [t.lower() for t in tok.findall(text)]
        if not toks:
            continue  # N counts docs IN THE INDEX (sum(tf) per doc)
        dl[d] = len(toks)
        for t in toks:
            postings.setdefault(t, {}).setdefault(d, 0)
            postings[t][d] += 1
    n = len(dl)
    avgdl = sum(dl.values()) / n
    k1, b = 1.2, 0.75

    def score(d, terms):
        s = 0.0
        for t in dict.fromkeys(terms):
            if t not in postings or d not in postings[t]:
                continue
            df_t = len(postings[t])
            idf = math.log(((n - df_t + 0.5) / (df_t + 0.5)) + 1.0)
            tf = postings[t][d]
            s += idf * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * (dl[d] / avgdl))))
        return math.floor(s * 1e6 + 0.5)

    idx = build_token_index(corpus_df, "doc_id", "text", extract_then_lower=True)
    for query in ("data query", "data table query", "表"):
        got = [
            (r["doc_id"], r["score_q"])
            for r in bm25_search(idx, query, limit=20).collect()
        ]
        terms = re.findall(r"\w+", query.lower())
        want = sorted(
            ((d, score(d, terms)) for d in dl if score(d, terms) > 0),
            key=lambda x: (-x[1], x[0]),
        )
        assert got == want, query


def test_bm25_rare_term_outweighs_common(spark):
    """Same tf, same doc length: the doc matching the RARE term must
    outrank the doc matching the corpus-wide common term — the property
    the raw tf sum (search_token_index) cannot express."""
    from readability_scanner_spark.operators.search import (
        bm25_search,
        build_token_index,
    )

    rows = [(d, "common filler words here") for d in range(10)]
    rows += [(10, "common alpha filler pad"), (11, "zebra beta filler pad")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_token_index(df, "doc_id", "text", extract_then_lower=True)
    got = {
        r["doc_id"]: r["score_q"]
        for r in bm25_search(idx, "common zebra").collect()
    }
    assert got[11] > got[10]  # rare 'zebra' beats ubiquitous 'common'


def test_bm25_empty_query_empty_frame(spark):
    from readability_scanner_spark.operators.search import (
        bm25_search,
        build_token_index,
    )

    df = spark.createDataFrame([(1, "data here")], "doc_id long, text string")
    idx = build_token_index(df, "doc_id", "text", extract_then_lower=True)
    empty = bm25_search(idx, "!!!")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["doc_id", "score_q"]


def test_bm25_single_computation_reused_exchange(spark):
    """The per-doc pivot and the corpus-stats aggregate share one
    identical subplan: the executed plan must contain a ReusedExchange
    (the first-cut join formulation re-ran the scan+tokenize lineage
    FOUR times; this pin keeps it collapsed)."""
    from readability_scanner_spark.operators.search import (
        bm25_search,
        build_token_index,
    )

    df = spark.createDataFrame(
        [(d, f"data word{d} filler") for d in range(30)],
        "doc_id long, text string",
    )
    idx = build_token_index(df, "doc_id", "text", extract_then_lower=True)
    res = bm25_search(idx, "data filler")
    res.collect()  # AQE finalizes the plan only after execution
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_phrase_search_vs_python_recompute(spark, corpus_df):
    """phrase_search vs a regex-free python recompute on the
    adversarial corpus: exact occurrence counts, rank order."""
    import re

    from readability_scanner_spark.operators.search import (
        build_positional_index,
        phrase_search,
    )

    rows = {r["doc_id"]: r["text"] for r in corpus_df.collect()}
    tok = re.compile(r"\w+")

    def count_phrase(text, terms):
        toks = [t.lower() for t in tok.findall(text)]
        k = len(terms)
        return sum(1 for i in range(len(toks) - k + 1) if toks[i : i + k] == terms)

    idx = build_positional_index(corpus_df, "doc_id", "text", extract_then_lower=True)
    for phrase in ("data table", "data 表", "table query", "more data"):
        got = [
            (r["doc_id"], r["occurrences"])
            for r in phrase_search(idx, phrase, limit=20).collect()
        ]
        terms = [t.lower() for t in tok.findall(phrase)]
        want = sorted(
            ((d, count_phrase(t, terms)) for d, t in rows.items() if count_phrase(t, terms) > 0),
            key=lambda x: (-x[1], x[0]),
        )
        assert got == want, phrase


def test_phrase_search_overlapping_and_repeated_terms(spark):
    """'data data' in 'data data data' counts twice (overlapping), and
    a repeated-term phrase reuses one postings slot correctly."""
    from readability_scanner_spark.operators.search import (
        build_positional_index,
        phrase_search,
    )

    rows = [(1, "data data data"), (2, "data x data"), (3, "data data")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_positional_index(df, "doc_id", "text", extract_then_lower=True)
    got = {
        r["doc_id"]: r["occurrences"]
        for r in phrase_search(idx, "data data").collect()
    }
    assert got == {1: 2, 3: 1}  # doc 2 has no consecutive pair


def test_phrase_search_missing_term_and_empty_phrase(spark):
    from readability_scanner_spark.operators.search import (
        build_positional_index,
        phrase_search,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    idx = build_positional_index(df, "doc_id", "text", extract_then_lower=True)
    got = [(r["doc_id"], r["occurrences"]) for r in phrase_search(idx, "alpha beta").collect()]
    assert got == [(1, 1)]  # doc 2 lacks 'beta' entirely -> NULL chain -> filtered
    empty = phrase_search(idx, "!!!")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["doc_id", "occurrences"]


def test_near_search_window_semantics(spark):
    """Ordered proximity: consecutive terms at most max_distance apart;
    d=1 degenerates to exact phrase adjacency."""
    from readability_scanner_spark.operators.search import (
        build_positional_index,
        near_search,
        phrase_search,
    )

    rows = [
        (1, "alpha beta"),            # gap 1
        (2, "alpha x beta"),          # gap 2
        (3, "alpha x x beta"),        # gap 3
        (4, "beta alpha"),            # wrong order
        (5, "alpha beta alpha beta"), # two adjacent spans
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_positional_index(df, "doc_id", "text", extract_then_lower=True)
    got = {
        r["doc_id"]: r["occurrences"]
        for r in near_search(idx, "alpha beta", max_distance=2).collect()
    }
    assert got == {1: 1, 2: 1, 5: 2}  # gap-3 and wrong-order excluded
    # d=1 == phrase_search on every doc
    near1 = {
        r["doc_id"]: r["occurrences"]
        for r in near_search(idx, "alpha beta", max_distance=1).collect()
    }
    phr = {
        r["doc_id"]: r["occurrences"]
        for r in phrase_search(idx, "alpha beta").collect()
    }
    assert near1 == phr == {1: 1, 5: 2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_distance"):
        near_search(idx, "alpha beta", max_distance=0)


def test_near_search_vs_python_recompute(spark, corpus_df):
    import re

    from readability_scanner_spark.operators.search import (
        build_positional_index,
        near_search,
    )

    tok = re.compile(r"\w+")
    rows = {r["doc_id"]: r["text"] for r in corpus_df.collect()}

    def count_near(text, terms, d):
        toks = [t.lower() for t in tok.findall(text)]
        ends = {i for i, t in enumerate(toks) if t == terms[0]}
        for term in terms[1:]:
            ends = {
                i
                for i, t in enumerate(toks)
                if t == term and any(0 < i - e <= d for e in ends)
            }
        return len(ends)

    idx = build_positional_index(corpus_df, "doc_id", "text", extract_then_lower=True)
    for query, d in (("data table", 3), ("the data", 2), ("data query", 5)):
        got = {
            r["doc_id"]: r["occurrences"]
            for r in near_search(idx, query, max_distance=d).collect()
        }
        terms = [t.lower() for t in tok.findall(query)]
        want = {
            doc: count_near(t, terms, d)
            for doc, t in rows.items()
            if count_near(t, terms, d) > 0
        }
        assert got == want, (query, d)


def test_near_search_dense_doc_stays_linear(spark):
    """Regression pin for the O(prod |positions|) blowup: the
    filter/exists fold re-evaluated the whole prefix per element (65 s
    for 4 terms x 200 occurrences); the window-expansion fold must
    handle this dense doc in ordinary test time with the right count."""
    from readability_scanner_spark.operators.search import (
        build_positional_index,
        near_search,
    )

    words = ["alpha", "beta", "gamma", "delta"] * 200
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    idx = build_positional_index(df, "doc_id", "text", extract_then_lower=True)
    got = near_search(idx, "alpha beta gamma delta", max_distance=3).collect()
    assert [(r["doc_id"], r["occurrences"]) for r in got] == [(1, 200)]
