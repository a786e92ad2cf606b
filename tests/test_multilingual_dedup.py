"""Multilingual (CJK/accented) behavior of the dedup family.

Round-5 corpus-realism guard findings, pinned so they cannot regress:
the ASCII-only tokenizer made every CJK document tokenize to the EMPTY
set, which (a) collapsed all CJK docs into mutual simhash "duplicates"
of the sentinel hash, (b) gave token-less doc pairs n-gram Jaccard 1.0
on the Spark side ([""] grams) while the DuckDB oracle excluded them,
and (c) tripped a DuckDB bind-time overflow in the simhash oracle's
sentinel the first time a zero-token doc appeared. The fix is the
Lucene-style CJK char-unigram token branch (wordchars.DEDUP_TOKEN_PY /
_RE2) applied identically to the Python and JVM tokenizers.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.functions.wordchars import (
    DEDUP_TOKEN_PY,
    DEDUP_TOKEN_RE2,
)
from readability_scanner_spark.operators.dedup import (
    _dedup_toks_col,
    _grams_from_toks,
    _shingles,
    ngram_jaccard_pairs,
    simhash,
)
from readability_scanner_spark.sources.multilingual import (
    LANGS,
    make_document,
    multilingual_documents,
)

ADV = [
    "data表 and ①items",            # CJK glued to an ASCII token
    "café brûlée naïve",            # accented: ASCII sub-runs only
    "日本語のテキストです。",          # pure CJK → char unigrams
    "이것은 한국어 텍스트입니다.",     # hangul
    "这是一份报告。数据显示趋势。",     # han
    "unicode　space and nbsp here",  # U+3000 inside latin text
    "mixed 漢字 and words",
    "",                              # empty
    "!!! ... ???",                   # punctuation-only → zero tokens
    "İstanbul DATA",                 # U+0130: full-string lower() mints
    #   'i'+combining differently per engine — extract-then-lower must
    #   make all three engines agree on ['stanbul', 'data']
    "KELVINKSIGN Mixed",        # U+212A lower()s to ASCII 'k'
]


def test_cjk_tokens_are_char_unigrams():
    from readability_scanner_spark.operators.dedup import _tokens

    assert _tokens("data表 and 日本語") == ["data", "表", "and", "日", "本", "語"]
    # hangul and kana likewise one char per token
    assert _tokens("한국어 テキスト") == list("한국어") + list("テキスト")
    # punctuation-only → no tokens (NOT [''])
    assert _tokens("!!! ... ???") == []
    # extract-then-lower: İ (U+0130) is a separator in the RAW text, so
    # no engine ever sees its engine-divergent case folding
    assert _tokens("İstanbul DATA") == ["stanbul", "data"]
    assert _tokens("KELVINKSIGN") == ["kelvin", "sign"]


def test_py_and_re2_token_streams_identical():
    from readability_scanner_spark.operators.dedup import _tokens

    con = duckdb.connect()
    for text in ADV:
        # extract on RAW text, lower per token — the oracle form all
        # four dedup oracles use (İ/U+212A would diverge if either side
        # lowered the whole string first)
        got = con.execute(
            "SELECT list_transform(regexp_extract_all(?, ?), x -> lower(x))",
            [text, DEDUP_TOKEN_RE2],
        ).fetchone()[0]
        assert got == _tokens(text), text


def test_jvm_grams_match_python_shingles(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADV)], "doc_id long, text string"
    )
    rows = (
        df.select("doc_id", _dedup_toks_col("text").alias("toks"))
        .select("doc_id", _grams_from_toks(F.col("toks"), 3).alias("g"))
        .orderBy("doc_id")
        .collect()
    )
    for r in rows:
        assert set(r.g) == _shingles(ADV[r.doc_id], 3), ADV[r.doc_id]


def test_tokenless_docs_never_pair(spark):
    # two punctuation-only docs + two empty docs: no token signal, so no
    # jaccard pair may be emitted (the pre-fix [""]-gram form scored 1.0)
    df = spark.createDataFrame(
        [(0, "???"), (1, "!!!"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.0).count() == 0


def test_cjk_docs_get_distinct_simhashes(spark):
    texts = [
        (0, "日本語のテキストです。これは報告です。"),
        (1, "경제 상황에 대한 새로운 분석입니다."),
        (2, "这是一份关于经济形势的报告。"),
        (3, "!!!"),  # genuinely token-less → sentinel
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    # pre-fix: ALL FOUR collapse to the sentinel; now only the real
    # token-less doc carries it and the CJK docs are mutually distinct
    assert got[3] == -(1 << 63)
    assert len({got[0], got[1], got[2]}) == 3
    assert all(got[i] != got[3] for i in range(3))


def test_corpus_generator_deterministic_and_covering():
    rows = multilingual_documents(140, seed=42)
    assert rows == multilingual_documents(140, seed=42)
    assert [r["doc_id"] for r in rows] == list(range(140))
    langs = {r["lang"] for r in rows}
    assert langs == set(LANGS)
    blob = "\n".join(r["text"] for r in rows)
    assert "café brûlée naïve" in blob          # accent trap spliced
    assert "data表" in blob                      # boundary trap spliced
    assert "　" in blob                      # unicode whitespace
    assert any("一" <= c <= "鿿" for c in blob)  # han present
    # search-term rows exist so text_search greens are non-vacuous
    assert " data " in " " + blob.replace("\n", " ") + " "
    one = make_document(7, seed=42)
    assert one == rows[7]
