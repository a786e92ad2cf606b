"""Three-engine word-counter parity on adversarial non-ASCII rows.

Round-4 VERDICT's one confirmed defect: the T3 word counters carried a
bare ``\\b\\w+\\b``, whose meaning differs per engine (Python: unicode
runs; Java: ASCII \\w but unicode-letter \\b; RE2: all-ASCII) — masked
because every fixture and the testdata documents table are pure ASCII.
These rows are exactly the adjacencies where the three \\b definitions
diverge; the engine-stable ``[\\p{L}\\p{N}_]+`` run form (and its
Python twin ``\\w+``) must agree on ALL of them, in all three engines.

If either side drifts back to \\b or ASCII \\w, these fail.
"""

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.functions.columns import words_col
from readability_scanner_spark.functions import textstats
from readability_scanner_spark.functions.textstats import count_words
from readability_scanner_spark.functions.wordchars import WORD_RUN, WS_CHARS
from readability_scanner_spark.operators.textquality import (
    _LANG_WORDS,
    PII_PATTERNS,
    _shared_count_cols,
    pii_hits_col,
    redact_pii_col,
)

# Each row names the divergence it guards against.
ROWS = [
    "café brûlée naïve",                      # Java \b kills accented words → old JVM count 0
    "data表 and ①items",                      # RE2 \b false-matches at 表; Java \b excludes No-cat ①
    "x́y naïve",                         # combining mark splits a run identically everywhere
    "²nd ½ measure",                          # No-category numerics are words (N*)
    "laïcité le pour la",                     # RE2 \b would count the 'la' inside laïcité as a marker
    "电话555-123-4567 and 10.0.0.1表",         # PII digit-boundary next to CJK letters
    "日本語のテキストです。",                    # CJK runs: one word per unbroken run
    "under_score stays one_token",
    "",
]

EXPECTED_WORDS = [3, 3, 3, 3, 4, 8, 1, 3, 0]


@pytest.fixture(scope="module")
def adv_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(ROWS)], "id long, text string")


def test_python_word_run_is_word_pat_twin():
    # the Python twin really is plain \w+ (wordchars.py sweep contract)
    assert textstats._WORD.pattern == r"\w+"
    assert WORD_RUN == r"[\p{L}\p{N}_]+"


def test_words_three_engines_agree(spark, adv_df):
    got = {r.id: r.w for r in adv_df.select("id", words_col(F.col("text")).alias("w")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(ROWS):
        duck = con.execute(
            "select len(regexp_extract_all(?, '[\\p{L}\\p{N}_]+'))", [t]
        ).fetchone()[0]
        assert got[i] == count_words(t) == duck == EXPECTED_WORDS[i], (i, t)


def test_marker_hits_three_engines_agree(spark, adv_df):
    """Spark lookaround-bounded marker count == DuckDB token-run
    membership count == a pure-Python token-run membership count."""
    sel = _shared_count_cols(adv_df, "text").select(
        "id", *[F.col(f"_ql_mk_{lang}").alias(f"hit_{lang}") for lang in sorted(_LANG_WORDS)]
    ).collect()
    con = duckdb.connect()
    for r in sel:
        t = ROWS[r.id]
        toks = [w.lower() for w in textstats._WORD.findall(t)]
        for lang in sorted(_LANG_WORDS):
            py = sum(1 for w in toks if w in _LANG_WORDS[lang])
            in_list = ", ".join(f"'{w}'" for w in _LANG_WORDS[lang])
            duck = con.execute(
                "select len(list_filter(regexp_extract_all(lower(?), '[\\p{L}\\p{N}_]+'), "
                f"x -> list_contains([{in_list}], x)))",
                [t],
            ).fetchone()[0]
            assert getattr(r, f"hit_{lang}") == py == duck, (r.id, lang, t)
    # and the laïcité row must NOT count an fr 'la' from inside the word
    la_row = [r for r in sel if ROWS[r.id].startswith("laïcité")][0]
    assert la_row.hit_fr == 3  # le, pour, la — not laïcité's prefix


def test_pii_java_re2_forms_agree(spark, adv_df):
    """The (java_pattern, re2_pattern) pairs must produce identical hits
    AND identical redacted text — including digit runs glued to CJK."""
    got = {
        r.id: (r.red, r.hits)
        for r in adv_df.select(
            "id",
            redact_pii_col(F.col("text")).alias("red"),
            pii_hits_col(F.col("text")).alias("hits"),
        ).collect()
    }
    con = duckdb.connect()
    expr, hit_terms = "text", []
    for _, re2_pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{re2_pat}', '{repl}', 'g')"
        hit_terms.append(f"len(regexp_extract_all(text, '{re2_pat}'))")
    for i, t in enumerate(ROWS):
        dred, dhits = con.execute(
            f"select {expr}, {' + '.join(hit_terms)} from (select ? as text)", [t]
        ).fetchone()
        assert got[i] == (dred, dhits), (i, t, got[i], (dred, dhits))
    # the CJK-adjacent row redacts both the phone and the IP
    cjk = [i for i, t in enumerate(ROWS) if "电话" in t][0]
    assert got[cjk] == ("电话[PHONE] and [IP]表", 2)


def test_ws_class_is_python_s_twin():
    """WS_CHARS must be exactly CPython's \\s set — full codepoint
    re-sweep (cheap: one regex match per codepoint)."""
    ws = re.compile(r"\s")
    swept = {cp for cp in range(0x110000) if ws.match(chr(cp))}
    spelled = set()
    for lo, hi in re.findall(r"\\x\{([0-9A-F]+)\}(?:-\\x\{([0-9A-F]+)\})?", WS_CHARS):
        spelled.update(range(int(lo, 16), int(hi or lo, 16) + 1))
    assert swept == spelled


def test_unicode_whitespace_three_engines(spark):
    """U+3000/U+00A0/U+2028 in text: characters/sentences/paragraphs out
    of the JVM columns must equal the Python twins AND the DuckDB
    oracle constants (pre-fix, Java/RE2 ASCII \\s missed all three)."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from __spark_entry__ import _CHARS_SQL, _PARAS_SQL, _SENTS_SQL
    from readability_scanner_spark.functions.columns import (
        characters_col, paragraphs_col, sentences_col)
    from readability_scanner_spark.functions.textstats import (
        count_characters, count_paragraphs, count_sentences)

    rows = [
        "日本　語 one.　Two words.",
        "lead nbsp. tail　",
        "para one.\n　\npara two.\n\n \nthird",
        "　\n\nonly second",
        "a. b",  # U+2028 is \s in Python: sentence boundary after 'a.'
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(rows)], "id long, text string")
    got = df.select(
        "id",
        characters_col(F.col("text")).alias("c"),
        sentences_col(F.col("text")).alias("s"),
        paragraphs_col(F.col("text")).alias("p"),
    ).collect()
    con = duckdb.connect()
    for r in got:
        t = rows[r.id]
        dc, ds, dp = con.execute(
            f"select {_CHARS_SQL}, {_SENTS_SQL}, {_PARAS_SQL} from (select ? as text)", [t]
        ).fetchone()
        assert r.c == count_characters(t) == dc, (r.id, r.c, count_characters(t), dc)
        assert r.s == count_sentences(t) == ds, (r.id, r.s, count_sentences(t), ds)
        assert r.p == count_paragraphs(t) == dp, (r.id, r.p, count_paragraphs(t), dp)


def test_java_b_would_have_failed_here(spark, adv_df):
    """Regression witness: the OLD pattern really does diverge on these
    rows (guards against 'the fixture rows are too easy' rot)."""
    old = adv_df.select(
        "id", F.regexp_count(F.col("text"), F.lit(r"\b\w+\b")).alias("w")
    ).collect()
    diverged = [r.id for r in old if r.w != EXPECTED_WORDS[r.id]]
    assert 0 in diverged and 1 in diverged  # café row counts 0 under Java \b\w+\b
