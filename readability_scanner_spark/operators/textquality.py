"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, repetition signals, PII redaction.

All JVM-side Column expressions (regexp_count / length arithmetic) so
they compose with the extraction pipeline at 100 TB without Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from readability_scanner_spark.functions.wordchars import WS_CLASS, WS_RUN, WORD_RUN, lookaround

# stopword marker sets per language (heuristic language ID in the classic
# stopword-density style); 'la' is deliberately in both fr and es
_LANG_WORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "dans", "pour", "que"),
    "es": ("el", "la", "los", "las", "es", "una", "para", "con", "por", "del"),
}
# Java-side marker pattern: lookaround word boundaries, NOT \b — a match
# is then exactly a whole [\p{L}\p{N}_]+ run equal to a marker word, so
# the DuckDB oracle's token-run membership count (list_filter over
# WORD_RUN extractions) is equal by construction even next to accented
# chars ("laïcité" contains no marker: RE2 \b would false-match its
# 'la', Java \b would not — the r4 divergence family).
_LANG_MARKERS = {
    lang: lookaround("(?:" + "|".join(ws) + ")") for lang, ws in _LANG_WORDS.items()
}
# NOTE (measured, do not "optimize"): fusing the 4 marker scans into one
# combined-alternation regexp_extract_all + per-language array filters is
# ~2x SLOWER than four regexp_count passes — regexp_count never
# materializes match arrays and the small per-language alternations are
# cheaper NFAs than the 40-word union.


# CJK script classes (shared with the DuckDB oracle — identical literal
# ranges in Java regex and RE2)
_KANA = r"[ぁ-ゟ゠-ヿ]"  # hiragana + katakana
_HANGUL = r"[가-힣]"
_HAN = r"[一-鿿]"
_KANA_MIN = 0.05  # japanese mixes kanji+kana: any real kana share → ja


# PII patterns as (java_pattern, re2_pattern, replacement) triples.
# The email pattern is a shared literal (plain ASCII classes, engines
# agree). The digit-anchored patterns need an ASCII word boundary:
# RE2's \b IS that next to a digit, but Java's \b is unicode-letter-
# aware ("电话555-123-4567": Java sees no boundary after 话 and misses
# the phone; RE2 matches) — so the Java side spells RE2's semantics
# explicitly as ASCII lookarounds (?<![0-9A-Za-z_]) / (?![0-9A-Za-z_]),
# equal to RE2 \b-adjacent-to-digit by definition. ASCII boundary is
# the right scrubbing call: a phone glued to a CJK char is still PII.
_ASCII_B_L = r"(?<![0-9A-Za-z_])"
_ASCII_B_R = r"(?![0-9A-Za-z_])"
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE = r"\d{3}[-.]\d{3,4}[-.]\d{4}"
_IP = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_PATTERNS = (
    (_EMAIL, _EMAIL, "[EMAIL]"),
    (_ASCII_B_L + _PHONE + _ASCII_B_R, rf"\b{_PHONE}\b", "[PHONE]"),
    (_ASCII_B_L + _IP + _ASCII_B_R, rf"\b{_IP}\b", "[IP]"),
)
# The RE2 \b above is legitimate ONLY because the patterns start and end
# on digit atoms (\b next to a digit == the ASCII boundary the Java side
# spells out; RE2 has no lookarounds to spell it directly). Guard that
# precondition so an edit to _PHONE/_IP that breaks it fails at import,
# not as a silent oracle divergence (r5 review):
assert _PHONE.startswith("\\d") and _PHONE.endswith("{4}")
assert _IP.startswith("\\d") and _IP.endswith("{1,3}")


def redact_pii_col(text: Column) -> Column:
    """Training-data scrubbing: emails / phone-shaped numbers / IPv4
    literals replaced with typed placeholders, in a fixed pattern order
    (email first — its local part may contain digits a later pattern
    would half-match). Pure regexp_replace chain, whole-stage codegen."""
    out = text
    for java_pat, _, repl in PII_PATTERNS:
        out = F.regexp_replace(out, java_pat, repl)
    return out


def pii_hits_col(text: Column) -> Column:
    """Count of PII matches (pre-redaction), same patterns."""
    total = F.lit(0)
    for java_pat, _, _ in PII_PATTERNS:
        total = total + F.regexp_count(text, F.lit(java_pat))
    return total.cast("long")


def with_repetition_signals(
    df: DataFrame, text_col: str = "text", max_bigrams: int = 500
) -> DataFrame:
    """Gopher-style repetition filters:

    - dup_word_frac: 1 - distinct/total words — boilerplate and keyword
      stuffing push this up.
    - top_bigram_frac: share of the most frequent word bigram among the
      first ``max_bigrams`` bigrams.

    The token and bigram arrays are projected as BOUND columns (r6): a
    bigram transform that captures the split+filter token expression in
    its lambda re-evaluates it PER ELEMENT — re-tokenizing the document
    once per bigram, O(n_tokens x cap) string splits per row (the repo's
    measured O(n^2) lambda-capture trap; this was the dominant term of
    the 292 s text_quality_filters measurement at sf1.0)."""
    # WS_RUN, not Java \s: Java's class contains U+000B and misses
    # U+3000 — both present in real corpora, both cross-engine traps
    # (r5 review/corpus find). The unicode class splits identically in
    # Java and RE2 and matches Python's \s.
    step1 = df.withColumn(
        "_rs_toks", F.filter(F.split(F.lower(F.col(text_col)), WS_RUN), lambda x: x != "")
    )
    toks = F.col("_rs_toks")
    n = F.size(toks)
    # only the first max_bigrams bigrams are ever examined — build just
    # those, not all n-1
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), F.least(n - 2, F.lit(max_bigrams - 1))),
            # element_at pair == concat_ws over slice(toks, i+1, 2): both
            # elements exist (i <= n-2) and are non-null/non-empty
            lambda i: F.concat_ws(
                " ", F.try_element_at(toks, i + 1), F.try_element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    step2 = step1.withColumn("_rs_bi", bi)
    bib = F.col("_rs_bi")
    nb = F.size(bib)
    dup_word = F.when(
        n > 0, 1.0 - F.size(F.array_distinct(toks)) / n.cast("double")
    ).otherwise(0.0)
    # mode count via sort + longest equal-adjacent run (r6): a distinct x
    # occurrences form costs O(cap^2) lambda evals per document (measured
    # 292 s for the corpus query at sf1.0); the run-length fold over the
    # sorted array is O(cap log cap) and yields the identical maximum
    top = F.aggregate(
        F.array_sort(bib),
        F.struct(
            F.lit("\x00").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("mx")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["mx"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("mx"),
        ),
        lambda acc: acc["mx"],
    )
    top_frac = F.when(nb > 0, top / nb.cast("double")).otherwise(0.0)
    return step2.withColumns(
        {"dup_word_frac": dup_word, "top_bigram_frac": top_frac}
    ).drop("_rs_toks", "_rs_bi")


def token_count_col(text: Column) -> Column:
    """BPE-ish token estimate: word tokens + standalone punctuation +
    digit runs (whitespace tokenization refined by a regex, the usual
    cheap proxy for tokenizer budget accounting).

    DELIBERATELY ASCII ``\\w`` (unlike the word counters): Java and RE2
    agree on it char-for-char, and counting each non-ASCII codepoint
    outside an ASCII word run as its own token ("café" = 2, a CJK char
    = 1 each) is the right direction for a BPE budget proxy — real
    tokenizers also split unseen accented/CJK text finer than words.
    The ws exclusion is an EXPLICIT ASCII class, not ``\\s``: Java's
    ``\\s`` contains U+000B (vertical tab) and RE2's does not, so the
    bare form diverges on a VT (r5 review find)."""
    return F.regexp_count(text, F.lit(r"\w+|[^\w \t\n\x0B\f\r]")).cast("long")


# --- lang + quality over bound counts (optimization r6) ---------------------
#
# Language ID and the quality score share their expensive subexpressions
# (the word-run count, the 4 stopword-marker counts over lower(text), the
# 3 CJK codepoint counts, the codepoint length): selecting both as plain
# Column expressions in one Project evaluates every shared regex TWICE
# (measured: the pair cost MORE than the sum of its isolated parts —
# whole-stage codegen subexpression elimination does not collapse them).
# The fix is the repo's standard bound-column trick: project each shared
# count once under an alias in a lower Project — CollapseProject cannot
# re-inline a non-cheap multi-referenced alias — and express both outputs
# over the bound attributes. The arithmetic on top of the counts keeps the
# DuckDB oracles' shape (same divisions over the same integer inputs).

_QL_TMP = (
    "_ql_low",
    "_ql_words",
    "_ql_len",
    "_ql_kana",
    "_ql_hangul",
    "_ql_han",
    "_ql_mk_de",
    "_ql_mk_en",
    "_ql_mk_es",
    "_ql_mk_fr",
)


def _shared_count_cols(df: DataFrame, text_col: str) -> DataFrame:
    """Two-level projection of the shared counts: lower(text) is itself
    bound first so the 4 marker scans share one lowering pass."""
    t = F.col(text_col)
    step1 = df.withColumn("_ql_low", F.lower(t))
    counts = {
        "_ql_words": F.regexp_count(t, F.lit(WORD_RUN)),
        "_ql_len": F.length(t),
        "_ql_kana": F.regexp_count(t, F.lit(_KANA)),
        "_ql_hangul": F.regexp_count(t, F.lit(_HANGUL)),
        "_ql_han": F.regexp_count(t, F.lit(_HAN)),
    }
    for lang, pattern in _LANG_MARKERS.items():
        counts[f"_ql_mk_{lang}"] = F.regexp_count(F.col("_ql_low"), F.lit(pattern))
    return step1.withColumns(counts)


def _scores_from_counts() -> dict[str, Column]:
    words = F.greatest(F.col("_ql_words"), F.lit(1))
    return {lang: F.col(f"_ql_mk_{lang}") / words for lang in _LANG_MARKERS}


def _densities_from_counts() -> tuple[Column, Column, Column]:
    n_chars = F.greatest(F.col("_ql_len"), F.lit(1))
    return (
        F.col("_ql_kana") / n_chars,
        F.col("_ql_hangul") / n_chars,
        F.col("_ql_han") / n_chars,
    )


def _lang_id_from_counts(min_ratio: float = 0.01, cjk_ratio: float = 0.2) -> Column:
    """Pick the language with max stopword density; CJK by codepoint
    density (no whitespace-delimited stopwords there): kana presence
    discriminates ja from zh (Japanese prose always carries kana),
    hangul → ko, han-only → zh. 'und' if nothing clears its floor.
    Deterministic tie-break by language code order."""
    scores = _scores_from_counts()
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(_LANG_MARKERS)
        ]
    )
    best = F.array_max(pairs)
    kana, hangul, han = _densities_from_counts()
    return (
        F.when(kana >= _KANA_MIN, F.lit("ja"))
        .when(hangul >= cjk_ratio, F.lit("ko"))
        .when(han >= cjk_ratio, F.lit("zh"))
        .when(best["score"] >= min_ratio, best["lang"])
        .otherwise(F.lit("und"))
    )


def _quality_from_counts(text: Column, cjk_ratio: float = 0.2) -> Column:
    """Composite quality heuristic in [0,1]: length band + punctuation
    ratio + stopword ratio + mean word length band (the classic C4-style
    filters folded into one score). The stopword term follows the
    DETECTED language (max marker density across marker sets, not
    English-only); CJK documents — which have no whitespace-delimited
    stopwords — pass that term instead of flooring at 0.5."""
    n_chars = F.col("_ql_len")
    words = F.greatest(F.col("_ql_words"), F.lit(1))
    sentences = F.greatest(F.regexp_count(text, F.lit(r"[.!?]")), F.lit(1))
    punct_ratio = F.regexp_count(text, F.lit(r"[.,;:!?]")) / words
    best_marker = F.greatest(*_scores_from_counts().values())
    kana, hangul, han = _densities_from_counts()
    is_cjk = (kana >= _KANA_MIN) | (hangul >= cjk_ratio) | (han >= cjk_ratio)
    mean_word_len = n_chars / words
    length_ok = F.when((n_chars >= 100) & (n_chars <= 50000), 1.0).otherwise(0.3)
    punct_ok = F.when((punct_ratio >= 0.02) & (punct_ratio <= 0.4), 1.0).otherwise(0.4)
    stop_ok = F.when(is_cjk | (best_marker >= 0.05), 1.0).otherwise(0.5)
    wordlen_ok = F.when((mean_word_len >= 3) & (mean_word_len <= 12), 1.0).otherwise(0.4)
    asl_ok = F.when(words / sentences <= 60, 1.0).otherwise(0.5)
    score = (length_ok + punct_ok + stop_ok + wordlen_ok + asl_ok) / F.lit(5.0)
    # content-free rows score hard zero: the word/sentence floors would
    # otherwise give empty/null text 0.52 — ABOVE a 0.5 quality cut.
    # Emptiness = nothing left after removing the UNICODE ws class (r5
    # review find: F.trim strips only ASCII space, so '\n\n' or U+3000
    # scored 0.64 on Spark while the oracle's WS_CLASS removal scored
    # 0.0 — divergent on the first whitespace-only document)
    empty = (
        F.coalesce(F.length(F.regexp_replace(text, F.lit(WS_CLASS), F.lit(""))), F.lit(0))
        == 0
    )
    return F.when(empty, F.lit(0.0)).otherwise(score)


def with_lang_quality_cols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add lang_guess / quality_score / n_tokens with every shared regex
    count evaluated once — the package's one language/quality scorer
    (the lang_quality query and curation's gates both read it)."""
    t = F.col(text_col)
    return (
        _shared_count_cols(df, text_col)
        .withColumns(
            {
                "lang_guess": _lang_id_from_counts(),
                "quality_score": _quality_from_counts(t),
                "n_tokens": token_count_col(t),
            }
        )
        .drop(*_QL_TMP)
    )
