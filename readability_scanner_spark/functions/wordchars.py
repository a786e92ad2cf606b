"""THE word-character set — single source of truth for every word
counter, tokenizer boundary, and search term in the engine.

A "word character" is a Unicode letter, a Unicode number, or ``_``
(categories L*, N*, plus underscore), and a "word" is a maximal run of
them. This is the ONLY definition that is simultaneously expressible
and STABLE across the three regex engines a query touches:

  - Java (Spark ``regexp_count``/``rlike``): ``[\\p{L}\\p{N}_]+``.
    Java's ``\\w`` is ASCII-only and its ``\\b`` is a THIRD thing
    (unicode-letter-aware but excludes No-category numerics and
    swallows combining marks) — never use either.
  - RE2 (DuckDB oracles): the same ``[\\p{L}\\p{N}_]+`` class literal.
    RE2 has no lookarounds, so boundaries there are expressed as
    token-run equality over these runs, never ``\\b`` (ASCII-only,
    false-matches ``data表``).
  - CPython ``re``: plain ``\\w`` is EXACTLY this set — verified by a
    full sweep of all 0x110000 codepoints on CPython 3.11 / Unicode
    14.0 (zero diffs either direction between ``re.match(r"\\w")`` and
    ``category in L*/N* or '_'``). So the Python twin of ``WORD_RUN``
    is just ``re.compile(r"\\w+")``; ``\\b`` asserts around a greedy
    ``\\w+`` are redundant in ANY engine (a maximal run always has
    non-word neighbors by definition) and were the round-4 divergence
    source when copied verbatim into Java/RE2.

Engine-version caveat: Java 17 ships Unicode 13 vs CPython 3.11's 14.0;
codepoints added in 14.0 could in principle classify differently. None
appear in the fixtures, and the pinned parity rows
(tests/test_word_unicode.py) all use codepoints stable since Unicode 6.

Reference semantics being matched: news-scanner/readability/
text_stats.py:60-68 counts ``\\b\\w+\\b`` with Python ``re`` — i.e.
unicode word runs, exactly ``WORD_RUN``.
"""

from __future__ import annotations

import re

# Java + RE2 class body (both engines parse \p{L}/\p{N} identically).
WORD_CHARS = r"\p{L}\p{N}_"

# A word: maximal run of word chars. Safe as a Spark regex literal and
# inside a DuckDB single-quoted string (backslashes stay literal there).
WORD_RUN = rf"[{WORD_CHARS}]+"


# --- whitespace, same story -------------------------------------------------
# Python re \s == str.isspace() over ALL codepoints (swept; 29 chars),
# but Java and RE2 \s are ASCII-only — a U+3000 ideographic space in
# CJK text would silently diverge character/sentence counts between the
# Python pipeline and the SQL/oracle paths. This class body spells out
# Python's \s set with \x{...} escapes, which BOTH Java and RE2 parse;
# tests/test_word_unicode.py re-sweeps it against CPython's \s.
WS_CHARS = (
    r"\x{9}-\x{D}\x{1C}-\x{20}\x{85}\x{A0}\x{1680}"
    r"\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}"
)
WS_CLASS = rf"[{WS_CHARS}]"
WS_RUN = rf"{WS_CLASS}+"


# --- dedup tokenizer: ASCII word runs + CJK char unigrams -------------------
# MinHash/SimHash/Jaccard shingling needs tokens, but Han/kana/hangul
# text has no spaces to split on — the standard fix (used by Lucene's
# CJK analyzers and BM25 implementations) is one token per CJK
# CHARACTER. Without this, every CJK document tokenizes to the empty
# set and the whole near-dup family degenerates (all CJK docs become
# mutual "duplicates" of the empty token sequence) — exactly what the
# round-5 multilingual corpus exposed. Ranges: CJK Unified Ideographs
# + Extension A, hiragana+katakana (contiguous), hangul syllables.
# lower() is identity on all of them, so the classes are case-stable.
_CJK_PAIRS = ((0x3400, 0x4DBF), (0x4E00, 0x9FFF), (0x3040, 0x30FF), (0xAC00, 0xD7AF))

# Java regex class body (literal chars — Python resolves the \u escapes)
CJK_CHARS = "".join(f"{chr(a)}-{chr(b)}" for a, b in _CJK_PAIRS)
# RE2 (DuckDB) spelling of the same class
CJK_CHARS_RE2 = "".join(rf"\x{{{a:04X}}}-\x{{{b:04X}}}" for a, b in _CJK_PAIRS)

# The cross-engine dedup token pattern over the RAW text: an ASCII word
# run (either case), or a single CJK char; callers lowercase each
# extracted token AFTERWARDS. Extract-then-lower is load-bearing:
# lowering the whole string first lets full-string case folding mint
# ASCII letters from non-ASCII codepoints (İ U+0130 → 'i' + combining
# dot in Python/Java but bare 'i' in DuckDB; KELVIN U+212A → 'k'),
# and the three engines fold them DIFFERENTLY — İstanbul tokenized
# three ways was a round-5 review find. Extracting from the raw text
# first means every latin token is pure ASCII before it is lowered
# (ASCII folding is engine-identical) and non-ASCII non-CJK codepoints
# are uniformly separators. (ASCII-only for the latin class on purpose:
# token HASHES must match DuckDB md5_number_lower recomputes.)
DEDUP_TOKEN_PY = re.compile(rf"[0-9A-Za-z_]+|[{CJK_CHARS}]")
DEDUP_TOKEN_RE2 = rf"[0-9A-Za-z_]+|[{CJK_CHARS_RE2}]"


def lookaround(inner: str) -> str:
    """Wrap a Java-regex fragment in explicit word-boundary lookarounds
    — the engine-stable replacement for ``\\b…\\b``. Java-side only
    (RE2 has no lookarounds; DuckDB oracles use token-run equality
    over WORD_RUN instead, identical by construction)."""
    return rf"(?<![{WORD_CHARS}]){inner}(?![{WORD_CHARS}])"
