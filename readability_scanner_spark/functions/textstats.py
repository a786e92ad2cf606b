"""Text statistics T1–T8 (SURVEY.md §2.1), pure Python.

Semantics match the reference exactly
(news-scanner/readability/text_stats.py:27-201):
  - sentences: split on [.!?]+ followed by whitespace/EOS, drop empties
  - paragraphs: split on blank lines
  - words: \\w+ runs (== the reference's \\b\\w+\\b under Python re)
  - characters: length excluding all whitespace
  - syllables: per-word pinned estimator (functions/syllables.py)
  - complex words: words with >= 3 syllables
  - floors applied by the orchestrator: sentences>=1, words>=1
    (text_stats.py:173-175), AFTER word_syllables is computed from the
    raw word count (text_stats.py:170).

These run inside the Arrow-batched stats UDF (functions/udfs.py). The
regex-expressible subset (T1–T4) also exists as native Column
expressions in functions/columns.py for the pure-SQL fast path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from readability_scanner_spark.functions.syllables import _CACHE, estimate_syllables

_WS_RUN = re.compile(r"\s+")
_SENTENCE_SPLIT = re.compile(r"[.!?]+(?:\s+|$)")
_PARAGRAPH_SPLIT = re.compile(r"\n\s*\n|\r\n\s*\r\n")
# Python \w+ runs == [\p{L}\p{N}_]+ runs exactly (codepoint sweep, see
# functions/wordchars.py); the reference's \b asserts (text_stats.py:60)
# are redundant around a greedy \w+ in Python — identical match set —
# and dropping them keeps this the literal twin of the JVM/DuckDB form.
_WORD = re.compile(r"\w+")


@dataclass
class TextStatistics:
    words: int
    sentences: int
    paragraphs: int
    characters: int
    syllables: int
    word_syllables: float
    complex_polysyllabic_words: int


def count_sentences(text: str) -> int:
    # no whitespace pre-collapse (r6): the split pattern consumes any
    # \s+ run whole and segment non-emptiness under .strip() is
    # collapse-invariant, so the count is identical without the extra
    # full pass (the reference normalizes first, but only the count is
    # the contract — columns.py makes the same argument for the SQL
    # twin, and the python==SQL parity tests pin it)
    return sum(1 for s in _SENTENCE_SPLIT.split(text) if s.strip())


def count_paragraphs(text: str) -> int:
    if "\n" not in text:  # C-speed scan; every blank-line separator
        return 1 if text.strip() else 0  # contains \n (incl. \r\n form)
    return sum(1 for p in _PARAGRAPH_SPLIT.split(text) if p.strip())


def count_words(text: str) -> int:
    return len(_WORD.findall(text))


def count_characters(text: str) -> int:
    # == len(re.sub(r"\s", "", text)) but ~4x faster: str.split() splits on
    # exactly the codepoints re \s matches (verified over ALL of Unicode
    # by test_textstats.py::test_count_characters_fast_path_exact), and
    # summing token lengths skips building the stripped string
    return sum(map(len, text.split()))


def count_syllables_per_word(text: str) -> list[int]:
    # inline the memo fast path: one dict get per word instead of a
    # function call (hot loop — every word of every document goes
    # through here; Zipf vocabulary makes the hit rate ~99%)
    lows = list(map(str.lower, _WORD.findall(text)))
    out = list(map(_CACHE.get, lows))  # C-speed lookups; misses are None
    for i, n in enumerate(out):
        if n is None:
            out[i] = estimate_syllables(lows[i])
    return out


def calculate_text_statistics(text: str) -> TextStatistics:
    """Full stats with the reference's floors and zero-text sentinel
    (text_stats.py:136-185)."""
    cleaned = (text or "").strip()
    if not cleaned:
        return TextStatistics(0, 0, 0, 0, 0, 0.0, 0)

    per_word = count_syllables_per_word(cleaned)
    words = len(per_word)
    sentences = count_sentences(cleaned)
    paragraphs = count_paragraphs(cleaned)
    characters = count_characters(cleaned)
    total_syllables = sum(per_word)
    word_syllables = total_syllables / words if words > 0 else 0.0
    complex_words = sum(1 for c in per_word if c >= 3)

    return TextStatistics(
        words=max(words, 1),
        sentences=max(sentences, 1),
        paragraphs=paragraphs,
        characters=characters,
        syllables=total_syllables,
        word_syllables=word_syllables,
        complex_polysyllabic_words=complex_words,
    )
