"""F1–F9 exactness vs the reference constants
(news-scanner/readability/formulas.py:15-239), both pure-Python and the
Column-expression binding."""

import math
import random
import struct

import pytest

from readability_scanner_spark.functions import formulas
from readability_scanner_spark.functions.textstats import TextStatistics

S = TextStatistics(
    words=100, sentences=5, paragraphs=3, characters=480, syllables=150,
    word_syllables=1.5, complex_polysyllabic_words=12,
)


def test_flesch_exact():
    expected = 206.835 - 1.015 * 20 - 84.6 * 1.5
    assert formulas.flesch_reading_ease(S) == pytest.approx(expected)


def test_flesch_clamps():
    hard = TextStatistics(10, 1, 1, 100, 60, 6.0, 10)
    assert formulas.flesch_reading_ease(hard) == 0.0
    easy = TextStatistics(10, 10, 1, 20, 10, 1.0, 0)
    assert formulas.flesch_reading_ease(easy) == 100.0


def test_flesch_kincaid_exact():
    assert formulas.flesch_kincaid_grade(S) == pytest.approx(0.39 * 20 + 11.8 * 1.5 - 15.59)


def test_smog_exact():
    assert formulas.smog_index(S) == pytest.approx(1.0430 * math.sqrt(12 * 6) + 3.1291)


def test_dale_chall_adjustment_boundary():
    # 12% difficult > 5 → +3.6365
    expected = 0.1579 * 12 + 0.0496 * 20 + 3.6365
    assert formulas.dale_chall(S) == pytest.approx(expected)
    low = TextStatistics(100, 5, 1, 480, 120, 1.2, 4)  # 4% → no adjustment
    assert formulas.dale_chall(low) == pytest.approx(0.1579 * 4 + 0.0496 * 20)


def test_dale_chall_grade_buckets():
    assert formulas.dale_chall_grade(4.9) == "4th grade or lower"
    assert formulas.dale_chall_grade(5.0) == "5th-6th grade"
    assert formulas.dale_chall_grade(9.91) == "16th grade or higher (graduate)"


def test_coleman_liau_exact():
    expected = 0.0588 * 480 - 0.296 * 5 - 15.8
    assert formulas.coleman_liau(S) == pytest.approx(expected)


def test_gunning_fog_exact():
    assert formulas.gunning_fog(S) == pytest.approx(0.4 * (20 + 12))


def test_spache_exact():
    assert formulas.spache(S) == pytest.approx(0.141 * 20 + 0.086 * 12 + 0.839)


def test_ari_exact():
    assert formulas.automated_readability(S) == pytest.approx(4.71 * 4.8 + 0.5 * 20 - 21.43)


def test_zero_guards():
    zero = TextStatistics(0, 0, 0, 0, 0, 0.0, 0)
    for fn in (
        formulas.flesch_reading_ease,
        formulas.flesch_kincaid_grade,
        formulas.smog_index,
        formulas.dale_chall,
        formulas.coleman_liau,
        formulas.gunning_fog,
        formulas.spache,
        formulas.automated_readability,
    ):
        assert fn(zero) == 0.0


def _stat_grid(n: int, seed: int) -> list[tuple]:
    """Seeded STATS_SCHEMA tuples over the floored ranges the stats pass
    emits (words, sentences >= 1), dense around the Dale–Chall pdw > 5
    step and the grade buckets."""
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        words = rng.choice((rng.randint(1, 30), rng.randint(1, 5000)))
        sentences = rng.randint(1, max(1, words // rng.randint(1, 25)))
        syllables = rng.randint(words, 3 * words)
        complex_words = rng.randint(0, rng.choice((words // 10, words)))
        characters = rng.randint(words, 12 * words)
        rows.append((words, sentences, 1, characters, syllables, syllables / words, complex_words))
    return rows


def _bits(v):
    return struct.pack("<d", v) if isinstance(v, float) else v


def test_column_binding_matches_python(spark):
    """The fused pass scores with the Python formulas; the Column binding
    is the JVM reference. Every double must match bit for bit."""
    from readability_scanner_spark.functions.udfs import STATS_SCHEMA, stats_one

    rows = [
        (100, 5, 3, 480, 150, 1.5, 12),
        (1, 1, 1, 3, 1, 1.0, 0),
        (77, 6, 2, 414, 133, 133 / 77, 18),
        (10, 10, 1, 20, 10, 1.0, 0),
        (100, 5, 1, 480, 150, 1.5, 5),  # pdw == 5: no Dale–Chall step
        stats_one(""),  # zero-text row
        (1, 1, 1, 0, 1, 1.0, 0),  # stats_one's error sentinel
    ] + _stat_grid(500, seed=15)
    assert stats_one("") == (0, 0, 0, 0, 0, 0.0, 0)
    out = formulas.with_readability_scores(spark.createDataFrame(rows, STATS_SCHEMA)).collect()
    assert len(out) == len(rows)
    for row in out:
        s = TextStatistics(*(row[f] for f in STATS_SCHEMA.fieldNames()))
        expected = formulas.all_scores(s)
        for key, want in expected.items():
            assert _bits(row[key]) == _bits(want), (key, s, row[key], want)
