"""Readability formulas F1–F9 (SURVEY.md §2.1).

Exact constants and guards from the reference
(news-scanner/readability/formulas.py:15-239): every score is 0.0 when
sentences==0 or words==0 (Coleman-Liau only requires words>0, SMOG only
sentences>0) and clamped >= 0; Flesch additionally clamped <= 100.

Two bindings of one formula set:
  * pure-Python — the production scorer. The fused pass
    (functions/udfs.py::extract_stats_partition) appends the nine score
    columns from each row's floored stats, so the flagship plan carries
    no formula projection above its MapInPandas; goldens and the
    single-document API use the same functions.
  * native Spark Column expressions (`with_readability_scores`) — the
    JVM reference the parity tests compare the Python scorer against,
    and the binding for stats that already live in Spark columns.

The Python forms keep the Column binding's operation order (left-assoc
products, `greatest(raw, 0.0)` argument order, Dale–Chall's `+ 0.0`
arm), so both bindings return bit-identical doubles
(tests/test_formulas.py pins it).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from readability_scanner_spark.functions.textstats import TextStatistics

# --- pure-Python (production scorer, goldens, API) -------------------------


def flesch_reading_ease(s: TextStatistics) -> float:
    if s.sentences <= 0 or s.words <= 0:
        return 0.0
    raw = 206.835 - 1.015 * (s.words / s.sentences) - 84.6 * (s.syllables / s.words)
    return min(max(raw, 0.0), 100.0)


def flesch_kincaid_grade(s: TextStatistics) -> float:
    if s.sentences <= 0 or s.words <= 0:
        return 0.0
    return max(0.39 * (s.words / s.sentences) + 11.8 * (s.syllables / s.words) - 15.59, 0.0)


def smog_index(s: TextStatistics) -> float:
    if s.sentences <= 0:
        return 0.0
    return max(1.0430 * math.sqrt(s.complex_polysyllabic_words * (30.0 / s.sentences)) + 3.1291, 0.0)


def dale_chall(s: TextStatistics) -> float:
    if s.sentences <= 0 or s.words <= 0:
        return 0.0
    pdw = (s.complex_polysyllabic_words / s.words) * 100
    raw = 0.1579 * pdw + 0.0496 * (s.words / s.sentences)
    return max(raw + (3.6365 if pdw > 5 else 0.0), 0.0)


def dale_chall_grade(score: float) -> str:
    if score <= 4.9:
        return "4th grade or lower"
    if score <= 5.9:
        return "5th-6th grade"
    if score <= 6.9:
        return "7th-8th grade"
    if score <= 7.9:
        return "9th-10th grade"
    if score <= 8.9:
        return "11th-12th grade"
    if score <= 9.9:
        return "13th-15th grade (college)"
    return "16th grade or higher (graduate)"


def coleman_liau(s: TextStatistics) -> float:
    if s.words <= 0:
        return 0.0
    raw = (
        0.0588 * (s.characters / s.words) * 100
        - 0.296 * (s.sentences / s.words) * 100
        - 15.8
    )
    return max(raw, 0.0)


def gunning_fog(s: TextStatistics) -> float:
    if s.sentences <= 0 or s.words <= 0:
        return 0.0
    return max(0.4 * ((s.words / s.sentences) + (s.complex_polysyllabic_words / s.words) * 100), 0.0)


def spache(s: TextStatistics) -> float:
    if s.sentences <= 0 or s.words <= 0:
        return 0.0
    raw = (
        0.141 * (s.words / s.sentences)
        + 0.086 * (s.complex_polysyllabic_words / s.words) * 100
        + 0.839
    )
    return max(raw, 0.0)


def automated_readability(s: TextStatistics) -> float:
    if s.sentences <= 0 or s.words <= 0:
        return 0.0
    return max(4.71 * (s.characters / s.words) + 0.5 * (s.words / s.sentences) - 21.43, 0.0)


def all_scores(s: TextStatistics) -> dict[str, float | str]:
    """The nine score fields, in the order of ``with_readability_scores``
    and udfs.SCORES_SCHEMA."""
    dc = dale_chall(s)
    return {
        "flesch": flesch_reading_ease(s),
        "flesch_kincaid": flesch_kincaid_grade(s),
        "smog": smog_index(s),
        "dale_chall": dc,
        "dale_chall_grade": dale_chall_grade(dc),
        "coleman_liau": coleman_liau(s),
        "gunning_fog": gunning_fog(s),
        "spache": spache(s),
        "automated_readability": automated_readability(s),
    }


# --- Spark Column expressions (JVM reference) ------------------------------
# All JVM-side; inputs are stat columns, e.g. the fused pass's stats or the
# pure-SQL columns in functions/columns.py.


def _guard(words: Column, sentences: Column, expr: Column) -> Column:
    return F.when((sentences > 0) & (words > 0), F.greatest(expr, F.lit(0.0))).otherwise(
        F.lit(0.0)
    )


def flesch_col(words: Column, sentences: Column, syllables: Column) -> Column:
    raw = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sentences)
        - F.lit(84.6) * (syllables / words)
    )
    return F.when(
        (sentences > 0) & (words > 0),
        F.least(F.greatest(raw, F.lit(0.0)), F.lit(100.0)),
    ).otherwise(F.lit(0.0))


def flesch_kincaid_col(words: Column, sentences: Column, syllables: Column) -> Column:
    raw = F.lit(0.39) * (words / sentences) + F.lit(11.8) * (syllables / words) - F.lit(15.59)
    return _guard(words, sentences, raw)


def smog_col(sentences: Column, complex_words: Column) -> Column:
    raw = F.lit(1.0430) * F.sqrt(complex_words * (F.lit(30.0) / sentences)) + F.lit(3.1291)
    return F.when(sentences > 0, F.greatest(raw, F.lit(0.0))).otherwise(F.lit(0.0))


def dale_chall_col(words: Column, sentences: Column, complex_words: Column) -> Column:
    pdw = (complex_words / words) * 100
    raw = F.lit(0.1579) * pdw + F.lit(0.0496) * (words / sentences)
    raw = raw + F.when(pdw > 5, F.lit(3.6365)).otherwise(F.lit(0.0))
    return _guard(words, sentences, raw)


def dale_chall_grade_col(score: Column) -> Column:
    return (
        F.when(score <= 4.9, "4th grade or lower")
        .when(score <= 5.9, "5th-6th grade")
        .when(score <= 6.9, "7th-8th grade")
        .when(score <= 7.9, "9th-10th grade")
        .when(score <= 8.9, "11th-12th grade")
        .when(score <= 9.9, "13th-15th grade (college)")
        .otherwise("16th grade or higher (graduate)")
    )


def coleman_liau_col(words: Column, sentences: Column, characters: Column) -> Column:
    raw = (
        F.lit(0.0588) * (characters / words) * 100
        - F.lit(0.296) * (sentences / words) * 100
        - F.lit(15.8)
    )
    return F.when(words > 0, F.greatest(raw, F.lit(0.0))).otherwise(F.lit(0.0))


def gunning_fog_col(words: Column, sentences: Column, complex_words: Column) -> Column:
    raw = F.lit(0.4) * ((words / sentences) + (complex_words / words) * 100)
    return _guard(words, sentences, raw)


def spache_col(words: Column, sentences: Column, complex_words: Column) -> Column:
    raw = (
        F.lit(0.141) * (words / sentences)
        + F.lit(0.086) * (complex_words / words) * 100
        + F.lit(0.839)
    )
    return _guard(words, sentences, raw)


def automated_readability_col(words: Column, sentences: Column, characters: Column) -> Column:
    raw = F.lit(4.71) * (characters / words) + F.lit(0.5) * (words / sentences) - F.lit(21.43)
    return _guard(words, sentences, raw)


def with_readability_scores(df: DataFrame) -> DataFrame:
    """Append all 8 scores + grade bucket as native Column expressions
    over the stats columns ``words``, ``sentences``, ``characters``,
    ``syllables`` and ``complex_polysyllabic_words``."""
    w, s = F.col("words").cast("double"), F.col("sentences").cast("double")
    c, y = F.col("characters").cast("double"), F.col("syllables").cast("double")
    x = F.col("complex_polysyllabic_words").cast("double")
    dc = dale_chall_col(w, s, x)
    return df.withColumns(
        {
            "flesch": flesch_col(w, s, y),
            "flesch_kincaid": flesch_kincaid_col(w, s, y),
            "smog": smog_col(s, x),
            "dale_chall": dc,
            "dale_chall_grade": dale_chall_grade_col(dc),
            "coleman_liau": coleman_liau_col(w, s, c),
            "gunning_fog": gunning_fog_col(w, s, x),
            "spache": spache_col(w, s, x),
            "automated_readability": automated_readability_col(w, s, c),
        }
    )
