"""readability_scanner_spark — a from-scratch PySpark-native main-content
extraction + readability analytics engine.

Re-expresses the capabilities of the reference system
(pixelmixer/readability-scanner, surveyed in SURVEY.md) as idiomatic
Spark: DataFrame transforms, one Arrow-vectorized pandas pass for the
per-document DOM work, stats and scores, Column expressions for the
SQL-side analytics, and explicit partitioning/skew handling for
100 TB-scale runs.

Layout:
    dom.py                  minimal DOM, one-pass regex tokenizer
    extraction/             Readability algorithm, cleaning, dates, images
    functions/              text stats, syllable estimator, formulas, UDFs
    sources/                synthetic transcripts generator, table loaders
    plans/                  the flagship extraction pipeline (resumable)
    operators/              analytics / dedup / similarity / text-quality
"""

__version__ = "0.1.0"
