"""readability_scanner_spark — a from-scratch PySpark-native main-content
extraction + readability analytics engine.

Re-expresses the capabilities of the reference system
(pixelmixer/readability-scanner, surveyed in SURVEY.md) as idiomatic
Spark: DataFrame transforms, Arrow-vectorized pandas UDFs for the DOM
work, pure Column expressions for every formula, and explicit
partitioning/skew handling for 100 TB-scale runs.

Layout:
    dom.py                  minimal DOM built on stdlib html.parser
    extraction/             Readability algorithm, cleaning, dates, images
    functions/              text stats, syllable estimator, formulas, UDFs
    sources/                synthetic transcripts generator, table loaders
    plans/                  the flagship extraction pipeline (resumable)
    operators/              analytics / dedup / similarity / text-quality
"""

__version__ = "0.1.0"
