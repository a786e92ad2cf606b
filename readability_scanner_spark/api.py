"""User-facing facade mirroring the reference's service surface.

A user of pixelmixer/readability-scanner interacts through: a one-off
scan (`GET /scan?url=`, api/routes/scan.py:21-94), the /daily report
(api/routes/daily.py), /export CSV (api/routes/export.py), article
search (api/routes/article_search_routes.py), the word-cloud/ML export
(hug/api.py), and the topics read path (daily_topics_routes.py). This
module exposes the same capabilities as plain functions over DataFrames
so switching is a call-site rename, not a redesign.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from readability_scanner_spark.extraction.readability import extract_main_content
from readability_scanner_spark.functions.formulas import all_scores
from readability_scanner_spark.functions.textstats import calculate_text_statistics
from readability_scanner_spark.operators.analytics import word_topk
from readability_scanner_spark.operators.io_ops import export_csv
from readability_scanner_spark.operators.reports import (
    compat_view,
    daily_report_windows,
    readability_report,
)
from readability_scanner_spark.operators.search import text_search
from readability_scanner_spark.plans.pipeline import extract_and_score


def scan_document(html: str) -> dict:
    """The single-document smoke path (`GET /scan?url=`, scan.py:21-94):
    extract + clean + stats + all scores for one HTML string, locally,
    no Spark session needed. Returns the reference's response dict shape
    (readability preview + metrics)."""
    result = extract_main_content(html)
    stats = calculate_text_statistics(result.text_content)
    scores = all_scores(stats)
    return {
        "parse_failed": result.parse_failed,
        "title": result.title,
        "content": result.content,
        "cleaned_data": result.text_content,
        "image_url": result.image_url,
        "publication_date": result.published_ts,
        "byline": result.byline,
        "spans": result.spans,
        "words": stats.words,
        "sentences": stats.sentences,
        "paragraphs": stats.paragraphs,
        "characters": stats.characters,
        "syllables": stats.syllables,
        "word_syllables": stats.word_syllables,
        "complex_polysillabic_words": stats.complex_polysyllabic_words,  # sic
        **scores,
    }


def scan_table(transcripts: DataFrame, repartition_to: Optional[int] = None) -> DataFrame:
    """Batch scan (§3.1): every turn extracted + scored."""
    return extract_and_score(transcripts, repartition_to)


def daily_report(scored: DataFrame, group_col: str = "conv_id", start=None, end=None, min_docs: int = 1) -> DataFrame:
    """/daily (daily.py:19-51): readability-by-group over a window."""
    return readability_report(scored, group_col, start, end, min_docs)


def daily_trend(scored: DataFrame) -> DataFrame:
    """/graph per-day trend (the reference's TODO, implemented)."""
    return daily_report_windows(scored)


def export_report_csv(report: DataFrame, path: str) -> None:
    """/export (export.py:19-72)."""
    export_csv(report, path)


def search_documents(docs: DataFrame, query: str, text_col: str = "cleaned_data", id_col: str = "conv_id", limit: int = 20) -> DataFrame:
    """Article search (article_search_routes.py:52-113)."""
    return text_search(docs, text_col, query, id_col, limit)


def word_cloud(docs: DataFrame, text_col: str = "cleaned_data", k: int = 5) -> DataFrame:
    """Word-cloud analytics (hug/api.py:250-287)."""
    return word_topk(docs, text_col, k)


def legacy_field_view(scored: DataFrame) -> DataFrame:
    """Reference field-name compatibility ('Flesch Kincaid', 'Cleaned
    Data', ...)."""
    return compat_view(scored)


def summarize(
    docs: DataFrame,
    id_col: str = "conv_id",
    text_col: str = "cleaned_data",
    k: int = 2,
    make_summarize_fn=None,
) -> DataFrame:
    """Summary/headline enrichment (summary_service.py:205-313 /
    daily_topics_jobs.py:113-154): deterministic extractive default;
    pass ``make_summarize_fn`` (per-worker factory → batch fn) to plug
    an LLM client, same seam shape as the embedding operator. ``k``
    applies to the extractive default only — a custom factory controls
    its own summary shape."""
    from readability_scanner_spark.operators.summarize import summarize_docs

    return summarize_docs(docs, id_col, text_col, k, make_summarize_fn)
