"""User-facing facade for the reference's one-off scan.

A user of pixelmixer/readability-scanner interacts through: a one-off
scan (`GET /scan?url=`, api/routes/scan.py:21-94), the /daily report
(api/routes/daily.py), /export CSV (api/routes/export.py), article
search (api/routes/article_search_routes.py), the word-cloud/ML export
(hug/api.py), and the topics read path (daily_topics_routes.py). Only
the scan is a composition, so only it lives here; the others are the
operators themselves, called directly: ``plans.pipeline.extract_and_score``
(batch scan), ``operators.reports.readability_report`` /
``daily_report_windows`` / ``compat_view``, ``operators.io_ops.export_csv``,
``operators.search.text_search``, ``operators.analytics.word_topk`` and
``operators.summarize.summarize_docs``.
"""

from __future__ import annotations

from readability_scanner_spark.extraction.readability import extract_main_content
from readability_scanner_spark.functions.formulas import all_scores
from readability_scanner_spark.functions.textstats import calculate_text_statistics


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
