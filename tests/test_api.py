"""Facade smoke tests: the reference-shaped API surface works end to end."""

import pytest

from readability_scanner_spark import api
from readability_scanner_spark.operators.analytics import word_topk
from readability_scanner_spark.operators.io_ops import export_csv
from readability_scanner_spark.operators.reports import (
    compat_view,
    daily_report_windows,
    readability_report,
)
from readability_scanner_spark.operators.search import text_search
from readability_scanner_spark.operators.summarize import summarize_docs
from readability_scanner_spark.plans.pipeline import extract_and_score
from readability_scanner_spark.sources.fixtures import make_fixture
from readability_scanner_spark.sources.transcripts import transcripts_df


def test_scan_document_shape():
    out = api.scan_document(make_fixture("plain_article", 1))
    assert not out["parse_failed"]
    assert out["words"] > 50 and 0 <= out["flesch"] <= 100
    assert "complex_polysillabic_words" in out  # reference spelling, snake form
    assert out["dale_chall_grade"]


def test_scan_document_failure_path():
    out = api.scan_document("")
    assert out["parse_failed"] and out["words"] == 0


@pytest.fixture(scope="module")
def scored(spark):
    df = extract_and_score(transcripts_df(spark, 6, seed=42), repartition_to=4).cache()
    df.count()
    yield df
    df.unpersist()


def test_report_search_wordcloud(spark, scored, tmp_path):
    report = readability_report(scored, "conv_id")
    assert report.count() > 0
    trend = daily_report_windows(scored)
    assert trend.count() > 0
    export_csv(report.drop("spans") if "spans" in report.columns else report, str(tmp_path / "csv"))
    assert spark.read.option("header", True).csv(str(tmp_path / "csv")).count() == report.count()

    hits = text_search(scored.where("not parse_failed"), "cleaned_data", "the", "conv_id")
    assert hits.count() > 0
    words = word_topk(scored.where("not parse_failed"), "cleaned_data")
    assert words.count() == 5

    view = compat_view(scored)
    assert "Flesch Kincaid" in view.columns


def test_summarize_facade(spark, scored):
    out = summarize_docs(scored.limit(20), "conv_id", "cleaned_data")
    rows = out.collect()
    assert set(out.columns) == {"conv_id", "headline", "summary"}
    assert len(rows) == 20
    assert any(r.summary for r in rows)
