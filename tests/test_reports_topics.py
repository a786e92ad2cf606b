"""Reports (A1 over full scored output, compat view) + daily-topics plan."""

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.operators.reports import (
    A1_METRICS,
    compat_view,
    daily_report_windows,
    readability_report,
)
from readability_scanner_spark.plans.pipeline import extract_and_score
from readability_scanner_spark.plans.topics import build_daily_topics
from readability_scanner_spark.sources.transcripts import transcripts_df


@pytest.fixture(scope="module")
def scored(spark):
    df = extract_and_score(transcripts_df(spark, 10, seed=42), repartition_to=8).cache()
    df.count()
    yield df
    df.unpersist()


def test_compat_view_field_names(scored):
    view = compat_view(scored)
    cols = set(view.columns)
    for legacy in (
        "word syllables",
        "complex polysillabic words",
        "Flesch",
        "Flesch Kincaid",
        "Dale Chall: Grade",
        "Cleaned Data",
        "Automated Readability",
    ):
        assert legacy in cols, legacy
    # values unchanged, only names
    a = scored.agg(F.sum("flesch")).first()[0]
    b = view.agg(F.sum(F.col("Flesch"))).first()[0]
    assert a == b


def test_readability_report_matches_manual(spark, scored):
    rep = {r.grp: r for r in readability_report(scored, "conv_id", min_docs=1).collect()}
    ok = scored.where(~F.col("parse_failed"))
    manual = {
        r.conv_id: r
        for r in ok.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.avg("flesch").alias("f"), F.avg("words").alias("w"))
        .collect()
    }
    assert set(rep) == set(manual)
    for k, row in rep.items():
        assert row.documents == manual[k].n
        assert row.avg_flesch == pytest.approx(manual[k].f)
        assert row.avg_words == pytest.approx(manual[k].w)
    # all 15 metric averages present
    for m in A1_METRICS:
        assert f"avg_{m}" in rep[next(iter(rep))].asDict()


def test_readability_report_window_and_having(spark, scored):
    full = readability_report(scored, "conv_id", min_docs=1).count()
    filtered = readability_report(scored, "conv_id", min_docs=5).count()
    assert filtered <= full
    narrow = readability_report(
        scored, "conv_id", start=datetime.datetime(2100, 1, 1), min_docs=1
    ).count()
    assert narrow == 0


def test_daily_report_windows(scored):
    rows = daily_report_windows(scored).collect()
    assert rows
    assert sum(r.documents for r in rows) == scored.where(~F.col("parse_failed")).count()


def test_build_daily_topics(spark):
    rng = np.random.RandomState(3)
    base_a, base_b = rng.randn(8), rng.randn(8)
    rows = []
    day0 = datetime.datetime(2025, 6, 1, 12, 0, 0)
    for i in range(8):
        vec = base_a + 0.03 * rng.randn(8)
        rows.append((i, vec.tolist(), day0 + datetime.timedelta(minutes=i), f"title-{i}", f"host-{i % 2}"))
    for i in range(8, 14):
        vec = base_b + 0.03 * rng.randn(8)
        rows.append((i, vec.tolist(), day0 + datetime.timedelta(minutes=i), f"title-{i}", f"host-{i % 2}"))
    # noise doc, different day, no cluster
    rows.append((99, rng.randn(8).tolist(), day0 + datetime.timedelta(days=1), "noise", "h"))
    docs = spark.createDataFrame(
        rows, "doc_id long, embedding array<double>, ts timestamp, title string, host string"
    )
    topics = build_daily_topics(
        docs, "doc_id", "embedding", "ts", ["title", "host"], threshold=0.9, min_group_size=3
    ).collect()
    assert len(topics) == 2
    sizes = sorted(t.article_count for t in topics)
    assert sizes == [6, 8]
    for t in topics:
        ids = [a.doc_id for a in t.articles]
        assert len({i < 8 for i in ids}) == 1  # no cross-cluster mixing
        assert t.date_range_start <= t.date_range_end
        assert t.articles[0].title.startswith("title-")


def test_daily_topics_query_pools_every_row_past_seven_days(spark, tmp_path):
    """q_daily_topics must lift the 7-day lookback as well as the
    newest-500 cap: its oracle clusters every embedding. 40 identical
    vectors 8 h apart span 13 days; all of them form one topic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    n = 40
    pq.write_table(
        pa.table(
            {
                # ts = 2025-06-01 + vec_id minutes
                "vec_id": pa.array([i * 8 * 60 for i in range(n)], pa.int64()),
                "embedding": pa.array([[1.0, 0.5, 0.25]] * n, pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in range(n)], pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    topics = entry.q_daily_topics(spark, str(tmp_path)).collect()
    assert [t.article_count for t in topics] == [n]


def test_daily_topics_query_builds_without_a_spark_job(spark, tmp_path):
    """Constructing q_daily_topics runs no Spark job: the pool is the
    whole table, so there is no row count, ts span or anchor to fetch
    first, and the table reader takes its schema from the parquet footer.
    The collect after it does run jobs, so the probe is live; the counts
    are read after it, once the listener bus has caught up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(20), pa.int64()),
                "embedding": pa.array([[1.0, 0.5, 0.25]] * 20, pa.list_(pa.float32())),
                "label": pa.array([0] * 20, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    sc = spark.sparkContext
    jobs = sc.statusTracker().getJobIdsForGroup
    try:
        sc.setJobGroup("daily-topics-read", "table read")
        entry._t(spark, str(tmp_path), "embeddings")
        sc.setJobGroup("daily-topics-build", "construction")
        query = entry.q_daily_topics(spark, str(tmp_path))
        sc.setJobGroup("daily-topics-run", "collect")
        assert [t.article_count for t in query.collect()] == [20]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(jobs("daily-topics-read")) == len(jobs("daily-topics-build")) == 0
    assert jobs("daily-topics-run")


# --- summary / headline enrichment (LLM-seam analog) ------------------------------


def test_extractive_summary_scoring_and_ties():
    from readability_scanner_spark.operators.summarize import extractive_summary

    # "alpha beta" words repeat most -> that sentence wins the headline;
    # top-2 keeps document order in the summary
    text = (
        "Unique opener here. Alpha beta alpha beta gamma! Alpha beta again? Tail."
    )
    headline, summary = extractive_summary(text, 2)
    assert headline == "Alpha beta alpha beta gamma"
    assert summary == "Alpha beta alpha beta gamma. Alpha beta again."
    # exact tie on score -> earlier sentence wins
    h2, _ = extractive_summary("Same words here. Same words here.", 1)
    assert h2 == "Same words here"


def test_extractive_summary_edges():
    from readability_scanner_spark.operators.summarize import extractive_summary

    assert extractive_summary("", 2) == ("", "")
    assert extractive_summary("   \n\t ", 2) == ("", "")
    assert extractive_summary("no terminator at all", 2) == (
        "no terminator at all",
        "no terminator at all.",
    )
    # whitespace inside sentences normalizes to single spaces
    h, s = extractive_summary("spread\n\tacross   lines.", 1)
    assert (h, s) == ("spread across lines", "spread across lines.")


def test_summarize_docs_seam_and_batch_invariance(spark):
    from readability_scanner_spark.operators.summarize import (
        extractive_summary,
        summarize_docs,
    )

    rows = [
        (i, f"Sentence one of doc {i}. Repeat repeat repeat words. Final bit?")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.headline, r.summary) for r in summarize_docs(df, "doc_id", "text").collect()}
    assert len(out) == 40
    for i, text in rows:
        assert out[i] == extractive_summary(text, 2)
    # repartitioning (different Arrow batch boundaries) changes nothing
    out2 = {
        r.doc_id: (r.headline, r.summary)
        for r in summarize_docs(df.repartition(7), "doc_id", "text").collect()
    }
    assert out2 == out
    # the pluggable factory is honored (an "LLM client" stand-in)
    def fake_llm_factory():
        def fn(texts):
            return [("HL", f"LEN:{len(t)}") for t in texts]
        return fn

    out3 = {
        r.doc_id: r.summary
        for r in summarize_docs(df, "doc_id", "text", make_summarize_fn=fake_llm_factory).collect()
    }
    assert out3[0] == f"LEN:{len(rows[0][1])}"


def test_extractive_summary_ascii_whitespace_parity():
    """Python \\s is Unicode, the DuckDB oracle's RE2 \\s is ASCII and
    excludes VT — both sides now use the explicit [ \\t\\n\\x0b\\x0c\\r]
    class. NBSP must NOT split/collapse; VT must."""
    import duckdb

    from readability_scanner_spark.operators.summarize import extractive_summary

    texts = [
        "first\x0bsentence here. second\xa0keeps\xa0nbsp!",  # VT + NBSP
        "ends with period.\x0b",  # trailing VT after terminator
        "a\u2028b. unicode line-sep char must not split or collapse.",
    ]
    con = duckdb.connect()
    sql = r"""
    WITH parts AS (
      SELECT regexp_split_to_array(?, '[.!?]+(?:[ \t\n\x0b\x0c\r]+|$)') AS arr
    ),
    sents AS (
      SELECT pos, sent FROM (
        SELECT generate_subscripts(arr, 1)::BIGINT AS pos,
               trim(regexp_replace(unnest(arr), '[ \t\n\x0b\x0c\r]+', ' ', 'g')) AS sent
        FROM parts
      ) WHERE sent <> ''
    )
    SELECT list(sent ORDER BY pos) FROM sents
    """
    from readability_scanner_spark.operators.summarize import split_sentences

    for t in texts:
        sql_sents = con.execute(sql, [t]).fetchone()[0] or []
        assert split_sentences(t) == sql_sents, t
        # and the full summary path stays deterministic on such input
        extractive_summary(t, 2)


def test_extractive_summary_sentence_split_property_vs_duckdb():
    """Property: for arbitrary printable-ASCII + control-whitespace
    text, Python split_sentences equals the oracle's SQL recompute
    (the exact sub-expression the driver hashes)."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from readability_scanner_spark.operators.summarize import split_sentences

    con = duckdb.connect()
    sql = r"""
    WITH parts AS (
      SELECT regexp_split_to_array(?, '[.!?]+(?:[ \t\n\x0b\x0c\r]+|$)') AS arr
    ),
    sents AS (
      SELECT pos, sent FROM (
        SELECT generate_subscripts(arr, 1)::BIGINT AS pos,
               trim(regexp_replace(unnest(arr), '[ \t\n\x0b\x0c\r]+', ' ', 'g')) AS sent
        FROM parts
      ) WHERE sent <> ''
    )
    SELECT list(sent ORDER BY pos) FROM sents
    """

    @given(
        st.text(
            alphabet=st.characters(
                min_codepoint=0x09,
                max_codepoint=0x7E,
                include_characters=" .!?\t\n\x0b\x0c\r",
            ),
            max_size=200,
        )
    )
    @settings(max_examples=80, deadline=None)
    def check(text):
        assert split_sentences(text) == (con.execute(sql, [text]).fetchone()[0] or [])

    check()
