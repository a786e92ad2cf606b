"""End-to-end pipeline tests: UDF/golden parity, determinism across
parallelism levels, resumable _meta checkpointing (SURVEY.md §5.2)."""

import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.extraction.readability import extract_main_content
from readability_scanner_spark.functions.formulas import with_readability_scores
from readability_scanner_spark.functions.udfs import SCORES_SCHEMA
from readability_scanner_spark.operators.textquality import redact_pii_col
from readability_scanner_spark.plans.pipeline import (
    committed_buckets,
    extract_and_score,
    read_output,
    run_pipeline,
)
from readability_scanner_spark.sources.fixtures import make_fixture
from readability_scanner_spark.sources.transcripts import transcripts_df

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden", "extraction_goldens.json")


@pytest.fixture(scope="module")
def small_transcripts(spark):
    df = transcripts_df(spark, n_conversations=12, seed=42).cache()
    df.count()
    yield df
    df.unpersist()


def test_generator_schema_and_determinism(spark, small_transcripts):
    assert [f.name for f in small_transcripts.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    again = transcripts_df(spark, n_conversations=12, seed=42)
    a = small_transcripts.orderBy("conv_id", "turn_idx").collect()
    b = again.orderBy("conv_id", "turn_idx").collect()
    assert a == b


# extract_and_score's output columns, built from udfs.EXTRACT_SCHEMA and
# STATS_SCHEMA; a change to either moves every reader of the output
SCORED_SCHEMA = (
    "struct<conv_id:string,turn_idx:int,role:string,tool:string,ts:timestamp,"
    "content:string,cleaned_data:string,title:string,image_url:string,"
    "spans:array<array<bigint>>,parse_failed:boolean,content_ratio:double,"
    "words:bigint,sentences:bigint,paragraphs:bigint,characters:bigint,"
    "syllables:bigint,word_syllables:double,complex_polysyllabic_words:bigint,"
    "publication_date:timestamp,flesch:double,flesch_kincaid:double,smog:double,"
    "dale_chall:double,dale_chall_grade:string,coleman_liau:double,"
    "gunning_fog:double,spache:double,automated_readability:double>"
)


def _bits(values) -> list:
    return [struct.pack("<d", v) if isinstance(v, float) else v for v in values]


def test_extract_and_score_end_to_end(spark, small_transcripts):
    out = extract_and_score(small_transcripts).cache()
    try:
        assert out.schema.simpleString() == SCORED_SCHEMA
        total = out.count()
        assert total == small_transcripts.count()
        ok = out.where(~F.col("parse_failed"))
        assert ok.count() > total * 0.8  # only no_content-class rows fail
        row = ok.where(F.col("words") > 50).first()
        assert row.flesch >= 0.0 and row.dale_chall_grade
        assert row.cleaned_data and row.spans
        # the fused pass's Python scores equal the JVM Column binding over
        # the same stats, bit for bit
        ref = with_readability_scores(out.drop(*SCORES_SCHEMA.fieldNames()))
        key = ["conv_id", "turn_idx"]
        got = {tuple(r[:2]): r[2:] for r in out.select(*key, *SCORES_SCHEMA.fieldNames()).collect()}
        want = {tuple(r[:2]): r[2:] for r in ref.select(*key, *SCORES_SCHEMA.fieldNames()).collect()}
        assert len(got) == total and got.keys() == want.keys()
        assert all(_bits(got[k]) == _bits(want[k]) for k in got)
    finally:
        out.unpersist()


def test_udf_matches_pure_python_goldens(spark):
    """Per-turn text equality: the Spark UDF path must produce byte-equal
    text_content/spans to the pinned pure-Python implementation."""
    with open(GOLDEN_PATH) as fh:
        goldens = json.load(fh)
    rows = [
        ("c0", i, "user", make_fixture(g["cls"], g["seed"]), None, None)
        for i, g in enumerate(goldens)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = extract_and_score(df).orderBy("turn_idx").collect()
    for got, g in zip(out, goldens):
        assert got.cleaned_data == g["text_content"], (g["cls"], g["seed"])
        assert got.parse_failed == g["parse_failed"]
        assert [list(s) for s in got.spans] == g["spans"]
        assert got.words == g["stats"]["words"]
        assert got.syllables == g["stats"]["syllables"]
        assert got.flesch == pytest.approx(g["scores"]["flesch"])
        assert got.smog == pytest.approx(g["scores"]["smog"])
        assert got.dale_chall_grade == g["scores"]["dale_chall_grade"]


def test_determinism_across_parallelism(small_transcripts):
    """local[2]-vs-local[8] analog: different partition counts must give
    identical ordered output (guards repartition nondeterminism)."""
    one = (
        extract_and_score(small_transcripts.repartition(2))
        .select("conv_id", "turn_idx", "cleaned_data", "flesch", "words")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    other = (
        extract_and_score(small_transcripts.repartition(16))
        .select("conv_id", "turn_idx", "cleaned_data", "flesch", "words")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert one == other


def test_future_ts_clamped(spark):
    df = spark.createDataFrame(
        [("c", 0, "user", "<p>Hello world, text here.</p>", None, "2099-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = extract_and_score(df).first()
    assert row.ts.year < 2099


def test_resume_from_checkpoint(spark, small_transcripts, tmp_path):
    out_dir = str(tmp_path / "out")
    summary1 = run_pipeline(spark, small_transcripts, out_dir, n_buckets=4)
    assert summary1["buckets_run"] == 4
    assert committed_buckets(out_dir) == {0, 1, 2, 3}
    total = read_output(spark, out_dir).count()
    assert total == small_transcripts.count()

    # simulate a crash that lost bucket 2's commit
    os.remove(os.path.join(out_dir, "_meta", "bucket-2.json"))
    summary2 = run_pipeline(spark, small_transcripts, out_dir, n_buckets=4)
    assert summary2["buckets_run"] == 1  # only the lost bucket re-ran
    assert read_output(spark, out_dir).count() == total  # no duplicates

    # fully-committed rerun is a no-op
    summary3 = run_pipeline(spark, small_transcripts, out_dir, n_buckets=4)
    assert summary3["buckets_run"] == 0


def test_meta_metrics_recorded(spark, small_transcripts, tmp_path):
    out_dir = str(tmp_path / "m")
    run_pipeline(spark, small_transcripts, out_dir, n_buckets=2)
    metas = [
        json.load(open(os.path.join(out_dir, "_meta", f)))
        for f in sorted(os.listdir(os.path.join(out_dir, "_meta")))
    ]
    assert sum(m["turns_processed"] for m in metas) == small_transcripts.count()
    for m in metas:
        assert 0.0 <= m["mean_content_ratio"] <= 1.0
        assert m["committed_at"]


@pytest.mark.parametrize("mega", [[5000], [2500, 2500]], ids=["one_key", "two_keys"])
def test_mega_conversations_spread_evenly(spark, mega):
    """One or two mega-conversations beside 40 five-turn ones: the pass's
    per-turn hash gives every core one partition of an even share of the
    rows, whatever the conversation sizes (a conv_id hash puts a mega
    conversation on one task; an un-numbered repartition is coalesced by
    AQE to one task at this input size)."""
    rows = [
        (f"mega{k}", i, "user", "<p>x</p>", None, None) for k, n in enumerate(mega) for i in range(n)
    ] + [(f"c{c}", i, "user", "<p>x</p>", None, None) for c in range(40) for i in range(5)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    counts = [
        r["count"]
        for r in extract_and_score(df).groupBy(F.spark_partition_id().alias("pid")).count().collect()
    ]
    assert len(counts) == spark.sparkContext.defaultParallelism
    assert sum(counts) == len(rows)
    assert max(counts) <= 1.1 * len(rows) / len(counts)


def test_pipeline_optional_pii_redaction(spark):
    rows = [
        ("c1", 0, "user",
         "<p>Reach me at jane.doe@example.com or 555-123-4567 for the full story, "
         "which continues with several sentences of ordinary article text after "
         "the contact details, as articles tend to do in practice.</p>",
         None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    scored = extract_and_score(df)
    clean = scored.withColumn(
        "cleaned_data", redact_pii_col(F.col("cleaned_data"))
    ).first()
    assert "[EMAIL]" in clean.cleaned_data and "[PHONE]" in clean.cleaned_data
    assert "jane.doe@example.com" not in clean.cleaned_data
    raw = scored.first()
    assert "jane.doe@example.com" in raw.cleaned_data  # default unchanged
    # stats computed on the ORIGINAL text: identical either way
    assert (clean.words, clean.sentences) == (raw.words, raw.sentences)


def test_resume_rejects_mismatched_bucket_count(spark, tmp_path):
    from readability_scanner_spark.plans.pipeline import run_pipeline
    from readability_scanner_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "nb")
    df = transcripts_df(spark, n_conversations=4, seed=1)
    run_pipeline(spark, df, out, n_buckets=2)
    with pytest.raises(ValueError, match="n_buckets=4 .* n_buckets=2"):
        run_pipeline(spark, df, out, n_buckets=4)
    # same count resumes cleanly (no-op)
    assert run_pipeline(spark, df, out, n_buckets=2)["buckets_run"] == 0


def test_read_output_skips_uncommitted_buckets(spark, tmp_path):
    import os
    import shutil

    from readability_scanner_spark.plans.pipeline import read_output, run_pipeline
    from readability_scanner_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "ro")
    df = transcripts_df(spark, n_conversations=6, seed=2)
    run_pipeline(spark, df, out, n_buckets=3)
    total = read_output(spark, out).count()
    # simulate a crash AFTER the parquet write but BEFORE the meta commit
    os.remove(os.path.join(out, "_meta", "bucket-1.json"))
    visible = read_output(spark, out).count()
    assert 0 < visible < total  # uncommitted bucket hidden from readers
    # resume re-commits it; reads are whole again
    run_pipeline(spark, df, out, n_buckets=3)
    assert read_output(spark, out).count() == total


def test_read_output_refuses_when_nothing_committed(spark, tmp_path):
    """A run killed during the FIRST bucket (parquet written, _meta not
    yet committed) must not be readable — and an empty-but-initialized
    output dir must fail with the clear no-committed-buckets error, not
    a parquet path-not-found."""
    import os

    from readability_scanner_spark.plans.pipeline import read_output, run_pipeline
    from readability_scanner_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "ro0")
    df = transcripts_df(spark, n_conversations=4, seed=3)
    run_pipeline(spark, df, out, n_buckets=2)
    # wipe ALL commit markers: simulates death inside the very first bucket
    for f in os.listdir(os.path.join(out, "_meta")):
        if f.startswith("bucket-"):
            os.remove(os.path.join(out, "_meta", f))
    with pytest.raises(FileNotFoundError, match="no committed buckets"):
        read_output(spark, out)
