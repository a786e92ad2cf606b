"""The fused Arrow/pandas pass — the only Python in the hot path.

Per BASELINE.json input_hint: "vectorized pandas/Arrow UDFs (no per-row
Python) throughout". Spark hands the mapInPandas body an Arrow batch
(bounded by spark.sql.execution.arrow.maxRecordsPerBatch, see
config.py); inside the batch we run a tight Python loop over strings —
one DOM parse per document, parser state reused, no per-row
Spark↔Python round trip.

Fuses the reference's per-article stages into ONE pass
(SURVEY.md §2.1 UDF surface), extract_stats_partition:
  E1 readability extraction + E2 cleaning + E4 dates + S3 image, one
  shared DOM parse (reference round-trips HTTP per article instead,
  news-scanner/scanner/content_extractor.py:54-110), then T1–T7 text
  statistics on the extracted text
  (news-scanner/readability/text_stats.py:136-201), then F1–F9 from
  those floored stats with the pure-Python formulas
  (functions/formulas.py, bit-identical to their Column binding).
  Scoring here costs a few µs per turn; the same formulas as Column
  expressions above the MapInPandas would add a JVM projection and
  ~1,100 Py4J calls of plan construction to every pass.
EXTRACT_SCHEMA, STATS_SCHEMA and SCORES_SCHEMA are the one declaration
of the pass's output columns; plans/pipeline.py builds its output
schema from them.

Failure policy: a row never throws — parse failures become
parse_failed=True rows (the reference's 204/no-content path,
content_extractor.py:107-110; task-fatal errors would kill 10^12-turn
jobs).
"""

from __future__ import annotations

import html as _html

import pandas as pd

# module scope, NOT inside the per-row functions: extract_one runs once
# per document, and even a cached `import` statement pays a sys.modules
# lookup + binding per call — measurable at 10^12 rows (round-4 fix per
# VERDICT; the modules are same-package pure python, no cycle)
from readability_scanner_spark.extraction.pdf import extract_pdf, is_pdf
from readability_scanner_spark.extraction.readability import extract_main_content
from readability_scanner_spark.functions.formulas import all_scores
from readability_scanner_spark.functions.textstats import TextStatistics, calculate_text_statistics
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("content", StringType()),
        StructField("text_content", StringType()),
        StructField("title", StringType()),
        StructField("image_url", StringType()),
        StructField("published_ts", TimestampType()),
        # [start, end] pairs; plain nested arrays convert to Arrow an
        # order of magnitude faster than per-row lists of python dicts
        StructField("spans", ArrayType(ArrayType(LongType()))),
        StructField("parse_failed", BooleanType()),
        StructField("content_ratio", DoubleType()),
    ]
)

STATS_SCHEMA = StructType(
    [
        StructField("words", LongType()),
        StructField("sentences", LongType()),
        StructField("paragraphs", LongType()),
        StructField("characters", LongType()),
        StructField("syllables", LongType()),
        StructField("word_syllables", DoubleType()),
        StructField("complex_polysyllabic_words", LongType()),
    ]
)

# F1–F9 + grade bucket, named as formulas.all_scores keys them
SCORES_SCHEMA = StructType(
    [
        StructField("flesch", DoubleType()),
        StructField("flesch_kincaid", DoubleType()),
        StructField("smog", DoubleType()),
        StructField("dale_chall", DoubleType()),
        StructField("dale_chall_grade", StringType()),
        StructField("coleman_liau", DoubleType()),
        StructField("gunning_fog", DoubleType()),
        StructField("spache", DoubleType()),
        StructField("automated_readability", DoubleType()),
    ]
)


_EXTRACT_COLS = EXTRACT_SCHEMA.fieldNames()
_STATS_COLS = STATS_SCHEMA.fieldNames()
_SCORE_COLS = SCORES_SCHEMA.fieldNames()


def extract_one(raw: str) -> tuple:
    """Extraction for a single document: E1+E2+E4+S3 fused — head
    metadata (dates/images) comes off the same first DOM parse the
    article extraction uses. Never raises.

    Format dispatch (north_rule: "HTML boilerplate strip, PDF/layout
    parse, DOM heuristics" are ONE extraction surface): payloads that
    sniff as PDF (%PDF- header) take the pure-stdlib layout parser in
    extraction/pdf.py; everything else is treated as HTML."""
    try:
        if raw is None or not raw.strip():
            return ("", "", "", None, None, [], True, 0.0)
        if is_pdf(raw):
            return _extract_pdf_one(raw)
        result = extract_main_content(raw)
        published = result.published_ts
        if published is not None:
            published = published.replace(tzinfo=None)  # spark naive-UTC
        return (
            result.content,
            result.text_content,
            result.title,
            result.image_url,
            published,
            [[s, e] for s, e in result.spans],
            result.parse_failed,
            result.content_ratio,
        )
    except Exception:
        return ("", "", "", None, None, [], True, 0.0)


def _extract_pdf_one(raw: str) -> tuple:
    """PDF leg of the extract_one dispatch (same output tuple).

    text_content keeps the layout newlines (single \\n per line, blank
    line between pages) — a PDF's geometry IS its paragraph structure,
    and the stats stage counts paragraphs by blank lines. content is a
    minimal <p>-per-block HTML rendering so downstream HTML consumers
    (previews, cleaning) see the same shape the HTML leg produces.
    spans stay empty: source offsets are meaningless through a
    FlateDecoded content stream (documented divergence from the HTML
    leg's raw-offset spans). Parse failures surface as
    parse_failed=True via the caller's except arm."""
    result = extract_pdf(raw)
    text = result.text
    content = ""
    if text:
        blocks = [b for b in text.split("\n\n") if b.strip()]
        content = "<div>" + "".join(
            "<p>" + _html.escape(b).replace("\n", "<br/>") + "</p>" for b in blocks
        ) + "</div>"
    published = result.created_ts
    if published is not None:
        published = published.replace(tzinfo=None)  # spark naive-UTC
    return (
        content,
        text,
        result.title,
        None,  # a text-operator parse has no primary image
        published,
        [],
        # match the HTML leg's semantics (ADVICE r3): a structurally
        # valid PDF with no text-showing operators (vector/image-only
        # pages) is an empty extraction, and empty extractions are
        # excluded from report averages via ~parse_failed
        not text,
        # clamp like the HTML leg (readability.py): FlateDecoded text can
        # be longer than its raw container, and downstream
        # mean_content_ratio consumers assume a 0..1 fraction
        min(1.0, len(text) / max(len(raw), 1)),
    )


def stats_one(text: str) -> tuple:
    try:
        s = calculate_text_statistics(text or "")
        return (
            s.words,
            s.sentences,
            s.paragraphs,
            s.characters,
            s.syllables,
            s.word_syllables,
            s.complex_polysyllabic_words,
        )
    except Exception:
        return (1, 1, 1, 0, 1, 1.0, 0)  # reference's error sentinel


def extract_stats_partition(batches, passthrough: list[str]):
    """mapInPandas body: ONE python pass per partition doing extraction +
    stats + scores — avoids a second Arrow round trip for the stats
    stage and a JVM projection for the formulas. Output columns: the
    passthrough ones, then EXTRACT_SCHEMA, STATS_SCHEMA, SCORES_SCHEMA."""
    n_ex, n_st = len(_EXTRACT_COLS), len(_STATS_COLS)
    for pdf in batches:
        ex = [extract_one(raw) for raw in pdf["text"]]
        st = [stats_one(e[1]) for e in ex]
        # stats_one's tuple is TextStatistics' field order
        sc = [all_scores(TextStatistics(*t)) for t in st]
        out = pd.DataFrame(
            {c: pdf[c].values for c in passthrough}
        )
        # one transpose pass instead of a listcomp per output column
        ex_t = list(zip(*ex)) if ex else [()] * n_ex
        st_t = list(zip(*st)) if st else [()] * n_st
        for i, col in enumerate(_EXTRACT_COLS):
            out[col] = ex_t[i]
        for i, col in enumerate(_STATS_COLS):
            out[col] = st_t[i]
        for col in _SCORE_COLS:
            out[col] = [d[col] for d in sc]
        yield out

