"""Deterministic synthetic transcripts table (BASELINE.json input_hint).

Schema: (conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp) — `text` carries raw HTML built from the
FIXTURES.md fixture classes.

Scale-minded generation (FIXTURES.md §1 requirements):
  * seeded (seed=42 convention) and distributed — rows are generated
    on the EXECUTORS via a range() → mapInPandas over conversation ids,
    never collected on the driver, so the same generator works at
    sf0.001 for tests and (on a real cluster) at 10^9 conversations.
  * heavy conversation-size skew: ~97% of convs draw 2–20 turns,
    ~3% draw 100–400 turns ("mega-conversations") — plans/pipeline.py's
    per-turn hash repartition must spread them evenly.
  * ts monotone per conversation; ~1% future-dated rows (tests the
    future-date clamp, reference news-scanner/scanner/rss_parser.py:166-172).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from readability_scanner_spark.sources.fixtures import fixture_classes, make_fixture

TRANSCRIPTS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)

_ROLES = ("user", "assistant", "tool")
_TOOLS = (None, "browser", "search", "scraper", None, None)
_EPOCH = datetime(2025, 6, 1, tzinfo=timezone.utc)


def generate_conversation(
    conv_seq: int, seed: int = 42, pdf_rate: float = 0.0
) -> list[dict]:
    """All turns for one conversation. Pure function of (conv_seq, seed,
    pdf_rate). ``pdf_rate`` > 0 makes that fraction of turns carry a PDF
    payload (extraction/pdf.py make_pdf over the same fixture-derived
    text, latin-1 in the string column) — OFF by default so goldens and
    benchmarks over the HTML corpus are unchanged; the flagship
    pipeline's format dispatch handles both."""
    rng = random.Random(seed * 1_000_003 + conv_seq)
    conv_id = f"conv-{seed}-{conv_seq:09d}"
    # skewed size distribution: 3% mega-conversations
    n_turns = rng.randint(100, 400) if rng.random() < 0.03 else rng.randint(2, 20)
    classes = fixture_classes()
    base_ts = _EPOCH + timedelta(minutes=conv_seq % 100_000)
    rows = []
    for turn_idx in range(n_turns):
        cls = classes[rng.randrange(len(classes))]
        ts = base_ts + timedelta(seconds=30 * turn_idx)
        if rng.random() < 0.01:  # future-dated rows
            ts = ts + timedelta(days=4000)
        role = _ROLES[turn_idx % len(_ROLES)]
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "role": role,
                "text": _payload(
                    cls, seed * 7919 + conv_seq * 131 + turn_idx, rng, pdf_rate
                ),
                "tool": rng.choice(_TOOLS) if role == "tool" else None,
                "ts": ts,
            }
        )
    return rows


def _payload(cls: str, fixture_seed: int, rng: "random.Random", pdf_rate: float) -> str:
    # rng.random() is consumed ONLY when pdf_rate > 0: consuming it
    # unconditionally would shift every later draw (tool choice, sizes)
    # and break the bit-identity of the pdf_rate=0.0 corpus with the
    # historical one that goldens and benchmarks depend on. Any
    # pdf_rate > 0 is an explicitly different corpus.
    html = make_fixture(cls, fixture_seed)
    if pdf_rate > 0.0 and rng.random() < pdf_rate:
        from readability_scanner_spark.extraction.cleaning import clean_html_content
        from readability_scanner_spark.extraction.pdf import make_pdf

        text = clean_html_content(html).encode("latin-1", "replace").decode("latin-1")
        return make_pdf(text).decode("latin-1")
    return html


def transcripts_df(
    spark: SparkSession,
    n_conversations: int = 200,
    seed: int = 42,
    partitions: int | None = None,
    pdf_rate: float = 0.0,
) -> DataFrame:
    """Distributed generation: spark.range over conversation ids →
    mapInPandas expanding each id into its turns. No driver-side
    materialization; scales linearly with executors."""

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: list[dict] = []
            for conv_seq in batch["id"]:
                out.extend(generate_conversation(int(conv_seq), seed, pdf_rate))
                if len(out) >= 2000:
                    yield pd.DataFrame(out)
                    out = []
            if out:
                yield pd.DataFrame(out)

    ids = spark.range(n_conversations)
    if partitions:
        ids = ids.repartition(partitions)
    return ids.mapInPandas(expand, schema=TRANSCRIPTS_SCHEMA)
