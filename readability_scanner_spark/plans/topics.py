"""Daily-topics pipeline (SURVEY.md §3.3 Spark shape).

Reference flow (celery hourly → ml-service → Mongo full refresh,
news-scanner/celery_app/jobs/daily_topics_jobs.py:35-175,
ml-service/main.py:392-497): 7-day window of embedded articles, greedy
cosine clustering (threshold 0.75, min group 3, 500-article cap),
nested article structs per group, delete_many+insert_many refresh.

Spark shape: window filter → per-window applyInPandas greedy clustering
(deterministic, order-dependent inside a window; windows independent and
parallel) → join members back → collect_list(struct) per topic →
INSERT OVERWRITE. The LLM summary/headline enrichment stage is out of
engine scope (network service) — the group structure and metadata match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from readability_scanner_spark.operators.similarity import greedy_topic_groups


def build_daily_topics(
    docs: DataFrame,
    id_col: str,
    vec_col: str,
    ts_col: str,
    article_cols: list[str],
    lookback_days: int = 7,
    threshold: float = 0.75,
    min_group_size: int = 3,
    max_per_window: int = 500,
) -> DataFrame:
    """docs must carry id, embedding, ts + article payload columns.

    Returns topic_groups(topic_id, article_count, date_range_start,
    date_range_end, articles: array<struct<...article_cols>>) — the
    reference's daily_topics document shape (ml-service/main.py:471-488).

    Reference semantics: ONE clustering pool of the ``max_per_window``
    newest articles across the whole lookback window, anchored at the
    newest ``ts_col`` (daily_topics_jobs.py:63-70 + main.py:418) —
    articles from different days can share a topic, and the cap is
    global. The cap is applied BEFORE the single-group applyInPandas via
    orderBy+limit (TakeOrderedAndProject), so only max_per_window rows
    ever land on one task regardless of corpus size.
    """
    anchor = docs.agg(F.max(ts_col)).first()[0]
    pool = (
        docs.where(
            F.col(ts_col) >= F.lit(anchor) - F.expr(f"INTERVAL {lookback_days} DAYS")
        )
        .orderBy(F.desc(ts_col), F.asc(id_col))
        .limit(max_per_window)
        .withColumn("_win", F.lit("all"))
    )

    members = greedy_topic_groups(
        pool.select(id_col, vec_col, ts_col, "_win").withColumn(
            "_ord", F.unix_timestamp(ts_col)
        ),
        id_col=id_col,
        vec_col=vec_col,
        order_col="_ord",
        window_col="_win",
        threshold=threshold,
        min_group_size=min_group_size,
        max_rows_per_window=max_per_window,
    )

    joined = members.join(docs, members.member_id == docs[id_col])
    return (
        joined.groupBy("topic_id")
        .agg(
            F.count("*").alias("article_count"),
            F.min(ts_col).alias("date_range_start"),
            F.max(ts_col).alias("date_range_end"),
            F.sort_array(
                F.collect_list(F.struct(*[F.col(c) for c in [id_col, *article_cols]]))
            ).alias("articles"),
        )
        .orderBy("topic_id")
    )
