"""Daily-topics pipeline (SURVEY.md §3.3 Spark shape).

Reference flow (celery hourly → ml-service → Mongo full refresh,
news-scanner/celery_app/jobs/daily_topics_jobs.py:35-175,
ml-service/main.py:392-497): 7-day window of embedded articles, greedy
cosine clustering (threshold 0.75, min group 3, 500-article cap),
nested article structs per group, delete_many+insert_many refresh.

Spark shape: one 'all' window → applyInPandas greedy clustering
(deterministic, order-dependent, one seed vector at a time, so no pool
cap is needed to bound memory) → join members back →
collect_list(struct) per topic → INSERT OVERWRITE. The LLM
summary/headline enrichment stage is out of engine scope (network
service) — the group structure and metadata match.
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
    threshold: float = 0.75,
    min_group_size: int = 3,
) -> DataFrame:
    """docs must carry id, embedding, ts + article payload columns.

    Returns topic_groups(topic_id, article_count, date_range_start,
    date_range_end, articles: array<struct<...article_cols>>) — the
    reference's daily_topics document shape (ml-service/main.py:471-488).

    Every row of ``docs`` lands in ONE clustering pool, window ``all``,
    seeded newest-first by ``ts_col`` — articles from different days can
    share a topic. A caller that wants the reference's pool (the 500
    newest of the last 7 days, daily_topics_jobs.py:63-70 + main.py:418)
    filters ``docs`` before the call.
    """
    members = greedy_topic_groups(
        docs.select(
            id_col, vec_col, F.lit("all").alias("_win"), F.unix_timestamp(ts_col).alias("_ord")
        ),
        id_col=id_col,
        vec_col=vec_col,
        order_col="_ord",
        window_col="_win",
        threshold=threshold,
        min_group_size=min_group_size,
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
