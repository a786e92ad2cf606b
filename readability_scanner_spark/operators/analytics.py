"""Analytics operators A1–A11 / O1–O7 / W1–W3 / JN1–JN4 / P1–P11
(SURVEY.md §2.1), re-expressed as declarative DataFrame transforms so
Catalyst supplies pushdown, pruning, broadcast selection and partial
aggregation for free (SURVEY.md §4).

Each function takes DataFrames and returns a DataFrame; the binding to
the driver's testdata tables plus matching DuckDB oracle SQL lives in
__spark_entry__.py. Reference pipelines cited per function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from readability_scanner_spark.functions.columns import (
    characters_col,
    paragraphs_col,
    sentences_col,
    words_col,
)
from readability_scanner_spark.functions.formulas import (
    automated_readability_col,
    coleman_liau_col,
)


# --- A1: the flagship report -------------------------------------------------

def readability_by_group(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
    min_docs: int = 5,
) -> DataFrame:
    """A1 readability-by-host (news-scanner/database/articles.py:278-371):
    match → group: avg stats → having count >= min → sort score desc.

    Stats here are the SQL-expressible subset (JVM-side regex counts) so
    the whole plan is one scan + one partial/final hash aggregate — no
    Python anywhere. The UDF-stats variant is the same shape with the
    stats struct precomputed by the pipeline.
    """
    t = F.col(text_col)
    w, s, c = words_col(t), sentences_col(t), characters_col(t)
    # r6: counts bound once, formulas over the attributes (CollapseProject
    # keeps non-cheap multi-referenced aliases; previously each regex
    # counter ran ~3x per row). Same values out.
    counts = docs.where(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("grp"), w.alias("w"), s.alias("s"), c.alias("c")
    )
    wb, sb, cb = F.col("w"), F.col("s"), F.col("c")
    per_doc = counts.select(
        "grp",
        "w",
        "s",
        "c",
        coleman_liau_col(wb.cast("double"), sb.cast("double"), cb.cast("double")).alias("cl"),
        automated_readability_col(wb.cast("double"), sb.cast("double"), cb.cast("double")).alias(
            "ari"
        ),
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg("w"), 4).alias("avg_words"),
            F.round(F.avg("s"), 4).alias("avg_sentences"),
            F.round(F.avg("c"), 4).alias("avg_characters"),
            F.round(F.avg("cl"), 4).alias("avg_coleman_liau"),
            F.round(F.avg("ari"), 4).alias("avg_ari"),
        )
        .where(F.col("docs") >= min_docs)  # P11 HAVING (articles.py:331-336)
        .orderBy(F.desc("avg_coleman_liau"), F.asc("grp"))  # O1 analog
    )


# --- A2: word-count top-k ------------------------------------------------------

def word_topk(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """A2 (hug/api.py:250-287): split on single spaces → unwind → count →
    count>1 → top-k. Tie-broken by word for determinism."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(k)
    )


# --- A3/A6: group counts -------------------------------------------------------

def status_breakdown(df: DataFrame, status_col: str, null_label: str = "no_summary") -> DataFrame:
    """A3 (articles.py:661-693): null status → sentinel label."""
    return (
        df.groupBy(F.coalesce(F.col(status_col), F.lit(null_label)).alias("status"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("status")
    )


# --- A4: global grand aggregate -------------------------------------------------

def grand_aggregate(df: DataFrame, value_col: str) -> DataFrame:
    """A4 (daily_topics_routes.py:212-224): no-groupBy sum+avg."""
    return df.agg(
        F.count("*").alias("cnt"),
        F.round(F.sum(value_col), 2).alias("total"),
        F.round(F.avg(value_col), 4).alias("mean"),
    )


# --- A5: group + distinct collect ------------------------------------------------

def group_with_distinct(df: DataFrame, size_col, distinct_col: str) -> DataFrame:
    """A5 (daily_topics_routes.py:289-302): per array-size count +
    distinct models (count-distinct here: deterministic, hashable)."""
    return (
        df.groupBy(size_col.alias("grp_size"))
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct(distinct_col).alias("distinct_vals"),
        )
        .orderBy("grp_size")
    )


# --- A8: batched conditional counts ----------------------------------------------

def conditional_counts(df: DataFrame, predicates: dict[str, F.Column]) -> DataFrame:
    """A8 (~15 count_documents variants, articles.py:229-235 etc.) as ONE
    scan: agg(sum(when(p,1)))."""
    aggs = [F.sum(F.when(p, 1).otherwise(0)).alias(name) for name, p in predicates.items()]
    return df.agg(F.count("*").alias("total"), *aggs)


# --- A9/A10: validation + describe ------------------------------------------------

def validation_aggregate(df: DataFrame, value_col: str, ts_col: str) -> DataFrame:
    """A9 (.cursor/rules/testing-debugging.mdc:56-66)."""
    return df.where(F.col(value_col).isNotNull()).agg(
        F.count("*").alias("cnt"),
        F.round(F.avg(value_col), 4).alias("mean_value"),
        F.date_format(F.min(ts_col), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max(ts_col), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )


def describe_metrics(df: DataFrame, col: str) -> DataFrame:
    """A10 (hug/api.py:150-154 pandas describe) as one aggregate pass:
    count/mean/std/min/quartiles/max."""
    return df.agg(
        F.count(col).alias("cnt"),
        F.round(F.avg(col), 4).alias("mean"),
        F.round(F.stddev_samp(col), 4).alias("std"),
        F.min(col).alias("min_v"),
        F.round(F.expr(f"percentile_cont(0.25) WITHIN GROUP (ORDER BY `{col}`)"), 4).alias("q25"),
        F.round(F.expr(f"percentile_cont(0.5) WITHIN GROUP (ORDER BY `{col}`)"), 4).alias("median"),
        F.round(F.expr(f"percentile_cont(0.75) WITHIN GROUP (ORDER BY `{col}`)"), 4).alias("q75"),
        F.max(col).alias("max_v"),
    )


# --- A11: derived ratios -----------------------------------------------------------

def derived_ratios(df: DataFrame, success_pred: F.Column) -> DataFrame:
    """A11 (models/scan_result.py:25-35): success/failure rate post-agg."""
    agg = df.agg(
        F.count("*").alias("total"),
        F.sum(F.when(success_pred, 1).otherwise(0)).alias("successes"),
    )
    return agg.select(
        "total",
        "successes",
        F.round(F.col("successes") / F.col("total") * 100, 4).alias("success_rate_pct"),
    )


# --- JN1: broadcast lookup join with $mergeObjects precedence -------------------------

def merge_precedence_join(
    facts: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """JN1 $lookup + $mergeObjects flatten (articles.py:339-361): a left
    outer equi-join with an explicitly broadcast small side — the Spark
    analog of Mongo's index nested-loop over the tiny `urls` collection —
    with $replaceRoot precedence (`{$mergeObjects: [{$arrayElemAt:
    ['$source_info', 0]}, '$$ROOT']}`: the DOCUMENT's fields win; the
    dim side only fills fields the document lacks/has null). Shared
    column names are coalesced fact-first; dim-only columns pass
    through."""
    shared = [c for c in dim.columns if c in facts.columns and c != dim_key]
    dim_renamed = dim.select(
        F.col(dim_key).alias("_dk"),
        *[F.col(c).alias(f"_dim_{c}") if c in shared else F.col(c) for c in dim.columns if c != dim_key],
    )
    joined = facts.join(F.broadcast(dim_renamed), facts[fact_key] == F.col("_dk"), "left").drop("_dk")
    for c in shared:
        joined = joined.withColumn(c, F.coalesce(F.col(c), F.col(f"_dim_{c}"))).drop(f"_dim_{c}")
    return joined


# --- JN3: per-source stats (single pass, replaces N+1 find_one loop) ------------------

def per_group_latest_and_count(
    df: DataFrame, group_col: str, order_cols: list, project: list[str]
) -> DataFrame:
    """JN3 (sources.py:108-147 + articles.py:229-250): the reference loops
    sources issuing count + find_one(sort desc) per source; here ONE
    hash aggregate: count + max_by on the order-key struct (lexicographic
    struct comparison == the window's multi-key desc sort, deterministic
    for the same full tie-break orderings).

    r6: this replaces the previous row_number+count window pair — an
    aggregate does partial (map-side) aggregation, so the shuffle moves
    one partial row per (group, map task) instead of EVERY input row
    plus a per-partition sort (guide §2.3 "aggregate before you
    shuffle"); same rows out."""
    top = F.max_by(
        F.struct(*[F.col(c) for c in project]),
        F.struct(*[F.col(c) for c in order_cols]),
    )
    return (
        df.groupBy(group_col)
        .agg(F.count("*").alias("n_docs"), top.alias("_top"))
        .select(group_col, "n_docs", *[F.col(f"_top.{c}").alias(c) for c in project])
        .orderBy(group_col)
    )


# --- JN4: array membership -----------------------------------------------------------

def array_membership(df: DataFrame, group_col: str, item_col: str, needle) -> DataFrame:
    """JN4 (topic_service.py:322-331): groups whose nested array contains
    a value; built via collect_list then exists()."""
    grouped = df.groupBy(group_col).agg(
        F.sort_array(F.collect_list(item_col)).alias("items")
    )
    return (
        grouped.where(F.exists("items", lambda x: x == F.lit(needle)))
        .select(group_col, F.size("items").alias("n_items"))
        .orderBy(group_col)
    )


# --- O3/O4: argmax + pagination --------------------------------------------------------

def paginate(df: DataFrame, order_cols: list[str], page: int, page_size: int) -> DataFrame:
    """O4 skip/limit pagination (articles.py:398-402) as a row_number
    window. NOTE: a global ordering window funnels all rows through one
    task — correct but inherently sequential, fine for UI-sized results."""
    w = Window.orderBy(*[F.asc(c) for c in order_cols])
    start, end = (page - 1) * page_size + 1, page * page_size
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn").between(start, end))
        .drop("_rn")
    )


def top_k(df: DataFrame, order_col: str, k: int, tie_break: str) -> DataFrame:
    """O5/O6 top-k; Catalyst turns this into TakeOrderedAndProject
    (no full sort materialization)."""
    return df.orderBy(F.desc(order_col), F.asc(tie_break)).limit(k)


# --- W1/W3: time windows ------------------------------------------------------------------

def rolling_window(df: DataFrame, ts_col: str, days: int) -> DataFrame:
    """W1 7-day lookback (articles.py:479-495), anchored at the data max
    so results are deterministic. The anchor is computed INSIDE the same
    job (broadcast single-row aggregate join — the scalar-subquery
    shape), not a driver-side action, so the operator stays one plan."""
    bound = df.agg(
        (F.max(ts_col) - F.expr(f"INTERVAL {days} DAYS")).alias("_cutoff")
    )
    return (
        df.join(F.broadcast(bound))
        .where(F.col(ts_col) >= F.col("_cutoff"))
        .drop("_cutoff")
    )


def daily_buckets(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """W3 per-day trend aggregation — the operator the reference declared
    but left unimplemented (api/routes/graph.py:46-52 'TODO')."""
    return (
        df.groupBy(F.date_format(F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("cnt"), F.round(F.avg(value_col), 4).alias("avg_value"))
        .orderBy("day")
    )


def sql_text_stats(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """T1–T4 JVM-side per-document stats + the two formulas computable
    without syllables (Coleman-Liau F6, ARI F9).

    r6: counts are projected once as bound columns and the formulas read
    the attributes — each formula referenced words/sentences/characters
    multiple times, and CollapseProject cannot re-inline a non-cheap
    multi-referenced alias, so the regex counters now run once per row
    instead of ~3x. Same values out (identical count inputs, identical
    formula arithmetic)."""
    t = F.col(text_col)
    w, s, c, p = words_col(t), sentences_col(t), characters_col(t), paragraphs_col(t)
    base = docs.select(
        F.col(id_col),
        w.alias("words"),
        s.alias("sentences"),
        p.alias("paragraphs"),
        c.alias("characters"),
    )
    wb, sb, cb = F.col("words"), F.col("sentences"), F.col("characters")
    return base.select(
        F.col(id_col),
        "words",
        "sentences",
        "paragraphs",
        "characters",
        # no rounding: per-row IEEE arithmetic is bit-identical between
        # engines when the expression shape matches; round() itself is
        # what diverges at decimal boundaries (e.g. x.xxxx5)
        coleman_liau_col(wb.cast("double"), sb.cast("double"), cb.cast("double")).alias(
            "coleman_liau"
        ),
        automated_readability_col(wb.cast("double"), sb.cast("double"), cb.cast("double")).alias(
            "automated_readability"
        ),
    )
