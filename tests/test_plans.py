"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the plan (predicate pushdown, column pruning,
broadcast joins, top-k without full sort, whole-stage codegen).
A plan regression here is a scale bug even when results stay correct."""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_parquet(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet").where(F.col("o_totalprice") > 400000)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,400000.0)" in plan


def test_column_pruning_reaches_parquet(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_merge_precedence_join_is_broadcast(spark):
    from readability_scanner_spark.operators.analytics import merge_precedence_join

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey", "c_name")
    df = merge_precedence_join(orders, cust, "o_custkey", "c_custkey")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    from readability_scanner_spark.operators.analytics import top_k

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _plan(top_k(orders, "o_totalprice", 10, "o_orderkey"))
    assert "TakeOrderedAndProject" in plan


def test_formulas_stay_in_codegen(spark):
    """The Column binding of F1-F9 (the JVM reference the fused pass's
    Python scorer is checked against, and the binding for stats already
    in Spark columns) must be JVM expressions inside WholeStageCodegen,
    not python calls."""
    from readability_scanner_spark.functions.formulas import with_readability_scores

    df = spark.createDataFrame(
        [(10, 2, 40, 15, 1)],
        "words long, sentences long, characters long, syllables long, complex_polysyllabic_words long",
    )
    plan = _plan(with_readability_scores(df))
    assert "codegen id" in plan  # '*' nodes = inside WholeStageCodegen
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sql_text_stats_has_no_python(spark):
    """T1-T4 fast path is pure JVM."""
    from readability_scanner_spark.operators.analytics import sql_text_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(sql_text_stats(docs, "doc_id", "text"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan  # pruned scan


def test_pipeline_single_python_stage(spark):
    """The fused pipeline must contain exactly one python eval node
    (FlatMapGroupsInPandas/MapInPandas) — a second one means the
    extract/stats fusion regressed. Its input is hash-partitioned on the
    per-turn key into one partition per core, not into
    spark.sql.shuffle.partitions (8 in the test session, 4 cores), and
    the flagship query reaches it through that one exchange alone: a
    round-robin spread of the scan below it would be a second shuffle."""
    import __spark_entry__ as entry
    from readability_scanner_spark.plans.pipeline import extract_and_score

    src = spark.createDataFrame(
        [("c", 0, "user", "<p>text</p>", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = _plan(extract_and_score(src))
    # formatted output lists each node twice (tree + detail section)
    assert plan.count("MapInPandas") == 2
    assert "ArrowEvalPython" not in plan
    cores = spark.sparkContext.defaultParallelism
    assert cores != int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert re.search(rf"hashpartitioning\(conv_id#\d+, turn_idx#\d+, {cores}\)", plan)

    flagship = _plan(entry.q_flagship_extract(spark, SF))
    tree = flagship.split("\n\n")[0]
    below_udf = tree[tree.index("MapInPandas"):]
    assert below_udf.count("Exchange") == 1
    assert "RoundRobinPartitioning" not in flagship


def test_pipeline_scores_inside_the_python_pass(spark):
    """F1-F9 are computed in the fused pass: the optimized plan above the
    single MapInPandas holds only the date clamps and the column order,
    no score expression (a formula projection there costs a JVM pass
    and its Py4J construction on every run)."""
    from readability_scanner_spark.plans.pipeline import extract_and_score

    src = spark.createDataFrame(
        [("c", 0, "user", "<p>text</p>", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    node = extract_and_score(src, repartition_to=4)._jdf.queryExecution().optimizedPlan()
    above = []  # every expression, untruncated, of the nodes above the UDF
    while node.nodeName() != "MapInPandas":
        above.append(node.expressions().mkString(" ").lower())
        node = node.child()
    assert "MapInPandas" not in node.child().treeString()
    assert above and not any(f in e for e in above for f in ("sqrt", "greatest", "least"))


def test_spread_reader_has_one_partition_per_core(spark):
    """_t's spread repartitions to the session's cores, not to
    spark.sql.shuffle.partitions: a Python-UDF task has a fixed cost, so
    tasks beyond one per core only add it. The test session has 4 cores
    and 8 shuffle partitions, so the pin tells the two apart."""
    import __spark_entry__ as entry

    spread = entry._t(spark, SF, "documents", spread=True)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert spark.sparkContext.defaultParallelism != int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_semi_join_planned(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet").where("o_totalprice > 450000")
    df = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    assert "LeftSemi" in _plan(df)


def test_rolling_window_default_anchor_is_one_plan(spark):
    """The default anchor must be a broadcast scalar-subquery join inside
    the SAME plan — no driver-side .first() action hidden in the builder."""
    from readability_scanner_spark.operators.analytics import rolling_window

    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = rolling_window(ev, "ts", 7)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # correctness vs a filter on the driver-side anchor
    anchor = ev.agg(F.max("ts")).first()[0]
    explicit = ev.where(F.col("ts") >= F.lit(anchor) - F.expr("INTERVAL 7 DAYS")).count()
    assert df.count() == explicit


def test_status_claim_is_broadcast(spark):
    from readability_scanner_spark.operators.statusflow import claim_batch

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .withColumn("status", F.when(F.pmod("event_id", 2) == 0, "pending").otherwise("completed"))
    )
    plan = _plan(claim_batch(ev, "event_id", "status", 10))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_near_dups_no_nested_loop(spark):
    from readability_scanner_spark.operators.similarity import lsh_bucketed_pairs, similarity_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    plan = _plan(lsh_bucketed_pairs(emb, "vec_id", "embedding", dim, threshold=0.95, n_planes=4))
    assert "CartesianProduct" not in plan
    plan = _plan(similarity_pairs(emb, "vec_id", "embedding", 0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exact pairs are scored inside one grouped pandas stage: no self-join
    # at all (a size-equality theta join plans as a BroadcastHashJoin on
    # size, which over one vector length is the full product)
    assert "Join" not in plan and "FlatMapGroupsInPandas" in plan


def test_dedup_pipeline_never_goes_quadratic(spark):
    """candidates → verify must be equi-joins end to end: the all-pairs
    product may not appear anywhere in the physical plan."""
    from readability_scanner_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_verify,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cand = minhash_lsh_candidates(docs, "doc_id", "text")
    out = ngram_jaccard_verify(cand, docs, "doc_id", "text", 0.5)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_plan_shape(spark):
    """r6 pins: the blocked self-join must (a) read ONE materialized
    signature table on both sides (no second MapInPandas lineage), (b)
    plan as a broadcast join on these inputs, whose build-side estimate
    sits far under the auto-broadcast threshold (a shuffled join of
    skewed group keys is quadratic on one task), (c) carry no distinct
    aggregate (the canonical-group filter dedups), and (d) keep an
    exchange between the join and the final sort (range sampling must
    not re-execute the join)."""
    from readability_scanner_spark.operators.dedup import simhash_near_dups

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(simhash_near_dups(docs, "doc_id", "text", max_hamming=3))
    assert "MapInPandas" not in plan  # signatures pre-materialized once
    # both sides read the checkpoint: 2 nodes, each printed in the tree
    # AND the details section of the formatted plan
    assert plan.count("Scan ExistingRDD") == 4
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" not in plan  # no distinct
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # a repartition exchange sits between the join and the sort
    assert plan.index("Sort ") < plan.index("BroadcastHashJoin")


def test_minhash_plan_shape(spark):
    """The banded self-join reads ONE materialized signature table on
    both sides (no second MapInPandas lineage), and the planner
    broadcasts its build side on these inputs, whose estimate sits far
    under the auto-broadcast threshold."""
    from readability_scanner_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_lsh_candidates(docs, "doc_id", "text"))
    assert "MapInPandas" not in plan  # signatures pre-materialized once
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("op", ["minhash", "simhash", "jaccard_verify"])
def test_shuffled_join_returns_the_broadcast_pairs(spark, op):
    """With the planner's auto-broadcast switched off, as for a build
    side above its threshold, each near-dup join must plan without a
    broadcast build side and still return the broadcast plan's pairs."""
    from readability_scanner_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    if op == "minhash":
        build = lambda: dedup.minhash_lsh_candidates(docs, "doc_id", "text")
    elif op == "simhash":
        build = lambda: dedup.simhash_near_dups(docs, "doc_id", "text", max_hamming=6)
    else:
        cand = dedup.minhash_lsh_candidates(docs, "doc_id", "text").localCheckpoint()
        build = lambda: dedup.ngram_jaccard_verify(cand, docs, "doc_id", "text", 0.5)
    broadcast = build()
    assert "BroadcastHashJoin" in _plan(broadcast)
    expected = sorted(broadcast.collect())
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = build()
        plan = _plan(shuffled)
        got = sorted(shuffled.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan
    assert got == expected and got


def test_repetition_signals_df_form_binds_tokens(spark):
    """r6 pin: with_repetition_signals must not re-tokenize per bigram —
    the token array appears as a bound column, so the physical plan
    contains exactly ONE split() of the text column."""
    from readability_scanner_spark.operators.textquality import with_repetition_signals

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = with_repetition_signals(docs, "text").select("doc_id", "dup_word_frac", "top_bigram_frac")
    plan = _plan(out)
    assert plan.count("split(lower(text") <= 1
