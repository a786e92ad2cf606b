"""KMV cardinality sketch + deterministic weighted sampling
(operators/sketches.py). The cross-engine hash identity itself
(JVM conv-of-reversed-hex == DuckDB md5_number_lower) is asserted here
against the Python twin; the DuckDB side is covered by selfcheck /
the driver oracles."""

import hashlib

import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.operators.sketches import (
    kmv_distinct,
    kmv_estimate_const,
    md5_low64,
    sample_hash63,
    weighted_priority_sample,
)


def _py_md5_low64(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[8:], "little")


# --- hash identity ----------------------------------------------------------


def test_md5_low64_matches_python(spark):
    vals = ["", "hello", "data表", "café", "İstanbul", "a" * 500, "0"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    out = {r["s"]: int(r["h"]) for r in df.select("s", md5_low64(F.col("s")).alias("h")).collect()}
    for v in vals:
        assert out[v] == _py_md5_low64(v)


def test_sample_hash63_in_signed_range(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "i long")
    rows = df.select(sample_hash63(F.col("i"), salt=3).alias("h")).collect()
    for r in rows:
        assert 0 <= r["h"] < 2**63
    # salt independence: different salts give a different permutation
    a = [r["h"] for r in df.select(sample_hash63(F.col("i"), 0).alias("h")).collect()]
    b = [r["h"] for r in df.select(sample_hash63(F.col("i"), 1).alias("h")).collect()]
    assert a != b


# --- KMV --------------------------------------------------------------------


def _kmv_reference(values, k):
    hs = sorted({_py_md5_low64(v) for v in values})
    if len(hs) < k:
        return len(hs), float(len(hs))
    kth = hs[k - 1]
    return k, round(kmv_estimate_const(k) / float(kth), 4)


def test_kmv_exact_branch(spark):
    # fewer distinct values than k: the count is exact
    rows = [("g1", f"v{i % 7}") for i in range(100)] + [("g2", f"w{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "g string, v string")
    out = {
        r["g"]: (r["n_kept"], r["est_distinct"])
        for r in kmv_distinct(df, ["g"], F.col("v"), k=16).collect()
    }
    assert out == {"g1": (7, 7.0), "g2": (3, 3.0)}


def test_kmv_estimate_matches_reference_and_is_accurate(spark):
    values = [f"item-{i}" for i in range(5000)]
    df = spark.createDataFrame([("g", v) for v in values], "g string, v string").repartition(8)
    k = 64
    (row,) = kmv_distinct(df, ["g"], F.col("v"), k=k).collect()
    n_kept, est = _kmv_reference(values, k)
    assert row["n_kept"] == n_kept == k
    assert row["est_distinct"] == est
    # estimator quality: rel error ~ 1/sqrt(k-2) => 3 sigma ≈ 38%
    assert abs(est - 5000) / 5000 < 0.38


def test_kmv_duplicates_and_partitioning_invariant(spark):
    # duplicates must not change the sketch, nor must the layout
    base = [f"x{i}" for i in range(300)]
    once = spark.createDataFrame([("g", v) for v in base], "g string, v string")
    dup = spark.createDataFrame([("g", v) for v in base * 5], "g string, v string").repartition(13)
    r1 = kmv_distinct(once, ["g"], F.col("v"), k=32).collect()[0]
    r2 = kmv_distinct(dup, ["g"], F.col("v"), k=32).collect()[0]
    assert (r1["n_kept"], r1["est_distinct"]) == (r2["n_kept"], r2["est_distinct"])


def test_kmv_drops_nulls(spark):
    df = spark.createDataFrame(
        [("g", "a"), ("g", None), ("g", "b"), ("g", None)], "g string, v string"
    )
    (row,) = kmv_distinct(df, ["g"], F.col("v"), k=8).collect()
    assert (row["n_kept"], row["est_distinct"]) == (2, 2.0)


# --- weighted sample --------------------------------------------------------


@pytest.fixture(scope="module")
def weighted_df(spark):
    # two strata; weights 1 vs 100 in stratum 'a'
    rows = [("a", i, 1 if i < 500 else 100) for i in range(600)] + [
        ("b", 1000 + i, 10) for i in range(50)
    ]
    return spark.createDataFrame(rows, "s string, id long, w long")


def test_weighted_sample_caps_and_determinism(spark, weighted_df):
    out1 = weighted_priority_sample(weighted_df, ["s"], "id", F.col("w"), 15, salt=1)
    got1 = sorted((r["s"], r["id"]) for r in out1.collect())
    out2 = weighted_priority_sample(
        weighted_df.repartition(17), ["s"], "id", F.col("w"), 15, salt=1
    )
    got2 = sorted((r["s"], r["id"]) for r in out2.collect())
    assert got1 == got2  # partitioning-invariant
    per = {}
    for s, _ in got1:
        per[s] = per.get(s, 0) + 1
    assert per == {"a": 15, "b": 15}


def test_weighted_sample_prefers_heavy_rows(spark, weighted_df):
    # 500 weight-1 rows vs 100 weight-100 rows: the weight-100 minority
    # should dominate the sample (each is ~100x more likely to win)
    out = weighted_priority_sample(weighted_df, ["s"], "id", F.col("w"), 20, salt=2)
    heavy = [r for r in out.collect() if r["s"] == "a" and r["id"] >= 500]
    assert len(heavy) >= 15


def test_weighted_sample_priority_is_h_div_w(spark, weighted_df):
    # the emitted priority column is exactly h63 // max(w,1)
    out = weighted_priority_sample(weighted_df, ["s"], "id", F.col("w"), 5, salt=9)
    hs = {
        r["id"]: r["h"]
        for r in weighted_df.select(
            "id", sample_hash63(F.col("id"), 9).alias("h")
        ).collect()
    }
    ws = {r["id"]: r["w"] for r in weighted_df.collect()}
    for r in out.collect():
        assert r["priority"] == hs[r["id"]] // max(ws[r["id"]], 1)


def test_weighted_sample_zero_weight_floored(spark):
    df = spark.createDataFrame([("s", 1, 0), ("s", 2, -5)], "s string, id long, w long")
    out = weighted_priority_sample(df, ["s"], "id", F.col("w"), 2).collect()
    assert len(out) == 2  # w<=0 treated as 1, not a crash / div-by-zero


def test_weighted_sample_drops_null_ids(spark):
    # a NULL id has no content hash: concat_ws would fold it onto the
    # hash-of-salt (every NULL row colliding on one priority) while a
    # NULL-propagating oracle sorts it NULLS LAST — so NULL ids are
    # excluded up front, matching kmv_distinct's null semantics
    rows = [("a", "d1", 10), ("a", None, 1_000_000), ("a", "d2", 10), ("b", None, 5)]
    df = spark.createDataFrame(rows, "s string, id string, w long")
    out = weighted_priority_sample(df, ["s"], "id", F.col("w"), 10, salt=7).collect()
    assert sorted(r["id"] for r in out) == ["d1", "d2"]
    assert all(r["priority"] is not None for r in out)


# --- count-min sketch -------------------------------------------------------


@pytest.fixture(scope="module")
def cms_tokens(spark):
    # skewed corpus: 'alpha' x200, 'beta' x40, 120 singletons
    rows = (
        [("alpha",)] * 200
        + [("beta",)] * 40
        + [(f"rare{i}",) for i in range(120)]
    )
    return spark.createDataFrame(rows, "tok string")


def test_cms_never_underestimates_and_is_exact_when_wide(spark, cms_tokens):
    from readability_scanner_spark.operators.sketches import cms_estimate, cms_sketch

    sk = cms_sketch(cms_tokens, "tok", depth=4, width=2048)
    est = {
        r["token"]: r["est_count"]
        for r in cms_estimate(sk, cms_tokens, "tok", depth=4, width=2048).collect()
    }
    exact = {
        r["tok"]: r["c"]
        for r in cms_tokens.groupBy("tok").agg(F.count("*").alias("c")).collect()
    }
    assert set(est) == set(exact)
    for t, c in exact.items():
        assert est[t] >= c, t  # CMS property: never an underestimate
    # 122 distinct tokens in 4x2048 cells: collisions vanishingly rare,
    # and min-over-rows needs only ONE clean row per token
    assert est["alpha"] == 200 and est["beta"] == 40


def test_cms_overestimates_under_forced_collisions(spark, cms_tokens):
    from readability_scanner_spark.operators.sketches import cms_estimate, cms_sketch

    # width 4: 122 tokens into 4 buckets per row — every cell collides
    sk = cms_sketch(cms_tokens, "tok", depth=2, width=4)
    est = {
        r["token"]: r["est_count"]
        for r in cms_estimate(sk, cms_tokens, "tok", depth=2, width=4).collect()
    }
    assert est["alpha"] >= 200
    assert any(est[f"rare{i}"] > 1 for i in range(120))  # collisions visible


def test_cms_estimate_rejects_mismatched_sketch_params(spark, cms_tokens):
    from readability_scanner_spark.operators.sketches import cms_estimate, cms_sketch

    sk = cms_sketch(cms_tokens, "tok", depth=2, width=4)
    with pytest.raises(ValueError, match="different depth"):
        cms_estimate(sk, cms_tokens, "tok", depth=4, width=4).collect()
    sk_wide = cms_sketch(cms_tokens, "tok", depth=2, width=2048)
    with pytest.raises(ValueError, match="larger width"):
        cms_estimate(sk_wide, cms_tokens, "tok", depth=2, width=4).collect()


def test_cms_sketch_drops_null_tokens(spark):
    from readability_scanner_spark.operators.sketches import cms_estimate, cms_sketch

    df = spark.createDataFrame([("a",), (None,), ("a",), (None,)], "tok string")
    sk = cms_sketch(df, "tok", depth=2, width=64)
    # only 'a' contributes: every cell holds exactly 2 (never 2+nulls)
    assert {r["cnt"] for r in sk.collect()} == {2}
    est = cms_estimate(sk, df, "tok", depth=2, width=64).collect()
    assert {(r["token"], r["est_count"]) for r in est} == {("a", 2)}


def test_cms_absent_candidate_estimates_small(spark, cms_tokens):
    from readability_scanner_spark.operators.sketches import cms_estimate, cms_sketch

    sk = cms_sketch(cms_tokens, "tok", depth=4, width=2048)
    cand = spark.createDataFrame([("never-seen-token",)], "tok string")
    (row,) = cms_estimate(sk, cand, "tok", depth=4, width=2048).collect()
    # absent token: min over rows includes empty cells (coalesce->0)
    assert row["est_count"] == 0
