"""Benchmark decontamination (operators/decontam.py).

Correctness is checked against a pure-Python brute-force shingle
computation (the published recipe, written independently of the Spark
expressions), plus pinned edge cases for the short-doc sequence() trap
and the per-doc gram dedup.
"""

from pyspark.sql import functions as F

from readability_scanner_spark.operators.decontam import (
    benchmark_gram_set,
    decontaminate,
    doc_ngrams,
    ngrams_from_tokens,
    ws_tokens_col,
)


def _py_grams(text: str, n: int) -> set[str]:
    toks = [t for t in text.split(" ") if t != ""]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_ngrams_match_bruteforce(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "a b",
        "one two three",
        "  spaced   out   tokens  ",
        "repeat repeat repeat repeat",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = (
        df.select("text", ws_tokens_col(F.col("text")).alias("toks"))
        .select(
            "text",
            F.array_sort(F.array_distinct(ngrams_from_tokens(F.col("toks"), 3))).alias("g"),
        )
        .collect()
    )
    for r in rows:
        assert sorted(set(r["g"])) == sorted(_py_grams(r["text"], 3)), r["text"]


def test_short_doc_yields_empty_not_descending_sequence(spark):
    # sequence(1, m) with m < 1 descends in Spark; the when-guard must
    # turn "two tokens, n=8" into ZERO grams, not fabricated ones
    df = spark.createDataFrame([("a b",), ("",), ("   ",)], "text string")
    rows = (
        df.select(ws_tokens_col(F.col("text")).alias("toks"))
        .select(F.size(ngrams_from_tokens(F.col("toks"), 8)).alias("n"))
        .collect()
    )
    assert [r["n"] for r in rows] == [0, 0, 0]


def test_repeated_gram_counts_once_per_doc(spark):
    docs = spark.createDataFrame(
        [(1, "x y z q x y z q x y z")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(100, "x y z")], "doc_id long, text string")
    out = decontaminate(docs, bench, "doc_id", "text", n=3).collect()
    assert len(out) == 1
    # doc grams: {x y z, y z q, z q x, q x y} -> 4 distinct; hit: only "x y z"
    assert out[0]["total_grams"] == 4
    assert out[0]["hit_grams"] == 1
    assert abs(out[0]["hit_ratio"] - 0.25) < 1e-12


def test_decontaminate_vs_bruteforce(spark):
    corpus = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "the model memorized this exact benchmark phrase verbatim"),
        (3, "completely unrelated text with no overlap whatsoever here"),
        (4, "this exact benchmark phrase appears again plus extra words"),
    ]
    bench_rows = [
        (900, "this exact benchmark phrase"),
        (901, "alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    n = 4
    bench_set = set().union(*(_py_grams(t, n) for _, t in bench_rows))
    expect = {}
    for did, t in corpus:
        g = _py_grams(t, n)
        hits = len(g & bench_set)
        if hits:
            expect[did] = (len(g), hits)
    got = {
        r["doc_id"]: (r["total_grams"], r["hit_grams"])
        for r in decontaminate(docs, bench, "doc_id", "text", n=n).collect()
    }
    assert got == expect
    assert 1 in got and 2 in got and 4 in got and 3 not in got


def test_benchmark_side_broadcasts(spark):
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(20)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, "tok1 tok2 tok3")], "doc_id long, text string")
    plan = decontaminate(docs, bench, "doc_id", "text", n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the training-corpus side must never shuffle for the join
    assert "CartesianProduct" not in plan


def test_doc_ngrams_hash_matches_duckdb(spark):
    import duckdb

    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "unicode café brûlée here")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], int(r["gram_hash"]))
        for r in doc_ngrams(docs, "doc_id", "text", n=2).collect()
    }
    con = duckdb.connect()
    want = set()
    for did, text in [(1, "one two three four"), (2, "unicode café brûlée here")]:
        for g in _py_grams(text, 2):
            h = con.execute("select md5_number_lower(?)", [g]).fetchone()[0]
            want.add((did, int(h)))
    assert got == want
