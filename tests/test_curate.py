"""End-to-end curation chain (plans/curate.py): stage semantics on a
hand-built corpus, split/packing invariants, and whole-job idempotence.
"""

import json

import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.operators.textquality import with_lang_quality_cols
from readability_scanner_spark.plans.curate import curate_corpus

# Corpus exercising every stage:
#  10  PII doc (email must be redacted downstream)
#  11/12 exact duplicates (min-id 11 survives)
#  13  contaminated (shares a 4-gram with the benchmark)
#  14  low quality (below min_tokens)
#  15  shares an 8-token span with 16 -> span-cleaned at span_k=4
#  16  ditto; big enough to survive the re-applied token floor
#  17  clean control doc
_SPAN = "s1 s2 s3 s4 s5 s6 s7 s8"
_DOCS = [
    (10, "contact me at bob@example.com for the data files please"),
    (11, "identical twin document body here"),
    (12, "identical twin document body here"),
    (13, "leaked bench gram one two three four inside training text"),
    (14, "too short"),
    (15, _SPAN + " tail15 a b c d e"),
    (16, "head16 " + _SPAN + " x y z w v"),
    (17, "a perfectly ordinary document with nothing repeated anywhere"),
]
_BENCH = [(1, "eval question: gram one two three four answer")]


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(_DOCS, ["doc_id", "text"])


@pytest.fixture()
def bench(spark):
    return spark.createDataFrame(_BENCH, ["bid", "text"])


def _run(spark, corpus, bench, out, **kw):
    kw.setdefault("min_tokens", 3)
    kw.setdefault("span_k", 4)
    kw.setdefault("decontam_n", 4)
    kw.setdefault("seq_len", 16)
    kw.setdefault("n_shards", 2)
    return curate_corpus(spark, corpus, str(out), benchmark=bench, **kw)


def test_stage_counts_and_contents(spark, corpus, bench, tmp_path):
    meta = _run(spark, corpus, bench, tmp_path / "o")
    c = meta["counts"]
    assert c["docs_in"] == 8
    assert c["after_quality"] == 7          # 14 dropped
    assert c["after_decontam"] == 6         # 13 dropped
    assert c["after_exact_dedup"] == 5      # 12 dropped (11 kept: min id)
    assert c["after_span_dedup"] == 5       # 15/16 cleaned but survive
    assert sum(c["splits"].values()) == 5
    assert c["packed_docs"] == 5

    rows = {r.id: r for r in spark.read.parquet(str(tmp_path / "o/curated")).collect()}
    assert set(rows) == {10, 11, 15, 16, 17}
    assert "[EMAIL]" in rows[10].text and "bob@example.com" not in rows[10].text
    # the shared 8-token span is gone from both carriers
    assert rows[15].text == "tail15 a b c d e"
    assert rows[16].text == "head16 x y z w v"
    assert rows[17].text == _DOCS[-1][1]
    assert all(r.split in ("train", "val", "test") for r in rows.values())


def test_packing_never_mixes_splits_and_respects_capacity(
    spark, corpus, bench, tmp_path
):
    _run(spark, corpus, bench, tmp_path / "o")
    # pack_sequences normalizes its output names: the composite shard
    # comes back as `shard`, the id as `doc_id`
    packed = spark.read.parquet(str(tmp_path / "o/packed")).withColumnsRenamed(
        {"shard": "pack_shard", "doc_id": "id"}
    )
    curated = spark.read.parquet(str(tmp_path / "o/curated"))
    j = packed.join(curated.select("id", "split"), "id").collect()
    # pack_shard encodes (split_idx, shard): one split per pack_shard
    by_shard = {}
    for r in j:
        by_shard.setdefault(r.pack_shard, set()).add(r.split)
    assert all(len(s) == 1 for s in by_shard.values())
    # next-fit: a doc that fits never overhangs its bin
    assert all(
        r.bin_offset + r.n_tokens <= 16 for r in j if r.n_tokens <= 16
    )


def test_hollowed_out_docs_are_dropped(spark, bench, tmp_path):
    # two identical-span docs whose remainder falls below min_tokens
    df = spark.createDataFrame(
        [(1, _SPAN + " t1"), (2, _SPAN + " t2"), (3, "an unrelated survivor doc")],
        ["doc_id", "text"],
    )
    meta = curate_corpus(
        spark, df, str(tmp_path / "o"), min_tokens=3, span_k=4, seq_len=16
    )
    assert meta["counts"]["after_span_dedup"] == 1
    ids = [r.id for r in spark.read.parquet(str(tmp_path / "o/curated")).collect()]
    assert ids == [3]


def test_idempotent_skip_force_and_param_change(spark, corpus, bench, tmp_path):
    out = tmp_path / "o"
    m1 = _run(spark, corpus, bench, out)
    assert m1["skipped"] is False
    m2 = _run(spark, corpus, bench, out)
    assert m2["skipped"] is True and m2["counts"] == m1["counts"]
    m3 = _run(spark, corpus, bench, out, force=True)
    assert m3["skipped"] is False
    # a param change invalidates the completed marker
    m4 = _run(spark, corpus, bench, out, seq_len=32)
    assert m4["skipped"] is False
    meta_on_disk = json.load(open(out / "_meta" / "curate.json"))
    assert meta_on_disk["params"]["seq_len"] == 32


def test_input_change_invalidates_marker(spark, corpus, bench, tmp_path):
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    grown = corpus.union(
        spark.createDataFrame([(99, "a brand new never seen document")],
                              ["doc_id", "text"])
    )
    m = _run(spark, grown, bench, out)
    assert m["skipped"] is False
    assert m["counts"]["docs_in"] == 9


def test_no_benchmark_and_no_span_k_skip_those_stages(spark, corpus, tmp_path):
    meta = curate_corpus(
        spark, corpus, str(tmp_path / "o"), min_tokens=3, seq_len=16
    )
    c = meta["counts"]
    assert "after_decontam" not in c and "after_span_dedup" not in c
    assert c["after_exact_dedup"] == 6  # only 14 (quality) and 12 (dupe) gone


def test_null_ids_dropped_and_counted(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "an ordinary surviving document body"),
         (None, "a null id row that must be dropped visibly")],
        "doc_id long, text string",
    )
    meta = curate_corpus(spark, df, str(tmp_path / "o"), min_tokens=3, seq_len=16)
    assert meta["counts"]["null_ids_dropped"] == 1
    assert meta["counts"]["docs_in"] == 1


def test_bad_splits_fail_fast(spark, corpus, tmp_path):
    with pytest.raises(ValueError, match="splits"):
        curate_corpus(
            spark, corpus, str(tmp_path / "o"),
            splits=(("train", 90), ("val", 10)),
        )


def test_benchmark_pii_overlap_still_contaminates(spark, tmp_path):
    # the benchmark passage carries an IP literal; the training copy is
    # redacted before shingling, so the benchmark must be redacted too
    # or the gram sets can never intersect (r5 review finding)
    passage = "ping 10.0.0.1 from the gateway node to verify routing works"
    docs = spark.createDataFrame(
        [(1, passage + " extra trailing context"),
         (2, "a completely unrelated training document body")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(1, passage)], ["bid", "text"])
    meta = curate_corpus(
        spark, docs, str(tmp_path / "o"),
        benchmark=bench, decontam_n=4, min_tokens=3, seq_len=16,
    )
    assert meta["counts"]["after_decontam"] == 1
    ids = [r.id for r in spark.read.parquet(str(tmp_path / "o/curated")).collect()]
    assert ids == [2]


def test_span_clean_reapplies_quality_gate(spark, tmp_path):
    # doc 1/2 share a span; after cleaning, doc 1's remainder is a
    # single repeated word -> dup_word_frac tanks quality_score below
    # the gate even though n_tokens stays above the floor
    df = spark.createDataFrame(
        [(1, _SPAN + " w w w w w w"), (2, _SPAN + " distinct tail words here now also"),
         (3, "an unrelated control document body")],
        ["doc_id", "text"],
    )
    meta = curate_corpus(
        spark, df, str(tmp_path / "o"),
        min_tokens=3, min_quality=0.5, span_k=4, seq_len=16,
    )
    ids = sorted(r.id for r in spark.read.parquet(str(tmp_path / "o/curated")).collect())
    assert 1 not in ids and 2 in ids and 3 in ids
    # and the shipped quality_score describes the CLEANED text
    curated = spark.read.parquet(str(tmp_path / "o/curated"))
    rows = {r.id: r for r in curated.collect()}
    assert rows[2].text == "distinct tail words here now also"
    # every stored score / token count is the scorer's value for the
    # stored text (doc 2's pre-clean text had 8 more tokens)
    recomputed = {
        r.id: (r.quality_score, r.n_tokens)
        for r in with_lang_quality_cols(curated.select("id", "text")).collect()
    }
    assert recomputed == {i: (r.quality_score, r.n_tokens) for i, r in rows.items()}


# --- incremental (delta) ingestion ------------------------------------------------

from readability_scanner_spark.plans.curate import curate_delta, read_curated


def test_delta_requires_base_run(spark, corpus, tmp_path):
    with pytest.raises(FileNotFoundError):
        curate_delta(spark, corpus, str(tmp_path / "missing"))


def test_delta_rejects_benchmark_when_base_did_not_decontaminate(
    spark, corpus, bench, tmp_path
):
    # the batch follows the corpus's contract (no decontamination): a
    # supplied eval suite would be silently ignored and its contaminated
    # rows ingested — fail before any scan instead
    out = tmp_path / "o"
    _run(spark, corpus, None, out)
    batch = spark.createDataFrame(
        [(40, "a new leak gram one two three four right here")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="did not decontaminate"):
        curate_delta(spark, batch, str(out), benchmark=bench)
    assert not (out / "_meta" / "deltas").exists()


def test_delta_applies_base_min_quality_at_both_gates(spark, tmp_path):
    # min_tokens=0 isolates the quality floor: every doc below clears the
    # token floor at both gates, so only min_quality can drop it
    out = tmp_path / "o"
    curate_corpus(
        spark,
        spark.createDataFrame([(1, _DOCS[-1][1])], ["doc_id", "text"]),
        str(out),
        min_tokens=0, min_quality=0.5, span_k=4, seq_len=16, n_shards=2,
    )
    repeated = "the quick brown fox jumps over the lazy dog, and the cat naps."
    batch = spark.createDataFrame(
        [
            # whitespace only: quality 0.0 at the first gate
            (50, " \n\u3000 "),
            # passes the first gate (quality 1.0); every token sits in a
            # 4-gram seen twice, so span cleaning leaves '' -> quality
            # 0.0 at the re-gate
            (51, repeated + " " + repeated),
            (52, "a fresh control document arriving in the new batch"),
        ],
        ["doc_id", "text"],
    )
    c = curate_delta(spark, batch, str(out))["counts"]
    assert c["after_quality"] == 2       # 50 dropped
    assert c["after_span_dedup"] == 1    # 51 dropped
    ids = [r.id for r in read_curated(spark, str(out)).where("batch != 'base'").collect()]
    assert ids == [52]


def test_delta_dedups_against_existing_corpus(spark, corpus, bench, tmp_path):
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    batch = spark.createDataFrame(
        [
            # content-duplicate of surviving doc 17 under a NEW id
            (20, _DOCS[-1][1]),
            # id collision with existing doc 11 — not a new document
            (11, "same id as an existing row brand new words"),
            # genuinely new
            (21, "a genuinely new arrival with fresh content entirely"),
            # contaminated vs the same benchmark
            (22, "another leak gram one two three four right here today"),
        ],
        ["doc_id", "text"],
    )
    meta = curate_delta(spark, batch, str(out), benchmark=bench)
    c = meta["counts"]
    assert c["docs_in"] == 4
    assert c["after_existing_ids"] == 3      # 11 dropped (id exists)
    assert c["after_decontam"] == 2          # 22 dropped
    assert c["after_exact_dedup"] == 1       # 20 dropped (content exists)
    curated = spark.read.parquet(str(out / "curated"))
    ids = sorted(r.id for r in curated.collect())
    assert 21 in ids and 20 not in ids and 22 not in ids
    # appended rows carry the stored content hashes
    assert {"content_h1", "content_h2"} <= set(curated.columns)
    # packed output for the batch is scoped under packed_delta/
    packed = spark.read.parquet(
        str(out / "packed_delta" / f"batch={meta['batch']}")
    )
    assert packed.count() == c["packed_docs"] == 1


def test_delta_batch_idempotence(spark, corpus, bench, tmp_path):
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    batch = spark.createDataFrame(
        [(30, "one fresh incremental document arriving now")], ["doc_id", "text"]
    )
    m1 = curate_delta(spark, batch, str(out), benchmark=bench)
    assert m1["skipped"] is False
    n_after_first = spark.read.parquet(str(out / "curated")).count()
    m2 = curate_delta(spark, batch, str(out), benchmark=bench)
    assert m2["skipped"] is True
    # the append did NOT happen twice
    assert spark.read.parquet(str(out / "curated")).count() == n_after_first


def test_delta_split_consistency_with_base(spark, corpus, bench, tmp_path):
    # a doc curated via delta gets the SAME split/shard it would have
    # gotten in the base run (content-addressed assignment)
    out1, out2 = tmp_path / "a", tmp_path / "b"
    extra = (40, "a document that could arrive early or late either way")
    _run(spark, corpus, bench, out1)
    curate_delta(
        spark,
        spark.createDataFrame([extra], ["doc_id", "text"]),
        str(out1),
        benchmark=bench,
    )
    _run(
        spark,
        corpus.union(spark.createDataFrame([extra], ["doc_id", "text"])),
        bench,
        out2,
    )
    a = {r.id: (r.split, r.shard)
         for r in spark.read.parquet(str(out1 / "curated")).collect()}
    b = {r.id: (r.split, r.shard)
         for r in spark.read.parquet(str(out2 / "curated")).collect()}
    assert a == b


def test_delta_crash_retry_is_idempotent(spark, corpus, bench, tmp_path):
    # simulate a crash AFTER the curated write but BEFORE the delta
    # meta/packed commit: the retry must see neither its own
    # half-written rows (existing excludes batch=<tag>) nor
    # double-append them (dynamic partition overwrite replaces them)
    import shutil
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    batch = spark.createDataFrame(
        [(50, "a brand new document arriving in this batch now")],
        ["doc_id", "text"],
    )
    m1 = curate_delta(spark, batch, str(out), benchmark=bench)
    # wipe the commit markers, keep the curated rows — the crash state
    shutil.rmtree(out / "_meta" / "deltas")
    shutil.rmtree(out / "packed_delta")
    m2 = curate_delta(spark, batch, str(out), benchmark=bench)
    assert m2["skipped"] is False
    assert m2["counts"] == m1["counts"]          # retry saw a clean slate
    curated = spark.read.parquet(str(out / "curated"))
    assert curated.where("id = 50").count() == 1  # never double-appended


def test_base_rerun_clears_stale_delta_markers(spark, corpus, bench, tmp_path):
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    batch = spark.createDataFrame(
        [(60, "one incremental arrival that must survive rebuilds")],
        ["doc_id", "text"],
    )
    curate_delta(spark, batch, str(out), benchmark=bench)
    # rebuild the base: the overwrite discards the delta rows, so its
    # marker must not keep claiming the batch is ingested
    _run(spark, corpus, bench, out, force=True)
    curated = spark.read.parquet(str(out / "curated"))
    assert curated.where("id = 60").count() == 0
    m = curate_delta(spark, batch, str(out), benchmark=bench)
    assert m["skipped"] is False                  # re-ingests, no silent loss
    assert spark.read.parquet(str(out / "curated")).where("id = 60").count() == 1


def test_delta_rejects_wrong_benchmark(spark, corpus, bench, tmp_path):
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    other = spark.createDataFrame([(1, "a different eval suite text")],
                                  ["bid", "text"])
    batch = spark.createDataFrame([(70, "whatever new document")],
                                  ["doc_id", "text"])
    with pytest.raises(ValueError, match="benchmark mismatch"):
        curate_delta(spark, batch, str(out), benchmark=other)
    with pytest.raises(ValueError, match="benchmark"):
        curate_delta(spark, batch, str(out), benchmark=None)


def test_delta_span_dedup_equivalence_with_scratch_run(spark, bench, tmp_path):
    # the trap the stored PRE-clean hashes close: corpus doc 15's text
    # was modified by span cleaning; a batch doc equal to 15's ORIGINAL
    # text must still dedup away (a from-scratch run would have deduped
    # the pair pre-clean)
    out = tmp_path / "o"
    _run(spark, spark.createDataFrame(_DOCS, ["doc_id", "text"]), bench, out)
    batch = spark.createDataFrame(
        [(80, _DOCS[5][1])],  # doc 15's original pre-clean text
        ["doc_id", "text"],
    )
    m = curate_delta(spark, batch, str(out), benchmark=bench)
    assert m["counts"]["after_exact_dedup"] == 0
    assert spark.read.parquet(str(out / "curated")).where("id = 80").count() == 0


def test_training_windows_emitted(spark, corpus, bench, tmp_path):
    out = tmp_path / "o"
    meta = _run(spark, corpus, bench, out)
    win = spark.read.parquet(str(out / "windows"))
    assert meta["counts"]["training_windows"] == win.count()
    rows = win.collect()
    # every window row respects the capacity; tails carry the remainder
    assert all(0 <= r.window_len <= 16 for r in rows)
    assert all(r.window_idx >= 0 for r in rows)
    # token conservation: windows of a doc sum to its token count
    per_doc = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.window_len
    packed = {r.doc_id: r.n_tokens
              for r in spark.read.parquet(str(out / "packed")).collect()}
    assert per_doc == packed


def test_delta_emits_batch_scoped_windows(spark, corpus, bench, tmp_path):
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    batch = spark.createDataFrame(
        [(90, "fresh content for the window emission check here")],
        ["doc_id", "text"],
    )
    m = curate_delta(spark, batch, str(out), benchmark=bench)
    win = spark.read.parquet(
        str(out / "windows_delta" / f"batch={m['batch']}")
    )
    assert m["counts"]["training_windows"] == win.count() >= 1


def test_abandoned_crashed_batch_does_not_suppress_reingest(
    spark, corpus, bench, tmp_path
):
    # batch X crashes after its curated write (no meta); its content
    # later arrives inside a DIFFERENT batch — the committed-batch
    # filter must let it re-ingest instead of deduping against the
    # orphan rows (r5 review finding)
    import shutil
    from readability_scanner_spark.plans.curate import read_curated

    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    doc = (95, "content that first arrived in a crashed batch attempt")
    bx = spark.createDataFrame([doc], ["doc_id", "text"])
    curate_delta(spark, bx, str(out), benchmark=bench)
    # simulate the crash: data landed, commit markers did not
    shutil.rmtree(out / "_meta" / "deltas")
    shutil.rmtree(out / "packed_delta")
    shutil.rmtree(out / "windows_delta")
    # same content, different batch boundary (extra doc -> new tag)
    merged = spark.createDataFrame(
        [doc, (96, "an unrelated companion document in the merged batch")],
        ["doc_id", "text"],
    )
    m = curate_delta(spark, merged, str(out), benchmark=bench)
    assert m["counts"]["after_exact_dedup"] == 2  # 95 NOT deduped away
    # the consumer view serves each id exactly once (orphan filtered)
    ids = [r.id for r in read_curated(spark, str(out)).collect()]
    assert ids.count(95) == 1 and 96 in ids


def test_base_rebuild_with_live_deltas_requires_force(
    spark, corpus, bench, tmp_path
):
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    curate_delta(
        spark,
        spark.createDataFrame([(97, "an ingested incremental document")],
                              ["doc_id", "text"]),
        str(out),
        benchmark=bench,
    )
    # unchanged input+params skips fine (no destruction)
    assert _run(spark, corpus, bench, out)["skipped"] is True
    # a CHANGED base without force must refuse, not silently discard
    with pytest.raises(ValueError, match="delta batches"):
        _run(spark, corpus, bench, out, seq_len=32)
    # force proceeds and clears the markers
    _run(spark, corpus, bench, out, seq_len=32, force=True)
    import os
    assert not os.path.isdir(out / "_meta" / "deltas")


def test_legacy_meta_without_benchmark_fingerprint(spark, corpus, bench, tmp_path):
    # a pre-upgrade meta (no benchmark_fingerprint key): the base skip
    # path must tolerate it when nothing else changed, and the delta
    # path must name the real problem instead of 'benchmark mismatch'
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    meta_path = out / "_meta" / "curate.json"
    m = json.load(open(meta_path))
    bfp = m["params"].pop("benchmark_fingerprint")
    json.dump(m, open(meta_path, "w"))
    with pytest.raises(ValueError, match="predates delta support"):
        curate_delta(
            spark,
            spark.createDataFrame([(98, "x y z")], ["doc_id", "text"]),
            str(out),
            benchmark=bench,
        )
    # with no ingested deltas on disk, a base re-submission against the
    # legacy meta rebuilds (the recorded contract genuinely lacks the
    # benchmark identity) — and the rebuilt meta carries the key again
    m2 = _run(spark, corpus, bench, out)
    assert m2["skipped"] is False
    assert json.load(open(meta_path))["params"]["benchmark_fingerprint"] == bfp


def test_crashed_force_rebuild_does_not_skip(spark, corpus, bench, tmp_path):
    # a force rebuild that dies mid-chain must leave NO base meta —
    # otherwise a blind re-submission skips over the half-built output
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    import os
    # seq_len=-1 raises inside pack_sequences — i.e. AFTER the markers/
    # meta were cleared and the curated overwrite ran, exactly the
    # crash window under test
    with pytest.raises(ValueError, match="seq_len"):
        _run(spark, corpus, bench, out, seq_len=-1, force=True)
    assert not os.path.exists(out / "_meta" / "curate.json")
    # the blind re-submission now REBUILDS instead of skipping
    m = _run(spark, corpus, bench, out)
    assert m["skipped"] is False


def test_read_packed_and_windows_exclude_orphan_batches(
    spark, corpus, bench, tmp_path
):
    import shutil
    from readability_scanner_spark.plans.curate import read_packed, read_windows

    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    doc = (95, "content arriving first in a crashed batch attempt")
    curate_delta(
        spark, spark.createDataFrame([doc], ["doc_id", "text"]),
        str(out), benchmark=bench,
    )
    # crash simulation: delta data written, commit marker gone
    shutil.rmtree(out / "_meta" / "deltas")
    merged = spark.createDataFrame(
        [doc, (96, "companion document for the re-ingested batch")],
        ["doc_id", "text"],
    )
    curate_delta(spark, merged, str(out), benchmark=bench)
    # the committed views serve doc 95 exactly once (orphan dirs exist
    # on disk but are never scanned)
    packed_ids = [r.doc_id for r in read_packed(spark, str(out)).collect()]
    win_ids = [r.doc_id for r in read_windows(spark, str(out)).collect()]
    assert packed_ids.count(95) == 1 and win_ids.count(95) == 1
    assert 96 in packed_ids and 96 in win_ids


def test_delta_resubmission_still_rejects_missing_benchmark(
    spark, corpus, bench, tmp_path
):
    # the scan-free presence check runs BEFORE the skip path: a
    # misconfigured scheduler fails loudly even on re-submissions
    out = tmp_path / "o"
    _run(spark, corpus, bench, out)
    batch = spark.createDataFrame([(99, "some new document")], ["doc_id", "text"])
    curate_delta(spark, batch, str(out), benchmark=bench)
    with pytest.raises(ValueError, match="pass the same benchmark"):
        curate_delta(spark, batch, str(out), benchmark=None)
