"""Unit tests for the operator modules (SURVEY.md §5.2 test model):
known-answer checks computed independently in Python/numpy."""

import collections
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from readability_scanner_spark.operators import dedup, io_ops, multimodal, similarity, textquality


# --- similarity -----------------------------------------------------------------

@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.RandomState(7)
    base_a = rng.randn(8)
    base_b = rng.randn(8)
    rows = []
    for i in range(10):  # cluster A: 0-9
        rows.append((i, (base_a + 0.05 * rng.randn(8)).tolist()))
    for i in range(10, 20):  # cluster B
        rows.append((i, (base_b + 0.05 * rng.randn(8)).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows


def _np_cos(a, b):
    a, b = np.array(a), np.array(b)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_col_matches_numpy(spark, vec_df):
    df, rows = vec_df
    a = df.selectExpr("vec_id as id_a", "embedding as va")
    b = df.selectExpr("vec_id as id_b", "embedding as vb")
    out = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", similarity.cosine_col(F.col("va"), F.col("vb")).alias("sim"))
        .collect()
    )
    lookup = {r[0]: r[1] for r in rows}
    for row in out:
        assert row.sim == pytest.approx(_np_cos(lookup[row.id_a], lookup[row.id_b]), abs=1e-9)


def test_similarity_pairs_finds_clusters(spark, vec_df):
    df, _ = vec_df
    pairs = similarity.similarity_pairs(df, "vec_id", "embedding", 0.9).collect()
    assert len(pairs) == 90  # 2 * C(10,2) within-cluster pairs
    for p in pairs:
        assert (p.id_a < 10) == (p.id_b < 10)


def test_knn_topk_matches_bruteforce(spark, vec_df):
    df, rows = vec_df
    query = rows[0][1]
    got = [r.vec_id for r in similarity.knn_topk(df.where("vec_id != 0"), "vec_id", "embedding", query, k=5).collect()]
    sims = sorted(
        ((_np_cos(query, v), -i) for i, v in rows if i != 0), reverse=True
    )
    expected = [-s[1] for s in sims[:5]]
    assert got == expected


def test_lsh_pairs_subset_of_bruteforce(spark, vec_df):
    df, _ = vec_df
    brute = {(p.id_a, p.id_b) for p in similarity.similarity_pairs(df, "vec_id", "embedding", 0.9).collect()}
    lsh = {
        (p.id_a, p.id_b)
        for p in similarity.lsh_bucketed_pairs(df, "vec_id", "embedding", 8, 0.9, n_planes=4).collect()
    }
    assert lsh <= brute
    assert len(lsh) > 0  # tight clusters should collide in buckets


def test_greedy_topics_deterministic_and_clustered(spark, vec_df):
    """Two tight clusters in w0 plus a zero-norm vector (cosine 0 with
    everything, itself included: never a seed's member), and an
    all-equal pool in w1 (one topic, seeded by the newest id)."""
    df, _ = vec_df
    extra = spark.createDataFrame(
        [(99, [0.0] * 8, "w0")] + [(i, [1.0] * 8, "w1") for i in range(100, 105)],
        "vec_id long, embedding array<double>, window string",
    )
    win = df.withColumn("window", F.lit("w0")).unionByName(extra)
    out1 = similarity.greedy_topic_groups(win, "vec_id", "embedding", "vec_id", "window", 0.9, 3).collect()
    out2 = similarity.greedy_topic_groups(win.repartition(7), "vec_id", "embedding", "vec_id", "window", 0.9, 3).collect()
    assert out1 == out2
    topics = {}
    for r in out1:
        topics.setdefault(r.topic_id, []).append(r.member_id)
    assert topics.pop("w1-104") == [100, 101, 102, 103, 104]
    assert len(topics) == 2
    for members in topics.values():
        assert len(members) == 10
        assert len({m < 10 for m in members}) == 1  # no cross-cluster mixing


def test_greedy_failed_seed_still_absorbable(spark):
    """Reference semantics (ml-service/main.py:429-497): a seed whose
    group is too small is NOT consumed — a later seed can absorb it.
    Seeds iterate newest-first (id 30 first). Seed 30 only matches 20
    (group of 2 < min 3, fails); seed 20 matches {20, 30, 10} — all
    three must land in one topic. Marking failed seeds processed (the
    round-1 bug) would leave 30 out and emit no group at all."""
    a = [1.0, 0.0, 0.0]
    b = [0.70710678, 0.70710678, 0.0]  # cos(a,b)=.707, cos(b,c)=.707
    c = [0.0, 1.0, 0.0]  # cos(a,c)=0
    rows = [(10, a), (20, b), (30, c)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").withColumn(
        "window", F.lit("w")
    )
    out = similarity.greedy_topic_groups(
        df, "vec_id", "embedding", "vec_id", "window", threshold=0.7, min_group_size=3
    ).collect()
    got = {(r.topic_id, r.member_id) for r in out}
    assert {m for _, m in got} == {10, 20, 30}
    assert len({t for t, _ in got}) == 1


def test_greedy_topics_query_clusters_windows_past_500_rows(spark, tmp_path):
    """q_greedy_topics clusters every row of a window: 4 windows
    (vec_id % 4) of 600 identical vectors give 4 topics of 600, each
    seeded by its window's newest id. A 500-row pool cap would leave
    100 rows per window out of any topic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    n = 2400
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array([[1.0, 0.5, 0.25]] * n, pa.list_(pa.float32())),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    out = entry.q_greedy_topics(spark, str(tmp_path)).collect()
    sizes = collections.Counter((r.window, r.topic_id) for r in out)
    assert sizes == {(str(w), f"{w}-{n - 4 + w}"): 600 for w in range(4)}


# --- dedup -----------------------------------------------------------------------

@pytest.fixture(scope="module")
def doc_df(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs through the green field "
        "chasing rabbits all day long without any rest whatsoever in the warm sunshine"
    )
    near = base.replace("green field", "blue field")
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, "completely different text about database engines and query optimization plans"),
        (5, "another unrelated document mentioning spark partitions and shuffle behavior"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, doc_df):
    out = {r.keep_id: r.n_copies for r in dedup.exact_dedup(doc_df, "text", "doc_id").collect()}
    assert out[1] == 2
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_ngram_jaccard_pairs(spark, doc_df):
    out = dedup.ngram_jaccard_pairs(doc_df, "doc_id", "text", threshold=0.5).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_candidates_find_near_dups(spark, doc_df):
    out = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_candidates(doc_df, "doc_id", "text").collect()}
    assert (1, 2) in out
    assert (1, 3) in out
    assert (4, 5) not in out


def test_minhash_bands_must_divide_hashes(spark):
    """With more bands than hashes every band was the same empty slice:
    all documents shared one bucket and the join emitted every pair
    (five unrelated docs gave all 10). A band layout that does not
    divide the signature is refused; a valid one pairs none of them."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(5)],
        "doc_id long, text string",
    )
    for n_hashes, bands in ((64, 128), (64, 0), (64, 24)):
        with pytest.raises(ValueError, match="must divide"):
            dedup.minhash_lsh_candidates(docs, "doc_id", "text", n_hashes=n_hashes, bands=bands)
    assert dedup.minhash_lsh_candidates(docs, "doc_id", "text", n_hashes=64, bands=16).collect() == []


def test_simhash_near_dups(spark, doc_df):
    out = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_near_dups(doc_df, "doc_id", "text", max_hamming=10).collect()}
    assert out.get((1, 2)) == 0
    assert (1, 3) in out and out[(1, 3)] <= 10
    assert (4, 5) not in out


def test_simhash_blocking_complete_vs_bruteforce(spark):
    """Pigeonhole blocking must find EVERY pair at the configured
    max_hamming (the round-1 4x16 layout silently dropped hamming 4-6
    pairs). Brute-force the hamming matrix over the raw simhashes and
    compare pair sets exactly, for several thresholds."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .repartition(8)
    )
    hashes = {r.doc_id: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()}
    ids = sorted(hashes)
    for h_max in (3, 6, 12):
        brute = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= h_max
        }
        blocked = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_near_dups(docs, "doc_id", "text", max_hamming=h_max).collect()
        }
        assert blocked == brute, f"h={h_max}: missing={brute - blocked} extra={blocked - brute}"


def test_simhash_block_layout_covers_all_bits():
    for h in (0, 1, 3, 6, 20, 63):
        layout = dedup._simhash_block_layout(h)
        assert len(layout) == h + 1
        assert sum(w for _, w in layout) == 64
        offs = [o for o, _ in layout]
        assert offs == sorted(offs) and offs[0] == 0


def test_embedding_near_dups_lsh_is_bucket_join(spark, vec_df):
    """The embedding near-dup scale path must be the bucket join (no
    nested-loop/cartesian in the plan) and still find near-identical
    vectors, a subset of the exact all-pairs path's."""
    df, rows = vec_df
    out = similarity.lsh_bucketed_pairs(
        df, "vec_id", "embedding", len(rows[0][1]), threshold=0.95, n_planes=4
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    brute = {
        (p.id_a, p.id_b)
        for p in similarity.similarity_pairs(df, "vec_id", "embedding", 0.95).collect()
    }
    assert pairs <= brute and pairs


def test_dedup_by_key_keeps_newest(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], "k string, ver int, v int"
    )
    out = {r.k: (r.ver, r.v) for r in dedup.dedup_by_key(df, "k", "ver").collect()}
    assert out == {"a": (2, 20), "b": (1, 30)}


def _union_find_components(pairs):
    """Stdlib oracle: node -> min node id of its connected component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_shapes(spark):
    """Chain, cycle, and two separate components — component id must be
    the min reachable node. A pair with a null end links nothing."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain 1-5
         (10, 11), (11, 12), (12, 10),        # cycle
         (20, 21),                            # pair
         (30, None), (None, 1)],              # null ends
        "id_a long, id_b long",
    )
    got = {r.node: r.component for r in dedup.connected_components(edges, "id_a", "id_b").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # repartitioning must not change the labeling
    got2 = {
        r.node: r.component
        for r in dedup.connected_components(edges.repartition(7), "id_a", "id_b").collect()
    }
    assert got2 == got
    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(1, 41)]  # diameter 40
    rand = [(rng.randrange(50), rng.randrange(50)) for _ in range(60)]
    for pairs in (chain, [(a, b) for a, b in rand if a != b]):
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {
            r.node: r.component
            for r in dedup.connected_components(edges, "id_a", "id_b").collect()
        }
        assert got == _union_find_components(pairs)
        if pairs is chain:
            assert set(got.values()) == {1}


def test_connected_components_deep_graph_in_one_pass(spark):
    """A 500-node chain (diameter 499) plus a 200-leaf star, edges
    shuffled and pointing both ways: one component per shape, each
    labelled by its min id. Building the frame starts no Spark job."""
    rng = random.Random(13)
    pairs = [(i, i + 1) for i in range(1000, 1499)]
    pairs += [(5000, leaf) for leaf in range(5001, 5201)]
    pairs = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in pairs]
    rng.shuffle(pairs)
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    sc = spark.sparkContext
    sc.setJobGroup("cc-construct", "connected_components")
    try:
        comps = dedup.connected_components(edges, "id_a", "id_b")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    got = {r.node: r.component for r in comps.collect()}
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("cc-construct") == []
    assert got == _union_find_components(pairs)
    assert sorted(set(got.values())) == [1000, 5000]
    assert len(got) == 701


def test_resolve_duplicate_clusters_canonical(spark):
    docs = spark.createDataFrame(
        [(1, "short"), (2, "the longest text wins here"), (3, "mid text"),
         (20, "same len"), (21, "same len"), (99, "singleton never appears")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (20, 21)], "id_a long, id_b long")
    out = {r.doc_id: (r.component, r.canonical_id, r.is_canonical)
           for r in dedup.resolve_duplicate_clusters(pairs, docs, "doc_id", "text").collect()}
    assert out[2] == (1, 2, True)  # longest text wins
    assert out[1] == (1, 2, False) and out[3] == (1, 2, False)
    assert out[20] == (20, 20, True)  # length tie → smallest id
    assert out[21] == (20, 20, False)
    assert 99 not in out  # singletons are not duplicates


# --- textquality -----------------------------------------------------------------

def test_lang_id(spark):
    rows = [
        (1, "the cat is on the mat and the dog is in the house with the children"),
        (2, "der hund ist nicht mit der katze und das haus ist ein schönes haus"),
        (3, "le chat est dans la maison et les enfants sont dans le jardin pour que"),
        (4, "xqz brzk fhwq pltm"),
        (5, "数据处理系统在大规模集群上运行良好并且性能稳定"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r.lang_guess for r in textquality.with_lang_quality_cols(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "und"
    assert out[5] == "zh"


def test_lang_id_cjk_branches(spark):
    rows = [
        # japanese: kanji + kana mix — kana presence discriminates from zh
        (1, "データ処理システムは大規模クラスターで安定して動作します"),
        # korean: hangul
        (2, "데이터 처리 시스템은 대규모 클러스터에서 안정적으로 작동합니다"),
        # chinese: han only, no kana
        (3, "数据处理系统在大规模集群上运行良好并且性能稳定"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r.lang_guess for r in textquality.with_lang_quality_cols(df).collect()}
    assert out == {1: "ja", 2: "ko", 3: "zh"}


def test_quality_stopword_term_follows_language(spark):
    """Non-English text with healthy stopword density must not be floored
    on the stopword term; CJK text passes the term outright (it has no
    whitespace stopwords to count)."""
    de = (
        "Der Hund ist nicht mit der Katze in dem Haus, und das Wetter ist "
        "heute wirklich schön. Die Kinder spielen mit dem Ball, und der "
        "Vater liest die Zeitung im Garten während der Nachmittag vergeht."
    ) * 2
    en = (
        "The dog is not with the cat in the house, and the weather is "
        "really nice today. The children play with the ball, and the "
        "father reads the newspaper in the garden as the afternoon passes."
    ) * 2
    zh = "数据处理系统在大规模集群上运行良好，并且性能稳定。数据的质量与吞吐率都满足要求，系统每天处理大量文本。" * 3
    df = spark.createDataFrame([(1, de), (2, en), (3, zh)], "id long, text string")
    out = {r.id: r.quality_score for r in textquality.with_lang_quality_cols(df).collect()}
    assert out[1] == out[2]  # same structure, different language: same score
    assert out[3] >= 0.7  # stopword + punct terms pass; word-length band may not


def test_quality_and_tokens(spark):
    good = "This is a well formed sentence, with punctuation. It has the usual structure of the readable text. " * 3
    df = spark.createDataFrame([(1, good), (2, "x y z")], "id long, text string")
    out = {r.id: (r.quality_score, r.n_tokens) for r in textquality.with_lang_quality_cols(df).collect()}
    assert out[1][0] > out[2][0]
    assert out[1][1] > 50 and out[2][1] == 3


# --- io_ops -----------------------------------------------------------------------

def test_upsert_by_key(spark):
    existing = spark.createDataFrame([("u1", 1, "old"), ("u2", 1, "keep")], "url string, ver int, v string")
    incoming = spark.createDataFrame([("u1", 2, "new"), ("u3", 1, "ins")], "url string, ver int, v string")
    out = {r.url: r.v for r in io_ops.upsert_by_key(existing, incoming, "url", "ver").collect()}
    assert out == {"u1": "new", "u2": "keep", "u3": "ins"}


def test_migrate_legacy_columns(spark):
    df = spark.createDataFrame(
        [(1, None, "2020"), (2, "2021", None), (3, None, None)],
        "id long, publication_date string, publishedTime string",
    )
    out = {r.id: r.publication_date for r in io_ops.migrate_legacy_columns(
        df, "publication_date", ["publishedTime"]
    ).collect()}
    assert out == {1: "2020", 2: "2021", 3: None}
    assert "publishedTime" not in io_ops.migrate_legacy_columns(df, "publication_date", ["publishedTime"]).columns


def test_delete_and_set(spark):
    df = spark.createDataFrame(
        [(1, "pending"), (2, "failed"), (3, "done"), (4, None)], "id long, status string"
    )
    kept = sorted(r.id for r in io_ops.delete_where(df, F.col("status") == "failed").collect())
    # row 4's predicate is NULL: SQL DELETE removes only TRUE rows
    assert kept == [1, 3, 4]
    out = {r.id: r.status for r in io_ops.set_columns_where(
        df, F.col("status") == "pending", {"status": F.lit("processing")}
    ).collect()}
    assert out[1] == "processing" and out[2] == "failed"


def test_export_ml_dataset(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"text {i}", "reliable" if i % 2 else "unreliable") for i in range(40)],
        "body string, reliability string",
    )
    path = str(tmp_path / "ml")
    io_ops.export_ml_dataset(df, path, "reliability", "body")
    back = spark.read.text(path)
    assert back.count() == 40
    import os
    splits = {d for d in os.listdir(path) if d.startswith("split=")}
    assert splits == {"split=train", "split=test"}


# --- multimodal --------------------------------------------------------------------

def test_parse_image_dimensions_formats():
    """Real stdlib header parsing: PNG (big-endian IHDR), GIF (little-
    endian screen descriptor), JPEG (SOFn segment scan past APP/DQT
    segments), and refusal on garbage/truncation/non-image bytes."""
    png = multimodal.make_png(37, 21, seed=3)
    assert multimodal.parse_image_dimensions(png) == (37, 21)
    gif = b"GIF89a" + (300).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 6
    assert multimodal.parse_image_dimensions(gif) == (300, 200)
    # minimal JPEG: SOI, APP0 stub, DQT stub, then SOF0 with h=480 w=640
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 8
        + b"\xff\xdb" + (4).to_bytes(2, "big") + b"\x00\x00"
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (480).to_bytes(2, "big") + (640).to_bytes(2, "big") + b"\x03" + b"\x00" * 9
        + b"\xff\xda" + (8).to_bytes(2, "big") + b"\x00" * 6
    )
    assert multimodal.parse_image_dimensions(jpeg) == (640, 480)
    assert multimodal.parse_image_dimensions(None) is None
    assert multimodal.parse_image_dimensions(b"") is None
    assert multimodal.parse_image_dimensions(b"not an image at all") is None
    assert multimodal.parse_image_dimensions(png[:20]) is None  # truncated IHDR
    assert multimodal.parse_image_dimensions(b"\xff\xd8\xff\xda\x00\x04\x00\x00") is None


def test_media_dimensions_round_trip(spark):
    """writer(w,h) → binary column → Arrow → worker-side parse must
    reproduce the requested dimensions for image AND video containers
    (PNG/JPEG/GIF headers, MP4 tkhd); audio payloads → NULLs."""
    media = multimodal.synthetic_media_df(spark, 30)
    out = {
        r.media_id: (r.width, r.height)
        for r in multimodal.extract_media_features(media).collect()
    }
    for i in range(30):
        kind, _payload, w, h = multimodal.synthetic_media_row(i)
        assert out[i] == ((w, h) if kind in ("image", "video") else (None, None))


def test_media_features_deterministic(spark):
    media = multimodal.synthetic_media_df(spark, 30)
    a = multimodal.extract_media_features(media).orderBy("media_id").collect()
    b = multimodal.extract_media_features(media.repartition(5)).orderBy("media_id").collect()
    assert a == b
    kinds = {r.media_id: r.kind for r in media.select("media_id", "kind").collect()}
    for r in a:
        if kinds[r.media_id] == "image":  # REAL pixel stats [w,h,ch,mean/std per ch]
            assert len(r.features) == 3 + 2 * int(r.features[2])
            assert r.features[0] == float(r.width) and r.features[1] == float(r.height)
        elif kinds[r.media_id] == "audio":  # REAL [sr, ch, n_samples, rms, peak]
            assert len(r.features) == 5 and r.features[0] == 8000.0
            assert 0.0 < r.features[3] <= 1.0
        else:  # video: REAL MJPEG decode [w,h,ch,n_frames,(mean,std)/ch]
            assert len(r.features) == 4 + 2 * int(r.features[2])
            assert r.features[0] == float(r.width) and r.features[3] >= 1.0
    assert all(r.n_bytes > 0 for r in a)


def test_sampled_frame_stats_decodes_real_frames(spark):
    """The decoding twin of the sample_frames plan: per sampled ts the
    nearest MJPEG frame's luma, computed distributed, must equal a local
    recompute — and non-MJPEG rows contribute nothing (honest gap)."""
    import numpy as np

    from readability_scanner_spark.operators.jpeg import decode_jpeg
    from readability_scanner_spark.operators.mp4 import extract_mjpeg_samples

    media = multimodal.synthetic_media_df(spark, 12)
    got = multimodal.sampled_frame_stats(media, every_ms=250).orderBy(
        "media_id", "frame_ts_ms"
    ).collect()
    assert got, "video rows must yield frames"
    videos = {
        r.media_id: (bytes(r.payload), r.duration_ms)
        for r in media.where("kind = 'video'").collect()
    }
    for r in got:
        payload, duration = videos[r.media_id]
        samples = extract_mjpeg_samples(payload)
        fi = min(round(r.frame_ts_ms * len(samples) / duration), len(samples) - 1)
        assert fi == r.frame_idx
        w, h, c, px = decode_jpeg(samples[fi])
        assert (w, h) == (r.width, r.height)
        luma = float(np.frombuffer(bytes(px), dtype=np.uint8).mean()) / 255.0
        assert r.mean_luma == pytest.approx(luma)
    # non-MJPEG video rows are skipped, not fatal
    from readability_scanner_spark.operators.mp4 import make_mp4

    plain = spark.createDataFrame(
        [(99, "video", make_mp4(64, 48, 2000), 2000)],
        "media_id long, kind string, payload binary, duration_ms long",
    )
    assert multimodal.sampled_frame_stats(plain, every_ms=500).count() == 0


def test_frame_sampling(spark):
    media = multimodal.synthetic_media_df(spark, 30)
    frames = multimodal.sample_frames(media, every_ms=1000)
    per_video = {r.media_id: r.cnt for r in frames.groupBy("media_id").agg(F.count("*").alias("cnt")).collect()}
    videos = {r.media_id: r.duration_ms for r in media.where("kind = 'video'").collect()}
    assert set(per_video) == set(videos)
    for mid, dur in videos.items():
        assert per_video[mid] == max(dur // 1000, 1)


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal._decode_image(b"\x89PNG")


# --- search (P9) --------------------------------------------------------------------

def test_text_search_relevance_or_semantics(spark):
    from readability_scanner_spark.operators import search
    rows = [
        (1, "spark spark spark shuffle"),
        (2, "spark shuffle partition"),
        (3, "nothing relevant here"),
        (4, "Spark SHUFFLE spark"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = [(r.id, r.relevance) for r in search.text_search(df, "text", "spark shuffle", "id").collect()]
    assert got == [(1, 4), (4, 3), (2, 2)]  # case-insensitive, OR semantics
    # a row matching only one term still ranks: $text ORs the terms
    got_or = [(r.id, r.relevance) for r in search.text_search(df, "text", "spark partition", "id").collect()]
    assert got_or == [(1, 3), (2, 2), (4, 2)]


def test_diagnose_rules():
    from readability_scanner_spark.plans.pipeline import diagnose
    assert diagnose({"turns_processed": 0}) == "empty bucket"
    assert diagnose({"turns_processed": 100, "parse_failures": 2, "mean_content_ratio": 0.6}) == "healthy"
    assert "elevated" in diagnose({"turns_processed": 100, "parse_failures": 20, "mean_content_ratio": 0.6})
    assert "critical" in diagnose({"turns_processed": 100, "parse_failures": 80, "mean_content_ratio": 0.6})
    assert "content ratio" in diagnose({"turns_processed": 100, "parse_failures": 0, "mean_content_ratio": 0.05})


# --- sessionization -------------------------------------------------------------------

def test_sessionize_gap_semantics(spark):
    from readability_scanner_spark.operators.sessions import session_stats
    rows = [
        (1, 100, "2025-01-01 10:00:00"),
        (2, 100, "2025-01-01 10:10:00"),   # same session (10 min)
        (3, 100, "2025-01-01 11:30:00"),   # 80-min gap -> new session
        (4, 200, "2025-01-01 10:00:00"),   # other user independent
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {(r.user_id, r.session_idx): (r.n_events, r.span_seconds) for r in
           session_stats(df, "user_id", "ts", gap_minutes=30).collect()}
    assert out[(100, 1)] == (2, 600.0)
    assert out[(100, 2)] == (1, 0.0)
    assert out[(200, 1)] == (1, 0.0)


def test_rolling_mean_window(spark):
    from readability_scanner_spark.operators.sessions import rolling_mean
    rows = [(i, 1, f"2025-01-01 10:{i:02d}:00", float(i)) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {r.event_id: r.rolling_value for r in
           rolling_mean(df, "user_id", ["ts", "event_id"], "value", preceding=1).collect()}
    assert out == {1: 1.0, 2: 1.5, 3: 2.5, 4: 3.5}


def test_ivf_knn_recall(spark):
    """IVF must find the true neighbors when clusters are separable."""
    from readability_scanner_spark.operators import similarity
    rng = np.random.RandomState(11)
    bases = rng.randn(4, 12) * 5
    rows = []
    for i in range(200):
        rows.append((i, (bases[i % 4] + 0.1 * rng.randn(12)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = rows[0][1]
    brute = [r.vec_id for r in similarity.knn_topk(df, "vec_id", "embedding", query, k=10).collect()]
    ivf = [r.vec_id for r in similarity.ivf_knn(df, "vec_id", "embedding", query, k=10,
                                                n_centroids=8, n_probe=2).collect()]
    recall = len(set(brute) & set(ivf)) / 10
    assert recall >= 0.9


def test_merge_precedence_join(spark):
    """$mergeObjects semantics: the document's own field wins; the dim
    fills only nulls (reference articles.py:348-360)."""
    from readability_scanner_spark.operators.analytics import merge_precedence_join
    docs = spark.createDataFrame(
        [(1, "src-a", "Doc Name", None), (2, "src-b", None, "keep"), (3, "missing", None, None)],
        "id long, origin string, name string, extra string",
    )
    urls = spark.createDataFrame(
        [("src-a", "Feed A", "reliable"), ("src-b", "Feed B", "biased")],
        "url string, name string, reliability string",
    )
    out = {r.id: r for r in merge_precedence_join(docs, urls, "origin", "url").collect()}
    assert out[1].name == "Doc Name"          # doc field wins
    assert out[1].reliability == "reliable"   # dim-only passes through
    assert out[2].name == "Feed B"            # dim fills the null
    assert out[2].extra == "keep"
    assert out[3].name is None and out[3].reliability is None  # unmatched


# --- temporal joins -------------------------------------------------------------------

def test_asof_join_semantics(spark):
    from readability_scanner_spark.operators.temporal import asof_join
    left = spark.createDataFrame(
        [(1, "k", "2025-01-01 10:00:00"), (2, "k", "2025-01-01 12:00:00"), (3, "k", "2025-01-01 08:00:00")],
        "lid long, k string, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(10, "k", "2025-01-01 09:00:00"), (20, "k", "2025-01-01 10:00:00"), (30, "k", "2025-01-01 11:00:00")],
        "rid long, k string, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.lid: r.rid_asof for r in asof_join(left, right, "k", "ts", ["rid"]).collect()}
    assert out[1] == 20   # equal ts -> right row included (>= semantics)
    assert out[2] == 30   # most recent prior
    assert out[3] is None # no prior right row


def test_range_join_boundaries(spark):
    from readability_scanner_spark.operators.temporal import range_join
    left = spark.createDataFrame(
        [(1, "k", "2025-01-01 10:00:00")], "lid long, k string, lts string"
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [(10, "k", "2025-01-01 10:00:00"),   # lower bound inclusive
         (20, "k", "2025-01-01 10:10:00"),   # upper bound inclusive (600s)
         (30, "k", "2025-01-01 10:10:01"),   # just outside
         (40, "x", "2025-01-01 10:05:00")],  # wrong key
        "rid long, k string, rts string").withColumn("rts", F.col("rts").cast("timestamp"))
    out = sorted(r.rid for r in range_join(left, right, "k", "lts", "rts", 0.0, 600.0).collect())
    assert out == [10, 20]


def test_cdc_chunking_shift_resistant(spark):
    """Content-defined chunks survive a prefix insertion: the documents
    still share most chunks (whole-doc hashing would share none)."""
    base = " ".join(f"sentence number {i} with several words inside it." for i in range(60))
    shifted = "A NEW INTRO PARAGRAPH WAS ADDED UP FRONT. " + base
    df = spark.createDataFrame([(1, base), (2, shifted), (3, "tiny")], "doc_id long, text string")
    out = dedup.cdc_overlap_pairs(df, "doc_id", "text", min_shared_chunks=2).collect()
    pairs = {(r.id_a, r.id_b): r.shared_chunks for r in out}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert (1, 3) not in pairs

    chunks = dedup.cdc_chunks(df, "doc_id", "text")
    per_doc = {r.doc_id: r.cnt for r in chunks.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()}
    assert per_doc[1] > 3        # long doc splits into several chunks
    assert per_doc[3] == 1       # short doc is one chunk


def test_jaccard_verify_equals_allpairs_on_candidates(spark, doc_df):
    """Verification over a candidate set must equal the quadratic form
    restricted to those pairs (same gram math, join-only plan)."""
    allpairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(doc_df, "doc_id", "text", threshold=0.0).collect()
    }
    cand = spark.createDataFrame([(1, 2), (1, 3), (4, 5)], "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_verify(cand, doc_df, "doc_id", "text", threshold=0.0).collect()
    }
    assert got == {k: allpairs[k] for k in [(1, 2), (1, 3), (4, 5)]}


def test_cosine_zero_vector_is_zero_not_nan(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r.id_a, r.id_b) for r in similarity.similarity_pairs(df, "vec_id", "embedding", 0.5).collect()}
    assert pairs == {(1, 2)}  # NaN would have matched the zero vector too
    top = [r.vec_id for r in similarity.knn_topk(df, "vec_id", "embedding", [1.0, 0.0], k=3).collect()]
    assert top[0] in (1, 2) and top[-1] == 0  # zero vector ranks LAST


def test_lsh_and_ivf_tolerate_bad_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 8), (3, None), (4, [1.0, 2.0]), (5, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r.id_a, r.id_b) for r in similarity.lsh_bucketed_pairs(df, "vec_id", "embedding", 8, 0.9, n_planes=2).collect()}
    assert pairs == {(1, 2)}  # bad rows dropped, no worker crash
    exact = {(r.id_a, r.id_b) for r in similarity.similarity_pairs(df, "vec_id", "embedding", 0.9).collect()}
    assert exact == {(1, 2), (4, 5)}  # null dropped; only same-length vectors pair


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_testdata_cosines_clear_query_thresholds(sf):
    """numpy (BLAS), Spark and DuckDB sum a dot product in different
    orders, so a cosine within float64 rounding of a threshold could
    fall on either side. Every testdata pair must clear the thresholds
    the queries use (greedy_topics 0.3; similar_pairs, lsh_ann_pairs,
    daily_topics 0.4) by far more than that rounding."""
    import pyarrow.parquet as pq

    vecs = pq.read_table(f"/root/testdata/{sf}/embeddings.parquet").column("embedding").to_pylist()
    mat, norms = similarity._stack(vecs)
    sims = similarity._cosines(mat, mat, norms)[np.triu_indices(len(mat), 1)]
    for threshold in (0.3, 0.4):
        assert np.abs(sims - threshold).min() > 1e-9


def test_session_first_last_by_event_time(spark):
    from readability_scanner_spark.operators.sessions import session_stats

    df = spark.createDataFrame(
        [(7, "2025-01-01 09:10:00", 3), (7, "2025-01-01 09:00:00", 9)],
        "user_id long, ts_s string, event_id long",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "event_id")
    row = session_stats(df, "user_id", "ts").first()
    assert (row.first_event, row.last_event) == (9, 3)  # by time, not id


def test_stratified_counts_null_stratum(spark):
    from readability_scanner_spark.operators.sampling import modulo_sample, stratified_counts

    docs = spark.createDataFrame(
        [(i, None if i % 2 == 0 else "en") for i in range(10)], "doc_id long, lang string"
    )
    out = {r.lang: (r.population, r.sampled) for r in
           stratified_counts(docs, "lang", modulo_sample(docs, "doc_id", 2)).collect()}
    assert out[None] == (5, 5)  # null stratum matches itself
    assert out["en"] == (5, 0)


def test_split_assign_exhaustive_disjoint_and_proportional(spark):
    from readability_scanner_spark.operators.sampling import split_assign

    docs = spark.createDataFrame([(i,) for i in range(5000)], "doc_id long")
    out = docs.select(
        "doc_id",
        split_assign(F.col("doc_id"), [("train", 8000), ("val", 1000), ("test", 1000)]),
    )
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}  # exhaustive, no nulls
    assert sum(counts.values()) == 5000  # disjoint (one label per row)
    assert 0.75 < counts["train"] / 5000 < 0.85
    assert 0.07 < counts["val"] / 5000 < 0.13
    # same salt -> identical assignment; different salt -> a different one
    again = docs.select("doc_id", split_assign(F.col("doc_id"), [("train", 8000), ("val", 1000), ("test", 1000)]))
    assert out.exceptAll(again).count() == 0
    other = docs.select("doc_id", split_assign(F.col("doc_id"), [("train", 8000), ("val", 1000), ("test", 1000)], salt=7))
    assert out.exceptAll(other).count() > 0


def test_split_assign_weights_must_sum_to_buckets(spark):
    import pytest as _pytest

    from readability_scanner_spark.operators.sampling import split_assign

    with _pytest.raises(ValueError):
        split_assign(F.col("doc_id"), [("train", 9000), ("val", 500)])
    with _pytest.raises(ValueError, match="positive"):
        split_assign(F.col("doc_id"), [("train", 11000), ("val", -1000)])


def test_split_assign_null_id_gets_null_split(spark):
    from readability_scanner_spark.operators.sampling import split_assign

    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    out = {
        r["doc_id"]: r["split"]
        for r in df.select(
            "doc_id",
            split_assign(F.col("doc_id"), [("train", 8000), ("val", 1000), ("test", 1000)]),
        ).collect()
    }
    assert out[None] is None  # NULL id never lands in a split silently
    assert out[1] in {"train", "val", "test"}


def test_split_assign_matches_duckdb(spark):
    import duckdb

    from readability_scanner_spark.operators.sampling import split_assign

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    got = {
        r["doc_id"]: r["split"]
        for r in docs.select(
            "doc_id", split_assign(F.col("doc_id"), [("train", 8000), ("val", 1000), ("test", 1000)], salt=3)
        ).collect()
    }
    want = dict(
        duckdb.connect()
        .execute(
            """
            SELECT i, CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
                           ELSE 'test' END
            FROM (SELECT range AS i,
                         md5_number_lower('3:' || CAST(range AS VARCHAR)) % 10000 AS b
                  FROM range(200))
            """
        )
        .fetchall()
    )
    assert got == want


def test_range_join_self_join_column_collision(spark):
    from readability_scanner_spark.operators.temporal import range_join

    ev = spark.createDataFrame(
        [(1, 100, "2025-01-01 10:00:00"), (1, 200, "2025-01-01 10:05:00")],
        "user_id long, event_id long, ts_s string",
    ).select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"))
    out = range_join(ev, ev, "user_id", "ts", "ts", 1.0, 600.0)
    assert "event_id_r" in out.columns and "ts_r" in out.columns
    row = out.select("event_id", "event_id_r").first()
    assert (row.event_id, row.event_id_r) == (100, 200)


def test_quality_score_empty_text_is_zero(spark):
    df = spark.createDataFrame([(1, ""), (2, None), (3, "   ")], "id long, text string")
    out = {r.id: r.quality_score for r in textquality.with_lang_quality_cols(df).collect()}
    assert out == {1: 0.0, 2: 0.0, 3: 0.0}


def test_search_matches_non_ascii_terms(spark):
    from readability_scanner_spark.operators.search import text_search

    df = spark.createDataFrame(
        [(1, "le café est ouvert aujourd'hui"), (2, "the cafe is open")],
        "doc_id long, text string",
    )
    out = [r.doc_id for r in text_search(df, "text", "café", "doc_id").collect()]
    assert out == [1]  # java \b would have matched nothing


def test_search_lookaround_equals_duckdb_token_oracle(spark):
    """The driver oracles count term hits as unicode token-run equality
    (RE2 has no lookarounds, and its \\b is ASCII-only). Prove the Spark
    lookaround count agrees on the adversarial adjacency cases — CJK/
    accented letters touching an ASCII term — where plain \\b diverges."""
    import duckdb

    from readability_scanner_spark.operators import search

    texts = [
        "data表 data data,data café x_data",  # CJK adjacency: \b says 4, truth is 3
        "données data数 DATA  9data data_",
        "plain data here and data",
        "no match at all",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    # text_search leaves rows without a hit out of its ranking: read them as 0
    ranked = {
        r.id: r.relevance
        for r in search.text_search(df, "text", "data", "id", limit=len(texts)).collect()
    }
    got = {i: ranked.get(i, 0) for i in range(len(texts))}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        (want,) = con.execute(
            "SELECT len(list_filter(regexp_extract_all(lower(?), '[\\p{L}\\p{N}_]+'), x -> x = 'data'))",
            [t],
        ).fetchone()
        assert got[i] == want, (i, t, got[i], want)


def _encode_png_filtered(width, height, channels, pixels, ftype):
    """Test-side PNG encoder applying ONE filter type to every row —
    the inverse of decode_png's unfilter, so roundtrip proves each
    filter path (spec §9) independently."""
    import struct
    import zlib

    ct = {1: 0, 3: 2, 4: 6}[channels]
    stride = width * channels
    prev = bytearray(stride)
    raw = bytearray()
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        enc = bytearray(row)
        if ftype == 1:
            for i in range(stride - 1, channels - 1, -1):
                enc[i] = (enc[i] - row[i - channels]) & 0xFF
        elif ftype == 2:
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(stride):
                a = row[i - channels] if i >= channels else 0
                enc[i] = (enc[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:
            for i in range(stride):
                a = row[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        raw += bytes([ftype]) + enc
        prev = row

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ct, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6)) + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 3, 4])
def test_decode_png_all_filters_roundtrip(ftype, channels):
    import random

    rng = random.Random(ftype * 10 + channels)
    w, h = 9, 7
    pixels = bytearray(rng.randrange(256) for _ in range(w * h * channels))
    raw = _encode_png_filtered(w, h, channels, pixels, ftype)
    got = multimodal.decode_png(raw)
    assert got == (w, h, channels, pixels)


def test_decode_png_matches_writer_pattern_and_stats():
    png = multimodal.make_png(5, 4, seed=9)
    w, h, ch, px = multimodal.decode_png(png)
    assert (w, h, ch) == (5, 4, 3)
    # writer pattern: byte x of row y is (seed + y*31 + x) % 256
    expect = bytearray((9 + y * 31 + x) % 256 for y in range(4) for x in range(15))
    assert px == expect
    feats = multimodal.image_pixel_stats(png)
    assert feats[:3] == [5.0, 4.0, 3.0]
    plane0 = expect[0::3]
    mean0 = sum(plane0) / 20
    assert abs(feats[3] - mean0 / 255.0) < 1e-9
    assert len(feats) == 3 + 2 * 3


def test_decode_png_rejects_unsupported():
    import struct as _s
    import zlib as _z

    with pytest.raises(ValueError):
        multimodal.decode_png(b"not png")
    with pytest.raises((ValueError, NotImplementedError)):
        multimodal._decode_image(b"GIF89a" + b"\x00" * 20)  # GIF pixels: honest stub
    # 16-bit depth refused, not silently mangled
    def chunk(typ, data):
        return _s.pack(">I", len(data)) + typ + data + _s.pack(">I", _z.crc32(typ + data))
    ihdr16 = _s.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16) + chunk(b"IDAT", _z.compress(b"\x00" * 26)) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bit depth"):
        multimodal.decode_png(bad)


@pytest.mark.parametrize("channels", [1, 3, 4])
def test_encode_png_roundtrips_through_decoder(channels):
    import random

    rng = random.Random(channels)
    w, h = 11, 6
    pixels = bytes(rng.randrange(256) for _ in range(w * h * channels))
    got = multimodal.decode_png(multimodal.encode_png(w, h, channels, pixels))
    assert got == (w, h, channels, bytearray(pixels))


def test_resize_identity_is_exact_copy():
    png = multimodal.make_png(8, 5, seed=3)
    w, h, c, px = multimodal.decode_png(png)
    rw, rh, rc, rpx = multimodal.resize_pixels(w, h, c, px, 8, 5)
    # same-size bilinear: every source coordinate lands exactly on a
    # pixel center -> fx=fy=0 -> byte-exact copy
    assert (rw, rh, rc) == (8, 5, 3)
    assert bytes(rpx) == bytes(px)


def test_resize_constant_image_stays_constant():
    px = bytes([123]) * (10 * 7 * 3)
    for ow, oh in [(3, 2), (20, 15), (1, 1)]:
        _, _, _, rpx = multimodal.resize_pixels(10, 7, 3, px, ow, oh)
        assert set(rpx.tolist()) == {123}, (ow, oh)


def test_resize_2x_downscale_averages_neighbors():
    # 2x2 grey image [0, 100 / 200, 50] -> 1x1 center samples all four
    # corners with equal 0.25 weight -> floor(87.5 + 0.5) = 88
    px = bytes([0, 100, 200, 50])
    _, _, _, rpx = multimodal.resize_pixels(2, 2, 1, px, 1, 1)
    assert rpx.tolist() == [88]


def test_resize_image_decodes_jpeg_input():
    from readability_scanner_spark.operators.jpeg import make_jpeg

    out = multimodal.resize_image(make_jpeg(16, 12, seed=4), 8, 6)
    assert multimodal.decode_png(out)[:3] == (8, 6, 3)


def test_resize_images_dataframe_op(spark):
    rows = [
        (1, multimodal.make_png(12, 9, seed=1)),
        (2, b"not an image at all"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in multimodal.resize_images(df, 6, 4).collect()}
    ok = out[1]
    assert (ok["width"], ok["height"]) == (12, 9)
    assert multimodal.decode_png(ok["resized"])[:3] == (6, 4, 3)
    assert ok["resized_bytes"] == len(ok["resized"]) > 0
    for bad_id in (2, 3):
        assert out[bad_id]["resized"] is None
        assert out[bad_id]["resized_bytes"] == 0


def test_resample_wav_identity_and_halving():
    wav = multimodal.make_wav(400, sample_rate=8000, channels=1, seed=5)
    same = multimodal.resample_wav(wav, 8000)
    # identity rate: sample positions land exactly on inputs -> same frames
    assert multimodal.parse_wav_info(same) == (8000, 1, 400, 50)
    p_in, p_out = multimodal._parse_wav(wav), multimodal._parse_wav(same)
    assert wav[p_in[3] : p_in[3] + 800] == same[p_out[3] : p_out[3] + 800]
    half = multimodal.resample_wav(wav, 4000)
    assert multimodal.parse_wav_info(half) == (4000, 1, 200, 50)


def test_resample_wav_constant_signal_stays_constant():
    import struct

    frames = struct.pack("<h", 1000) * 300
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(frames)) + frames
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    out = multimodal.resample_wav(wav, 11025)
    info = multimodal._parse_wav(out)
    vals = np.frombuffer(out, dtype="<i2", count=info[2], offset=info[3])
    assert set(vals.tolist()) == {1000}


def test_resample_audio_dataframe_op(spark):
    rows = [
        (1, multimodal.make_wav(160, sample_rate=8000, channels=2, seed=2)),
        (2, b"RIFFgarbage that is not wav"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in multimodal.resample_audio(df, 16000).collect()}
    ok = out[1]
    assert (ok["in_rate"], ok["n_samples"]) == (8000, 160)
    assert multimodal.parse_wav_info(ok["resampled"])[:3] == (16000, 2, 320)
    for bad_id in (2, 3):
        assert out[bad_id]["resampled"] is None
        assert out[bad_id]["resampled_bytes"] == 0


def test_resample_audio_nulls_row_on_hostile_fmt_rates(spark):
    """A fmt chunk is attacker-controlled: a u32 sample_rate above Int32
    max must NULL the row (it would otherwise crash pd.array(...,
    'Int32') OUTSIDE the per-row try, killing the whole batch), and a
    1 Hz rate on a non-tiny WAV must NULL the row via the
    WAV_RESAMPLE_MAX_SAMPLES guard instead of attempting an
    n_samples*out_rate-sized allocation. (A 1 Hz rate on a TINY wav
    stays under the cap and legitimately resamples.)"""
    import struct

    good = multimodal.make_wav(40, sample_rate=8000, seed=1)
    # 1200 samples * 16000/1 = 19.2M output samples > the 16M cap
    big = multimodal.make_wav(1200, sample_rate=8000, seed=1)

    def with_rate(wav, rate):
        # fmt chunk starts at byte 12+8; sample_rate is its third field
        return wav[:24] + struct.pack("<I", rate) + wav[28:]

    rows = [
        (1, good),
        (2, with_rate(good, 3_000_000_000)),
        (3, with_rate(big, 1)),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in multimodal.resample_audio(df, 16000).collect()}
    assert out[1]["resampled"] is not None
    for bad_id in (2, 3):
        assert out[bad_id]["resampled"] is None
        assert out[bad_id]["in_rate"] is None


def test_resample_wav_output_cap():
    wav = multimodal.make_wav(100, sample_rate=8000)
    with pytest.raises(ValueError, match="WAV_RESAMPLE_MAX_SAMPLES"):
        # 100 samples * (1M/8k) = 12.5k — fine; force it with a tiny cap
        parsed = multimodal._parse_wav(wav)
        multimodal.resample_wav(
            wav, multimodal.WAV_MAX_SAMPLE_RATE, parsed=(2, parsed[1], parsed[2], parsed[3])
        )


def test_encode_png_refuses_unroundtrippable_output():
    """encode_png must raise (not silently emit) an image decode_png
    would refuse — otherwise downstream re-decodes of resized payloads
    quietly fall to the fake-features path."""
    w = multimodal.PNG_DECODE_MAX_SAMPLES  # w*h*c = 3x the cap
    with pytest.raises(ValueError, match="PNG_DECODE_MAX_SAMPLES"):
        multimodal.encode_png(w, 1, 3, b"\x00" * (w * 3))


def test_make_png_layout_unchanged_by_encode_png_refactor():
    """make_png is now an encode_png wrapper; the bytes must equal the
    historical hand-assembled writer (filter 0 per scanline, zlib 6,
    single IDAT) so fixture digests stay stable."""
    import struct as _s
    import zlib as _z

    def chunk(typ, data):
        return _s.pack(">I", len(data)) + typ + data + _s.pack(">I", _z.crc32(typ + data))

    w, h, seed = 7, 5, 11
    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes((seed + y * 31 + x) % 256 for x in range(3 * w))
        for y in range(h)
    )
    legacy = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(raw, 6))
        + chunk(b"IEND", b"")
    )
    assert multimodal.make_png(w, h, seed=seed) == legacy


def test_features_dispatch_real_for_png_fake_otherwise():
    png = multimodal.make_png(6, 3, seed=1)
    real = multimodal._features_dispatch(png)
    assert real[:3] == [6.0, 3.0, 3.0]  # real pixel stats, not crc noise
    fake = multimodal._features_dispatch(b"\xff\xd8 jpeg-ish")
    assert len(fake) == 16 and fake != real
    assert multimodal._features_dispatch(None) == [0.0] * 16


def test_features_dispatch_never_raises_on_hostile_png():
    """Corrupt/hostile payloads must fall back to the fake vector, never
    kill the task: truncated IHDR (struct.error), corrupt IDAT
    (zlib.error), zero-width (ZeroDivisionError path), and an
    over-cap/bomb-shaped image (rejected BEFORE full inflate)."""
    import struct as _s
    import zlib as _z

    def chunk(typ, data):
        return _s.pack(">I", len(data)) + typ + data + _s.pack(">I", _z.crc32(typ + data))

    sig = b"\x89PNG\r\n\x1a\n"
    truncated = sig + _s.pack(">I", 13) + b"IHDR" + b"\x00\x00"
    zero_w = sig + chunk(b"IHDR", _s.pack(">IIBBBBB", 0, 2, 8, 2, 0, 0, 0)) + chunk(
        b"IDAT", _z.compress(b"\x00\x00")
    ) + chunk(b"IEND", b"")
    corrupt = bytearray(multimodal.make_png(8, 8, seed=2))
    corrupt[40] ^= 0xFF  # flip a byte inside IDAT
    bomb = sig + chunk(
        b"IHDR", _s.pack(">IIBBBBB", 50_000, 50_000, 8, 2, 0, 0, 0)
    ) + chunk(b"IDAT", _z.compress(b"\x00" * 1_000_000, 9)) + chunk(b"IEND", b"")

    for payload in (truncated, zero_w, bytes(corrupt), bomb):
        out = multimodal._features_dispatch(payload)
        assert out == multimodal._fake_features(payload)
    # the cap rejects oversized images cheaply (ValueError, no inflate)
    with pytest.raises(ValueError, match="MAX_SAMPLES"):
        multimodal.decode_png(bomb)


def test_wav_roundtrip_parse_and_stats():
    import numpy as np

    wav = multimodal.make_wav(120, sample_rate=16000, channels=2, seed=5)
    info = multimodal.parse_wav_info(wav)
    assert info == (16000, 2, 120, 120 * 1000 // 16000)
    feats = multimodal.wav_audio_stats(wav)
    assert feats[:3] == [16000.0, 2.0, 120.0]
    # recompute rms independently from the known writer formula
    samples = np.array(
        [((5 * 31 + j * 2654435761) % 65536) - 32768 for j in range(240)], dtype=np.float64
    )
    assert feats[3] == pytest.approx(float(np.sqrt(np.mean(samples**2))) / 32768.0)
    assert feats[4] == pytest.approx(float(np.max(np.abs(samples))) / 32768.0)


def test_wav_parser_walks_extra_chunks_and_rejects_non_pcm():
    import struct as _s

    wav = multimodal.make_wav(10, 8000, 1, seed=1)
    # splice a LIST chunk (odd length -> word alignment matters) before fmt
    extra = b"LIST" + _s.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = wav[:12] + extra + wav[12:]
    spliced = spliced[:4] + _s.pack("<I", len(spliced) - 8) + spliced[8:]
    assert multimodal.parse_wav_info(spliced) == (8000, 1, 10, 1)
    # non-PCM format code refused, not misparsed
    mutated = bytearray(wav)
    fmt_off = wav.index(b"fmt ") + 8
    mutated[fmt_off : fmt_off + 2] = _s.pack("<H", 3)  # IEEE float
    assert multimodal.parse_wav_info(bytes(mutated)) is None
    assert multimodal.parse_wav_info(b"RIFF1234WAVE") is None
    assert multimodal.parse_wav_info(None) is None
    # dispatch falls back to the fake on the refused payload
    out = multimodal._features_dispatch(bytes(mutated))
    assert out == multimodal._fake_features(bytes(mutated))


def test_wav_parser_truncated_fmt_and_trailing_data_garbage():
    """Truncated fmt chunks return None (never struct.error); trailing
    chunk-shaped garbage must not override the FIRST data chunk."""
    import struct as _s

    truncated = (
        b"RIFF" + _s.pack("<I", 44) + b"WAVE" + b"fmt " + _s.pack("<I", 16) + b"\x01\x00" * 4
    )
    assert multimodal.parse_wav_info(truncated) is None

    wav = multimodal.make_wav(10, 8000, 1, seed=1)
    tampered = wav + b"data" + _s.pack("<I", 2) + b"\x00\x00"
    assert multimodal.parse_wav_info(tampered) == multimodal.parse_wav_info(wav)
    assert multimodal.wav_audio_stats(tampered) == multimodal.wav_audio_stats(wav)


def test_compact_parquet_small_files(spark, tmp_path):
    """20 tiny files -> 1, same rows; already-compact tables are a
    no-op (no rewrite cost); staged swap leaves no stale dirs."""
    from readability_scanner_spark.operators.io_ops import (
        compact_parquet,
        table_file_stats,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(0, 2000).withColumn("v", F.col("id") * 3)
    df.repartition(20).write.parquet(path)
    assert table_file_stats(path)["files"] == 20
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    stats = compact_parquet(spark, path, target_file_bytes=128 << 20)
    assert stats["files_before"] == 20 and stats["files_after"] == 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    # idempotent: second call is a no-op
    stats2 = compact_parquet(spark, path, target_file_bytes=128 << 20)
    assert stats2 == {"files_before": 1, "files_after": 1, "bytes": stats["bytes"]}
    # partial-target: tiny target keeps multiple files, never grows count
    stats3 = compact_parquet(spark, path, target_file_bytes=1)
    assert stats3["files_after"] == stats3["files_before"] == 1
    # no staging/backup leftovers
    import os as _os

    leftovers = [p for p in _os.listdir(tmp_path) if "__" in p]
    assert leftovers == []


def test_webp_dimensions_all_three_variants():
    """Hand-built WebP headers per RFC 9649: VP8X (extended), VP8L
    (lossless), VP8 (lossy) — plus RIFF discrimination vs WAV and
    hostile variants."""
    import struct as _s

    def riff(chunks: bytes) -> bytes:
        return b"RIFF" + _s.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks

    vp8x = riff(
        b"VP8X" + _s.pack("<I", 10) + b"\x00\x00\x00\x00"
        + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    )
    assert multimodal.parse_image_dimensions(vp8x) == (640, 480)
    bits = (33 - 1) | ((21 - 1) << 14)
    vp8l = riff(b"VP8L" + _s.pack("<I", 5) + b"\x2f" + _s.pack("<I", bits))
    assert multimodal.parse_image_dimensions(vp8l) == (33, 21)
    vp8 = riff(
        b"VP8 " + _s.pack("<I", 10) + b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + _s.pack("<HH", 320, 240)
    )
    assert multimodal.parse_image_dimensions(vp8) == (320, 240)
    # bad sync code -> None, not garbage dims
    bad = riff(
        b"VP8 " + _s.pack("<I", 10) + b"\x00\x00\x00" + b"\x9d\x01\x2b"
        + _s.pack("<HH", 320, 240)
    )
    assert multimodal.parse_image_dimensions(bad) is None
    # a WAV is RIFF but not WEBP: stays an audio payload, no dims
    wav = multimodal.make_wav(100)
    assert multimodal.parse_image_dimensions(wav) is None
    # truncated chunk list terminates cleanly
    assert multimodal.parse_image_dimensions(vp8x[:16]) is None


def test_webp_short_chunk_yields_none():
    """A VP8X chunk with declared length 0 followed by more data must
    not read the NEXT chunk's bytes as canvas fields (r4 review)."""
    import struct as _s

    chunks = b"VP8X" + _s.pack("<I", 0) + b"VP8L" + _s.pack("<I", 5) + b"\x00" * 5
    payload = b"RIFF" + _s.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks
    assert multimodal.parse_image_dimensions(payload) is None
