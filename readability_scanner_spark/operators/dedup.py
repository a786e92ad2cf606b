"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's upsert-by-url dedup (S4,
news-scanner/database/articles.py:89-200 → here: keep-first by key),
these are the standard corpus-dedup family: exact hash, MinHash+LSH,
SimHash, n-gram Jaccard verification. Scale notes inline.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from readability_scanner_spark.functions.wordchars import CJK_CHARS, DEDUP_TOKEN_PY
from readability_scanner_spark.operators.decontam import ngrams_from_tokens

# Dedup token stream: ASCII word runs + one token per CJK char (Lucene
# CJK-analyzer convention — CJK has no spaces to split on; without the
# char-unigram branch every CJK doc tokenizes to the empty set and the
# near-dup family degenerates). ASCII (not unicode \w) for the latin
# part so token hashes match the DuckDB md5_number_lower recompute.
_WORD_RE = DEDUP_TOKEN_PY
# the CJK alternation costs ~17% on pure-ASCII text (measured); ASCII
# docs take the plain-run regex instead — identical matches there (the
# CJK branch cannot fire), and str.isascii() is a C-speed scan
_ASCII_RUN_RE = re.compile(r"[0-9a-z_]+")


def _tokens(text: str) -> list[str]:
    """Extract-then-lower (see wordchars.DEDUP_TOKEN_PY): tokens come
    off the RAW text, then each latin run — pure ASCII by construction —
    is lowered. Lowering the whole string first would let full-string
    case folding mint ASCII from non-ASCII (İ/KELVIN), which the three
    engines fold differently."""
    t = text or ""
    if t.isascii():
        return _ASCII_RUN_RE.findall(t.lower())
    return [tok.lower() for tok in _WORD_RE.findall(t)]


def _md5_64(s: str) -> int:
    """Low 64 bits of md5 as the cross-engine token hash: equals DuckDB's
    md5_number_lower(s) (little-endian of digest bytes 8..15). Unsigned."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8", "ignore")).digest()[8:], "little")


_MEMO_CAP = 200_000


def _capped_memo(fn):
    """Per-task memo for a pure str -> int hash. Near-dup corpora repeat
    tokens and shingles heavily (Zipf vocabulary: high hit rate), but
    unique keys dominate overall, so the memo is CAPPED at _MEMO_CAP
    entries — a long-lived partition task (or an adversarial vocabulary)
    must not accrete one entry per key ever seen. Build it inside the
    mapInPandas function so each task owns its own."""
    memo: dict[str, int] = {}

    def cached(s: str) -> int:
        h = memo.get(s)
        if h is None:
            h = fn(s)
            if len(memo) < _MEMO_CAP:
                memo[s] = h
        return h

    return cached


# --- exact dedup -----------------------------------------------------------------

def content_hash_cols(text_col: str) -> tuple:
    """The repo's 128-bit content identity as two column expressions —
    shared by exact_dedup and the incremental curation chain (stored in
    curated output so a delta batch dedups against the existing corpus
    by scanning two long columns, never the text). Salt FIRST: spark
    folds multi-arg xxhash64 sequentially with the running hash as
    seed, so xxhash64(text, salt) would be a pure function of
    xxhash64(text) — identical on every h1 collision; xxhash64(salt,
    text) hashes the text under a different seed."""
    return (
        F.xxhash64(F.col(text_col)),
        F.xxhash64(F.lit(0x9E3779B9), F.col(text_col)),
    )


def exact_dedup(df: DataFrame, text_col: str, keep_col: str) -> DataFrame:
    """Exact duplicate removal: hash-groupBy on content, keep min(key).
    One shuffle on the content hash (not the full text — a fixed-width
    key, the standard 100 TB trick). The key is TWO independently-seeded
    xxhash64 values (128 effective bits): at 10^12 keys a single 64-bit
    hash expects birthday collisions that would silently merge distinct
    documents; 128 bits pushes that to ~10^-14."""
    h1, h2 = content_hash_cols(text_col)
    return (
        df.withColumn("_h1", h1)
        .withColumn("_h2", h2)
        .groupBy("_h1", "_h2")
        .agg(F.min(keep_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


def dedup_by_key(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """S4 upsert-by-unique-key semantics as a batch operator: newest row
    per key wins (articles.py:128-132 replace_one analog) — the window
    form of Iceberg MERGE INTO."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# --- shingling helpers (shared by minhash / jaccard) --------------------------------

def _shingles(text: str, n: int = 3) -> set[str]:
    words = _tokens(text)
    if len(words) < n:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


# --- MinHash + LSH -------------------------------------------------------------------

MINHASH_P = (1 << 31) - 1  # Mersenne prime; a*x+b stays < 2^62, no int64 wrap


def minhash_params(n_hashes: int = 64, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) coefficient vectors for the mod-p universal
    family h_i(x) = (a_i * x + b_i) mod p, p = 2^31-1, a,b < p. Exposed so
    the DuckDB oracle can embed the identical constants."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MINHASH_P, size=n_hashes).astype(np.int64)
    b = rng.randint(0, MINHASH_P, size=n_hashes).astype(np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 64, shingle_n: int = 3, seed: int = 42
) -> DataFrame:
    """MinHash signature per document, vectorized per Arrow batch.
    Universal hashing h_i(x) = (a_i * x + b_i) mod p over x = md5-low64
    of the shingle reduced mod p first: every product fits int64 (p=2^31-1,
    a<p, x<p ⇒ a*x < 2^62), so the stated mod-p family is exact — and the
    whole computation is reproducible in DuckDB
    ((a * (md5_number_lower(s) % p) + b) % p) for oracle checks."""
    a, b = minhash_params(n_hashes, seed)
    p = MINHASH_P

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        base_of = _capped_memo(lambda s: _md5_64(s) % p)  # shingle → md5 % p
        for pdf in batches:
            sigs = []
            for text in pdf[text_col]:
                sh = _shingles(text, shingle_n)
                if not sh:
                    sigs.append([0] * n_hashes)
                    continue
                base = np.fromiter((base_of(s) for s in sh), dtype=np.int64, count=len(sh))
                # (m, k) mod-p universal hashes, min over shingles
                hashed = (base[:, None] * a[None, :] + b[None, :]) % p
                sigs.append(hashed.min(axis=0).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "signature": sigs})

    return df.select(id_col, text_col).mapInPandas(
        sign, schema=f"{id_col} long, signature array<long>"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-dup candidate pairs via banding: split the signature into
    `bands` bands of n_hashes/bands rows; docs sharing any full band
    bucket are candidates. Shuffle is by (band, bucket-hash) — each
    bucket is tiny, so the pair join never goes quadratic globally.

    ``bands`` must divide ``n_hashes``: with more bands than hashes every
    band is the same empty slice, so all documents share one bucket and
    the join emits every pair; a remainder would leave trailing hashes
    silently unused."""
    if not 1 <= bands <= n_hashes or n_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} (1 <= bands <= n_hashes)"
        )
    rows = n_hashes // bands
    # the signatures are the small proxy table (n_docs x n_hashes longs),
    # materialized once: both join sides read it, and without the
    # checkpoint the stream side would run the MapInPandas a second time
    sigs = minhash_signatures(
        df, id_col, text_col, n_hashes, shingle_n, seed
    ).localCheckpoint(eager=False)
    banded = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.slice(F.col("signature"), i * rows + 1, rows).cast("string")
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    # the distinct stays — banding duplicates cannot be filtered from
    # bucket hashes alone, and candidate volume is bounded by the tiny
    # bucket sizes
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .orderBy("id_a", "id_b")
    )


# --- SimHash ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document (token-hash sign voting). Token hash is
    md5-low64 (= DuckDB md5_number_lower) so a brute-force SQL oracle can
    recompute identical simhash values; tokens are the CJK-aware dedup
    stream (_tokens: ASCII word runs + one token per CJK char, extracted
    raw then lowered — wordchars.DEDUP_TOKEN_PY, oracle twin
    DEDUP_TOKEN_RE2 + per-token lower())."""

    shifts = np.arange(bits, dtype=np.uint64)

    def sim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        hash_of = _capped_memo(_md5_64)  # token → md5
        for pdf in batches:
            out = []
            for text in pdf[text_col]:
                toks = _tokens(text)
                if not toks:
                    out.append(np.int64(-(1 << 63)))
                    continue
                # vote per UNIQUE token weighted by its count — one hash
                # and one bit-row per distinct token instead of per
                # occurrence (Zipf makes this a large constant win)
                counts = Counter(toks)
                hashes = np.fromiter(
                    (hash_of(t) for t in counts), dtype=np.uint64, count=len(counts)
                )
                weights = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
                bitmat = (hashes[:, None] >> shifts[None, :]) & np.uint64(1)
                votes = ((2 * bitmat.astype(np.int64) - 1) * weights[:, None]).sum(axis=0)
                positive = votes > 0
                val = int((positive.astype(np.uint64) << shifts).sum(dtype=np.uint64))
                if val >= 1 << 63:  # wrap to signed 64-bit for Spark LongType
                    val -= 1 << 64
                out.append(val)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return df.select(id_col, text_col).mapInPandas(sim, schema=f"{id_col} long, simhash long")


def _simhash_block_layout(max_hamming: int, bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) slices for pigeonhole blocking: max_hamming+1
    disjoint slices covering all 64 bits. A pair differing in at most
    max_hamming bits can dirty at most max_hamming slices, so it MUST
    agree exactly on at least one — completeness holds for the requested
    threshold, not a fixed one (the round-1 4x16-bit layout was only
    complete for hamming <= 3 and silently dropped pairs at 4-6)."""
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError(f"max_hamming {max_hamming} needs {n_blocks} blocks > {bits} bits")
    base, extra = divmod(bits, n_blocks)
    layout, off = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        layout.append((off, width))
        off += width
    return layout


def _simhash_groups(max_hamming: int, bits: int = 64) -> list[list[tuple[int, int]]]:
    """Agreement groups (lists of (offset, width) slices) for the
    blocked self-join.

    Manku-style combination blocking: split the hash into
    ``max_hamming + 2`` disjoint slices; a pair with <= max_hamming
    differing bits dirties at most max_hamming slices, so at least TWO
    slices are clean — the pair agrees fully on at least one PAIR of
    slices. Joining on every pair of slices (C(m,2) groups with
    double-width keys) is therefore complete, and the wider keys are far
    more selective than single slices (measured at sf1.0: 405M raw
    candidate probes vs 667M for the max_hamming+1 single-slice scheme,
    max bucket 7k vs 17k). Falls back to the classic max_hamming+1
    single-slice layout when max_hamming + 2 > bits. Any complete group
    family yields identical results — every candidate is
    hamming-verified and the canonical-group filter dedups."""
    import itertools

    if max_hamming + 2 <= bits:
        layout = _simhash_block_layout(max_hamming + 1, bits)  # m = max_hamming + 2 slices
        return [
            [layout[i], layout[j]]
            for i, j in itertools.combinations(range(len(layout)), 2)
        ]
    layout = _simhash_block_layout(max_hamming, bits)
    return [[s] for s in layout]


def _group_mask(slices: list[tuple[int, int]]) -> int:
    mask = 0
    for off, w in slices:
        mask |= ((1 << w) - 1) << off
    return mask


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on agreement
    groups of disjoint bit slices (see _simhash_groups for the
    completeness argument). Exact hamming is verified inside buckets, so
    the result equals the brute-force all-pairs answer while the join
    stays bucket-local at scale.

    r6 optimizations (results identical — the group family is complete
    and every candidate is hamming-verified; the broadcast-build /
    no-distinct plan shape is pinned in tests/test_plans.py::
    test_simhash_plan_shape):

    * combination blocking (pair-of-slices groups, _simhash_groups):
      double-width keys cut raw candidate probes ~1.6x on clustered
      corpora.
    * the signature table is materialized once (localCheckpoint — n_docs
      x 16 bytes, the guide-§8 "small proxy" shape) so the self-join's
      build side does not rebuild the whole MapInPandas lineage: the
      previous plan tokenized and hashed every document TWICE. The
      planner picks the join: while the build side's estimate is under
      the auto-broadcast threshold (every corpus here) it broadcasts it,
      so the skewed group keys (measured 17k-doc buckets at sf1.0 under
      single-slice blocking) never land one bucket's quadratic pair
      generation on one task; above it, AQE's skew-join split divides
      the hot buckets.
    * cross-group duplicate candidates are dropped by a canonical-group
      filter instead of ``.distinct()``: a pair is emitted only from its
      FIRST agreeing group (for all j < i the pair must disagree on
      group j — a pure mask test on ha^hb). A qualifying pair agrees on
      >= 1 group and on exactly one minimal group, so the output SET is
      unchanged while the full shuffle+hash-dedup of the candidate pairs
      (measured 3x the result size: ~18.5M rows at sf1.0) disappears.
      The hamming filter precedes it, so the when-chain only runs on
      verified pairs.
    """
    groups = _simhash_groups(max_hamming)
    hashed = simhash(df, id_col, text_col).localCheckpoint(eager=False)
    # group keys are packed into ONE long — slices compacted, group index
    # in the low bits — so the join key is a single LongType column and
    # a broadcast build becomes a LongHashedRelation (direct long-keyed
    # map, measurably cheaper per probe than a composite-key UnsafeRow
    # map on the candidate volumes involved). Packing always fits: >= 2
    # groups means slice widths sum to <= 44 bits, and the single-group
    # case (max_hamming=0) is the raw 64-bit hash with zero index bits.
    gbits = (len(groups) - 1).bit_length() if len(groups) > 1 else 0

    def key_of(col, gi: int, slices: list[tuple[int, int]]):
        acc = None
        for off, w in slices:
            part = (
                col
                if w >= 64
                else F.shiftrightunsigned(col, off).bitwiseAND(F.lit((1 << w) - 1))
            )
            acc = part if acc is None else F.shiftleft(acc, w).bitwiseOR(part)
        if gbits:
            acc = F.shiftleft(acc, gbits).bitwiseOR(F.lit(gi))
        return acc

    blocked = hashed.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    key_of(F.col("simhash"), gi, slices)
                    for gi, slices in enumerate(groups)
                ]
            )
        ).alias("bk"),
    )
    a = blocked.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("ha"), "bk")
    b = blocked.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("hb"), "bk")
    # first agreeing group of the pair: agreement on group j == the
    # masked slices of ha^hb are zero
    xor = F.col("ha").bitwiseXOR(F.col("hb"))
    first_agree = F.lit(-1)
    for gi, slices in reversed(list(enumerate(groups))):
        first_agree = F.when(
            xor.bitwiseAND(F.lit(_signed64(_group_mask(slices)))) == 0, F.lit(gi)
        ).otherwise(first_agree)
    group_idx = (
        F.col("bk").bitwiseAND(F.lit((1 << gbits) - 1)) if gbits else F.lit(0)
    )
    return (
        a.join(b, ["bk"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .where(group_idx == first_agree)
        .select("id_a", "id_b", "hamming")
        # exchange boundary before the sort: RangePartitioning SAMPLES its
        # child to compute range bounds, and without a shuffle in between
        # that re-executes the entire pair-generating join a second time
        # (measured +50%); one cheap hash shuffle of the RESULT rows (3
        # longs each) makes the sampling read shuffle output instead
        .repartition(F.col("id_a"))
        .orderBy("id_a", "id_b")
    )


# --- n-gram Jaccard (verification stage) ---------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float, shingle_n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs. Shingle sets are built
    JVM-side (split + transform + array_distinct), intersection via
    array_intersect — no Python. Quadratic: use after LSH candidate cut
    at scale; standalone form here for small inputs/oracle checks.
    Result rows are unordered."""
    docs = df.select(
        F.col(id_col).alias("doc_id"), _dedup_toks_col(text_col).alias("_dt")
    ).select(F.col("doc_id"), _grams_from_toks(F.col("_dt"), shingle_n).alias("grams"))
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb"))
    return _jaccard_at_least(a.join(b, F.col("id_a") < F.col("id_b")), threshold)


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """Shared tail of the Jaccard operators: (id_a, id_b, ga, gb) gram-set
    pairs → (id_a, id_b, jaccard) at or above ``threshold``, rounded to 4
    places. Unordered: a caller that returns the pairs sorts them, and
    one that feeds them on (cluster resolution) pays no sort."""
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    union = F.size(F.array_union(F.col("ga"), F.col("gb")))
    return (
        # try_divide: ANSI mode makes bare / THROW when both gram sets
        # are empty (token-less docs); NULL falls out of the >= filter,
        # matching the DuckDB oracle's NULL-division semantics
        pairs.select("id_a", "id_b", F.try_divide(inter, union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _dedup_toks_col(text_col: str):
    """JVM twin of _tokens as a column: pad every CJK char into its own
    token, drop everything that is neither an ASCII word char nor CJK
    (this also eats unicode whitespace like U+3000, which Java \\s
    misses), then split. Token stream == DEDUP_TOKEN_PY.findall(lower)."""
    padded = F.regexp_replace(F.col(text_col), f"([{CJK_CHARS}])", " $1 ")
    cleaned = F.regexp_replace(padded, rf"[^\w\s{CJK_CHARS}]", " ")
    toks = F.split(F.lower(cleaned), r"\s+")
    return F.filter(toks, lambda x: x != "")


def _grams_from_toks(toks, shingle_n: int):
    """Shingle set over a BOUND token-array column (a projected alias —
    see decontam.ngrams_from_tokens for the per-element re-tokenize trap
    a raw tokenize expression falls into). A doc with fewer than
    ``shingle_n`` tokens is one shingle, the doc itself, as in
    _shingles; a token-less doc is the EMPTY set, never [""]: two
    token-less docs must not score jaccard 1.0 against each other (the
    oracle's ELSE [] branch + NULL-division filter agree)."""
    width = F.least(F.lit(shingle_n), F.greatest(F.size(toks), F.lit(1)))
    return F.array_distinct(ngrams_from_tokens(toks, width))


def ngram_jaccard_verify(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """THE scale path for exact Jaccard: verify only the candidate pairs
    an upstream blocker (MinHash LSH, SimHash, CDC) produced — two
    equi-joins on the pair ids, exact n-gram Jaccard per surviving row,
    never an all-pairs product. candidates must carry (id_a, id_b).

    The gram arrays are built ONLY for ids that appear in some candidate
    pair (semi-join prune — at scale the candidate id set is tiny
    relative to the corpus by the blocker's contract). Both joins key
    the grams by ``_gid``, so Spark builds their exchange once and the
    second join reuses it: the full-corpus tokenize+gram lineage runs
    once. The candidate pairs are materialized once (localCheckpoint) —
    they feed three consumers (the id set and both joins). Same pairs
    out: the joins are inner on candidate ids, so grams of non-candidate
    docs were never used. Result rows are unordered."""
    cand = candidates.select("id_a", "id_b").localCheckpoint(eager=False)
    ids = (
        cand.select(F.col("id_a").alias("_gid"))
        .union(cand.select(F.col("id_b").alias("_gid")))
        .distinct()
    )
    pruned = docs.join(ids, docs[id_col] == ids["_gid"], "left_semi")
    grams = pruned.select(
        F.col(id_col).alias("_gid"), _dedup_toks_col(text_col).alias("_dt")
    ).select(F.col("_gid"), _grams_from_toks(F.col("_dt"), shingle_n).alias("_g"))
    joined = (
        cand.join(grams.withColumnRenamed("_g", "ga"), F.col("id_a") == F.col("_gid"))
        .drop("_gid")
        .join(grams.withColumnRenamed("_g", "gb"), F.col("id_b") == F.col("_gid"))
        .drop("_gid")
    )
    return _jaccard_at_least(joined, threshold)


# --- content-defined chunking ------------------------------------------------------------

def cdc_chunks(
    df: DataFrame, id_col: str, text_col: str, window: int = 16, mask_bits: int = 6, min_chunk: int = 64
) -> DataFrame:
    """Content-defined chunking: split each document at rolling-hash
    boundary points (hash of the trailing `window` bytes ≡ 0 mod
    2^mask_bits). Boundaries move WITH the content, so an insertion
    early in a document only changes the chunks it touches — the
    property exact/whole-doc hashing lacks. Output: (id, chunk_idx,
    chunk_hash, chunk_len); partial-overlap dedup joins on chunk_hash."""

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mask = (1 << mask_bits) - 1
        for pdf in batches:
            ids, idxs, hashes, lens = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                data = (text or "").encode("utf-8", "ignore")
                start = 0
                chunk_idx = 0
                # polynomial rolling hash over a sliding window
                h = 0
                pow_w = pow(31, window - 1, 1 << 32)
                for i, byte in enumerate(data):
                    if i >= window:
                        h = (h - data[i - window] * pow_w) & 0xFFFFFFFF
                    h = (h * 31 + byte) & 0xFFFFFFFF
                    if i - start + 1 >= min_chunk and (h & mask) == 0:
                        piece = data[start : i + 1]
                        ids.append(doc_id)
                        idxs.append(chunk_idx)
                        hashes.append(zlib.crc32(piece))
                        lens.append(len(piece))
                        start, chunk_idx = i + 1, chunk_idx + 1
                if start < len(data) or chunk_idx == 0:
                    piece = data[start:]
                    ids.append(doc_id)
                    idxs.append(chunk_idx)
                    hashes.append(zlib.crc32(piece))
                    lens.append(len(piece))
            yield pd.DataFrame(
                {id_col: ids, "chunk_idx": idxs, "chunk_hash": hashes, "chunk_len": lens}
            )

    return df.select(id_col, text_col).mapInPandas(
        chunk, schema=f"{id_col} long, chunk_idx int, chunk_hash long, chunk_len long"
    )


def cdc_overlap_pairs(
    df: DataFrame, id_col: str, text_col: str, min_shared_chunks: int = 2
) -> DataFrame:
    """Partial-overlap candidate pairs: documents sharing >=
    min_shared_chunks content-defined chunks. Join is on chunk_hash —
    bucket-local, never quadratic globally."""
    chunks = cdc_chunks(df, id_col, text_col)
    a = chunks.select(F.col(id_col).alias("id_a"), "chunk_hash")
    b = chunks.select(F.col(id_col).alias("id_b"), "chunk_hash")
    return (
        a.join(b, "chunk_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_chunks"))
        .where(F.col("shared_chunks") >= min_shared_chunks)
        .orderBy("id_a", "id_b")
    )


# --- cluster resolution ---------------------------------------------------------------------

def connected_components(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Connected components over near-dup pairs → (node, component) with
    component = the minimum node id reachable from each node. The step
    every production dedup pipeline needs between "pairs above
    threshold" and "which rows to keep": near-dups are transitive in
    effect (A~B, B~C → one cluster) even when the metric is not.

    One union-find pass in one applyInPandas group: each pair links its
    two ends' roots under the smaller id, with path compression. The
    result is the same under any edge order or partitioning (so under
    any task retry), no graph depth bounds it, and building the frame
    starts no Spark job. A pair with a null end links nothing. One group
    suffices because the blocker upstream bounds the pair set: 2M random
    edges take ~8 s on one core."""
    node_type = pairs.schema[src].dataType.simpleString()

    def components(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            root = parent.setdefault(x, x)
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = list(parent)
        return pd.DataFrame({"node": nodes, "component": [find(x) for x in nodes]})

    return (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"), F.lit(0).alias("_g"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("_g")
        .applyInPandas(components, schema=f"node {node_type}, component {node_type}")
    )


def resolve_duplicate_clusters(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Pairs (``id_a``, ``id_b``) → clusters → canonical winner per
    cluster: the longest text wins, ties broken by smallest id
    (deterministic across partitionings and retries — a requirement for
    idempotent re-runs at scale). Output: (doc_id, component,
    canonical_id, is_canonical) for every CLUSTERED doc; singletons are
    not duplicates and are left out. Downstream "keep one per cluster"
    is `where(is_canonical)` + anti-join.
    """
    comps = connected_components(pairs, "id_a", "id_b")
    scored = comps.join(
        docs.select(
            F.col(id_col).alias("node"), F.length(F.col(text_col)).alias("_tl")
        ),
        "node",
    )
    # one window pass, no self-join: a join back would run the lazy
    # components pass a second time
    w = Window.partitionBy("component").orderBy(F.desc("_tl"), F.asc("node"))
    return scored.select(
        F.col("node").alias("doc_id"), "component", F.first("node").over(w).alias("canonical_id")
    ).withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))


# --- duplicated spans (exact substring dedup) ------------------------------------------

def _pos_gram_pairs(toks, k: int):
    """Array of ``(p, gh)`` structs over a token array: ``p`` is the
    0-based start position, ``gh`` the md5-low64 hash of the
    space-joined k-token gram starting there.

    ``toks`` MUST be a bound column (projected alias), never the raw
    tokenize expression: lambda-captured subexpressions re-evaluate PER
    ELEMENT, so an inlined split+filter re-tokenizes the document for
    every gram — measured O(n_tokens^2), 330 s vs 0.6 s on one
    20k-token doc (r5 review; same trap as decontam.ngrams_from_tokens).

    The ``when`` guard keeps Spark's ``sequence`` from inferring a
    NEGATIVE step on docs shorter than k (without it slice() would
    fabricate grams from descending starts)."""
    from .sketches import md5_low64

    starts = F.sequence(F.lit(0), F.size(toks) - F.lit(k))
    pairs = F.transform(
        starts,
        lambda p: F.struct(
            p.alias("p"),
            md5_low64(F.array_join(F.slice(toks, p + F.lit(1), k), " ")).alias("gh"),
        ),
    )
    return F.when(F.size(toks) >= k, pairs).otherwise(
        F.array().cast("array<struct<p:int,gh:decimal(20,0)>>")
    )


def _ws_tokens_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, _ts)`` — the decontam.ws_tokens_col single-space token
    contract (verbatim token sequences, no case folding, NULL ≡ empty),
    projected into a bound column so downstream gram builders evaluate
    the split exactly once per document."""
    from .decontam import ws_tokens_col

    return df.select(F.col(id_col), ws_tokens_col(F.col(text_col)).alias("_ts"))


def _covered_intervals(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """``(id, _s, _e)`` — maximal merged intervals of 0-based token
    positions covered by at least one k-gram occurring >= 2 times
    ANYWHERE in the corpus (cross-doc or within one doc — a self-repeat
    is still a duplicated substring, as in the published exact-substring
    recipe), computed WITHOUT exploding positions (r6): each duplicated
    k-gram start p covers [p, p+k-1]; with starts sorted per doc, two
    consecutive ranges belong to one island iff p_i - p_{i-1} <= k
    (adjacent or overlapping), so the islands of the covered-position
    set are exactly the merged (min start, max start + k - 1) intervals.
    This replaces the previous per-position form (k-fold explode +
    distinct / collect_set) with window arithmetic over the duplicated
    STARTS only.

    Scale shape: the only corpus-sized shuffle is BY GRAM HASH. A window
    count (not groupBy+join-back) does the duplicate detection in ONE
    pass over the grams — the join form would colocate every occurrence
    of each hash anyway (identical skew), while recomputing the
    tokenize+hash lineage for the probe side. Hot-gram skew is bounded
    by the most-repeated k-gram in the corpus; at 100 TB a pathological
    boilerplate gram lands one partition with its full occurrence list,
    which AQE's skew-join handling does not split for windows — the
    mitigation is raising k (longer grams repeat less), the same lever
    the published recipes use (k≈50 bytes / 13 tokens on real text)."""
    grams = (
        _ws_tokens_df(df, id_col, text_col)
        .select(
            F.col(id_col),
            F.explode_outer(_pos_gram_pairs(F.col("_ts"), k)).alias("g"),
        )
        .where(F.col("g").isNotNull())
        .select(F.col(id_col), F.col("g.p").alias("p"), F.col("g.gh").alias("gh"))
    )
    dup = (
        grams.withColumn("_c", F.count("*").over(Window.partitionBy("gh")))
        .where(F.col("_c") >= 2)
        .select(F.col(id_col), "p")
    )
    w = Window.partitionBy(id_col).orderBy("p")
    return (
        dup.withColumn(
            # first row of a doc: lag is NULL -> NULL comparison -> 0
            "_brk",
            F.when(F.col("p") - F.lag("p").over(w) > k, 1).otherwise(0),
        )
        .withColumn(
            "_isl",
            F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "_isl")
        .agg(F.min("p").alias("_s"), (F.max("p") + F.lit(k - 1)).alias("_e"))
        .drop("_isl")
    )


def duplicated_spans(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """Exact repeated-substring detection (the substring-level member of
    the dedup family — exact / MinHash / SimHash / Jaccard / CDC cover
    whole-doc and chunk granularity; this is the Lee et al. 2021
    "Deduplicating Training Data" span granularity, re-expressed as
    gram-hash coverage instead of a suffix array, which Spark cannot
    build distributed without per-node state).

    A token position is covered when any k-gram through it repeats in
    the corpus; maximal runs of covered positions are the duplicated
    spans. Returns one row per span:
    ``(id, start_tok, end_tok, span_tokens, span_text)`` with 0-based
    inclusive token positions.

    Plan (r6): gram window (shuffle by hash) -> merged intervals over
    the duplicated STARTS (_covered_intervals — the k-fold position
    explode + distinct of the original plan is gone; the islands of the
    exploded position set equal the merged start ranges, so the span
    rows are identical) -> join back to the token arrays for span_text.
    The span set is tiny relative to the corpus, so the final join's
    doc side dominates; at 100 TB you'd skip span_text (positions
    suffice to act) — kept here because the text column is what makes
    the result independently checkable."""
    spans = _covered_intervals(df, id_col, text_col, k).withColumn(
        "span_tokens", (F.col("_e") - F.col("_s") + F.lit(1)).cast("long")
    )
    toks_df = _ws_tokens_df(df, id_col, text_col)
    return spans.join(toks_df, id_col).select(
        F.col(id_col),
        F.col("_s").cast("long").alias("start_tok"),
        F.col("_e").cast("long").alias("end_tok"),
        F.col("span_tokens"),
        F.array_join(
            F.slice(F.col("_ts"), F.col("_s") + F.lit(1), F.col("_e") - F.col("_s") + F.lit(1)),
            " ",
        ).alias("span_text"),
    )


def remove_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Apply-side of :func:`duplicated_spans`: rebuild each document
    with every covered token dropped (the conservative published
    variant — all occurrences go, not all-but-one, so no cross-doc
    ordering state is needed and the op stays embarrassingly parallel
    after the gram shuffle). Docs with no duplicated span pass through
    verbatim (single-space-normalized by the split/join round trip).

    Returns ``(id, clean_text, tokens_removed)``.

    r6: covered positions are carried as merged INTERVALS
    (_covered_intervals — no k-fold position explode, no collect_set of
    positions) and the kept tokens are rebuilt by slicing the segments
    between consecutive intervals — O(|doc| + |spans|) per document. The
    original form filtered per token with ``array_contains`` over the
    exploded covered set, O(|doc| * |covered|) — the round-5 verdict's
    named scale caveat for long documents. Same kept-token sequence:
    the intervals ARE the maximal covered runs, so the segments between
    them are exactly the uncovered tokens in order. The bounds arrays
    are BOUND columns (lambda-captured subexpressions re-evaluate per
    element — the repo's measured O(n^2) trap)."""
    iv = _covered_intervals(df, id_col, text_col, k)
    cov = iv.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_s").alias("s"), F.col("_e").alias("e")))
        ).alias("_iv")
    )
    toks_df = _ws_tokens_df(df, id_col, text_col)
    joined = toks_df.join(cov, id_col, "left")
    iv_arr = F.coalesce(
        F.col("_iv"), F.array().cast("array<struct<s:int,e:int>>")
    )
    # kept segments: (e_{i-1}+1 .. s_i-1) for each interval plus the
    # tail after the last — starts = [s_1..s_n, n_tokens], ends =
    # [-1, e_1..e_n]; segment i spans ends[i]+1 .. starts[i]-1 (0-based)
    bounded = joined.select(
        F.col(id_col),
        F.col("_ts"),
        F.concat(
            F.transform(iv_arr, lambda x: x["s"]), F.array(F.size(F.col("_ts")))
        ).alias("_ss"),
        F.concat(F.array(F.lit(-1)), F.transform(iv_arr, lambda x: x["e"])).alias("_es"),
    )
    ss, es = F.col("_ss"), F.col("_es")
    kept = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ss)),
            lambda i: F.slice(
                F.col("_ts"),
                F.try_element_at(es, i) + F.lit(2),
                F.try_element_at(ss, i) - F.try_element_at(es, i) - F.lit(1),
            ),
        )
    )
    # bind kept: it is referenced twice below and must not be inlined
    # (CollapseProject keeps non-cheap multi-referenced aliases)
    with_kept = bounded.select(F.col(id_col), F.col("_ts"), kept.alias("_kept"))
    return with_kept.select(
        F.col(id_col),
        F.array_join(F.col("_kept"), " ").alias("clean_text"),
        (F.size(F.col("_ts")) - F.size(F.col("_kept"))).cast("long").alias("tokens_removed"),
    )
