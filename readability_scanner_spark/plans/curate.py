"""End-to-end training-corpus curation: the RefinedWeb/Gopher-style
chain — PII redaction → quality filter → benchmark decontamination →
exact dedup → duplicated-span removal → deterministic split → sequence
packing — composed from the repo's operators into ONE resumable
spark-submit job (jobs/curate.py).

The reference has no analog (its pipeline stops at extraction +
metrics); this is the graft-extension layer that turns the engine into
a usable pre-training data pipeline. Every stage is the already-oracled
operator, so the composition adds orchestration, not new semantics.

Scale notes: each stage is one of the audited plans (PLANS.md) — the
chain introduces no new shuffle beyond its stages. Stage-boundary
counts are actions; the post-dedup frame persists once because four
consumers (span stats, split counts, packing, the write) would
otherwise each re-run the whole chain. A 100 TB run disables per-stage
counts (``stats=False``) and reads them from the written output
instead.

Idempotence: a completed run writes ``_meta/curate.json`` recording the
parameters and an input fingerprint (bit_xor of per-row xxhash64 — a
one-scan corpus identity, order-independent). Re-running with the same
output path skips when both match (``force=True`` overrides), so a
scheduler can re-submit blindly — the run_pipeline resume philosophy at
whole-job granularity.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readability_scanner_spark.operators.dedup import (
    content_hash_cols,
    exact_dedup,
    remove_duplicated_spans,
)
from readability_scanner_spark.operators.decontam import decontaminate
from readability_scanner_spark.operators.packing import pack_sequences, split_windows
from readability_scanner_spark.operators.sampling import split_assign, split_bucket
from readability_scanner_spark.operators.textquality import (
    redact_pii_col,
    with_lang_quality_cols,
)

DEFAULT_SPLITS = (("train", 8000), ("val", 1000), ("test", 1000))


def _fingerprint(df: DataFrame, cols: list[str]) -> list[int]:
    """Order-independent corpus identity over ``cols``: (bit_xor of
    xxhash64(cols...), row count). One scan, no shuffle (both
    aggregates combine map-side). The count closes XOR's parity
    blindness — a row whose multiplicity changes by an even number
    cancels out of the xor alone. Used only to decide whether a
    completed output is already THIS input's output. Benchmark tables
    (no stable id) fingerprint on [text] alone."""
    row = df.select(
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("fp"),
        F.count("*").alias("n"),
    ).first()
    return [int(row.fp) if row.fp is not None else 0, int(row.n)]


def _meta_file(output: str) -> str:
    return os.path.join(output, "_meta", "curate.json")


def _read_meta(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


class _Stages:
    """Per-run stage bookkeeping shared by both entry points: the
    stage counts, and every frame pinned at a stage boundary. As a
    context manager it unpersists every pin on exit, even when a
    mid-chain action throws."""

    def __init__(self, stats: bool):
        self.stats = stats
        self.counts: dict = {}
        self._pinned: list[DataFrame] = []

    def __enter__(self) -> "_Stages":
        return self

    def __exit__(self, *exc) -> None:
        for df in self._pinned:
            df.unpersist()

    def pin(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._pinned.append(df)
        return df

    def boundary(self, df: DataFrame, count_key: str) -> DataFrame:
        """With stats on, persist each stage boundary so its count does
        not re-execute the whole upstream chain (and the next stage
        reads the persisted result); with stats off, a pass-through."""
        if not self.stats:
            return df
        df = self.pin(df)
        self.counts[count_key] = df.count()
        return df


def _input_docs(
    st: _Stages, docs: DataFrame, id_col: str, n_in: int, repartition_to: int | None
) -> DataFrame:
    """Spread the scan when asked, then drop NULL ids: they have no
    place in any downstream contract (dedup's min-id winner,
    split_assign, pack_sequences each drop or mangle them differently)
    — drop them ONCE, visibly, up front."""
    if repartition_to:
        docs = docs.repartition(repartition_to)
    docs = docs.where(F.col(id_col).isNotNull())
    if st.stats:
        st.counts["docs_in"] = docs.count()
        st.counts["null_ids_dropped"] = n_in - st.counts["docs_in"]
    return docs


def _redact(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact FIRST: PII must not survive into any downstream text,
    including the dedup hashes; every later stage sees ``(id, text)``."""
    return docs.select(
        F.col(id_col).alias("id"),
        redact_pii_col(F.col(text_col)).alias("text"),
    )


def _gate(df: DataFrame, min_tokens: int, min_quality: float) -> DataFrame:
    """Annotate ``text`` with n_tokens / quality_score and keep the rows
    that clear both floors."""
    return (
        with_lang_quality_cols(df, "text")
        .drop("lang_guess")
        .where(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("quality_score") >= F.lit(min_quality))
        )
    )


def _drop_contaminated(
    st: _Stages, kept: DataFrame, benchmark: DataFrame, text_col: str, n: int
) -> DataFrame:
    """Drop any doc sharing an n-gram with the eval suite (hit_ratio
    threshold left at "any hit" — the conservative published default).
    The benchmark text is redacted with the SAME patterns as the corpus:
    both sides must shingle the same token stream or a PII-bearing eval
    passage could never match its redacted training-side copy."""
    bench = benchmark.select(redact_pii_col(F.col(text_col)).alias("text"))
    contaminated = decontaminate(kept, bench, "id", "text", n=n)
    return st.boundary(
        kept.join(contaminated.select("id"), "id", "left_anti"), "after_decontam"
    )


def _exact_dedup(kept: DataFrame) -> DataFrame:
    """Keep the min-id representative per content hash. The survivors
    then CARRY their hashes — the corpus's stored content identity, and
    deliberately the hash of the PRE-span-clean redacted text: that is
    what exact dedup itself keyed on, so an incremental batch
    anti-joining these hashes reproduces exactly the dedup a
    from-scratch run would have done (post-clean hashes would miss a
    batch doc equal to a corpus doc's original text — span cleaning
    would then collapse them into stored duplicates)."""
    winners = exact_dedup(kept, "text", "id").select(F.col("keep_id").alias("id"))
    h1, h2 = content_hash_cols("text")
    return kept.join(winners, "id", "left_semi").withColumns(
        {"content_h1": h1, "content_h2": h2}
    )


def _span_clean(
    st: _Stages, kept: DataFrame, span_k: int, min_tokens: int, min_quality: float
) -> DataFrame:
    """Duplicated-span removal, then BOTH gates — token floor and
    quality — re-applied to the cleaned text (the pre-clean score
    describes text that no longer exists). content_h1/h2 ride through
    UNCHANGED (see :func:`_exact_dedup`): recomputing them post-clean
    would make delta dedup diverge from a from-scratch run whenever
    span cleaning modified a corpus doc."""
    cleaned = remove_duplicated_spans(kept, "id", "text", k=span_k)
    if st.stats:
        cleaned = st.pin(cleaned)
        st.counts["tokens_removed_as_spans"] = int(
            cleaned.agg(F.sum("tokens_removed")).first()[0] or 0
        )
    return st.boundary(
        _gate(
            kept.drop("text", "n_tokens", "quality_score")
            .join(cleaned, "id")
            .withColumnRenamed("clean_text", "text"),
            min_tokens,
            min_quality,
        ),
        "after_span_dedup",
    )


def _assign_splits(
    kept: DataFrame, splits: list, salt: int, n_shards: int, batch: str
) -> DataFrame:
    """Deterministic split + shard (content-addressed: both survive any
    repartition of the corpus), in the stored ``curated/`` layout."""
    return kept.select(
        "id",
        "text",
        "n_tokens",
        "quality_score",
        # stored content identity (pre-span-clean redacted text, see
        # _exact_dedup): a later delta batch dedups against the corpus
        # by scanning these two long columns (column pruning — never
        # the text)
        "content_h1",
        "content_h2",
        split_assign(F.col("id"), splits, salt=salt),
        split_bucket(F.col("id"), salt=salt + 1, buckets=n_shards)
        .cast("long")
        .alias("shard"),
        # ingestion batch as a partition column: the base run owns
        # batch=base; each delta owns batch=<tag>, which makes a delta
        # retry an idempotent dynamic-partition overwrite
        F.lit(batch).alias("batch"),
    )


def _count_splits(st: _Stages, final: DataFrame) -> None:
    if st.stats:
        st.counts["splits"] = {
            r["split"]: r["n"]
            for r in final.groupBy("split").agg(F.count("*").alias("n")).collect()
        }


def _pack(
    spark: SparkSession,
    st: _Stages,
    final: DataFrame,
    splits: list,
    n_shards: int,
    seq_len: int,
    packed_path: str,
    windows_path: str,
) -> None:
    """Pack within (split, shard) so bins never mix splits, then write
    the training-ready fan-out: one row per seq_len window (oversize
    docs split; JVM-only explode, no extra shuffle). pack_sequences
    wants an int64 shard, so (split_index, shard) is encoded as
    split_idx * n_shards + shard."""
    split_idx = F.lit(None).cast("int")
    for i, (label, _) in enumerate(splits):
        split_idx = F.when(F.col("split") == label, i).otherwise(split_idx)
    packable = final.withColumn(
        "pack_shard",
        (split_idx.cast("long") * F.lit(n_shards) + F.col("shard")),
    )
    packed = pack_sequences(packable, "id", "n_tokens", "pack_shard", seq_len)
    packed.write.mode("overwrite").parquet(packed_path)
    split_windows(spark.read.parquet(packed_path), seq_len).write.mode(
        "overwrite"
    ).parquet(windows_path)
    if st.stats:
        st.counts["packed_docs"] = spark.read.parquet(packed_path).count()
        st.counts["training_windows"] = spark.read.parquet(windows_path).count()


def _write_meta(path: str, meta: dict) -> dict:
    """Atomic meta commit: a crash mid-write never leaves a partial
    file that a re-submission would read as a completed run."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)
    os.replace(tmp, path)
    return meta


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    output: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark: DataFrame | None = None,
    decontam_n: int = 8,
    min_tokens: int = 5,
    min_quality: float = 0.0,
    span_k: int | None = None,
    seq_len: int = 2048,
    n_shards: int = 16,
    splits: tuple = DEFAULT_SPLITS,
    salt: int = 3,
    stats: bool = True,
    force: bool = False,
    repartition_to: int | None = None,
) -> dict:
    """Run the curation chain over ``docs`` and write under ``output``:

    - ``curated/`` — parquet partitioned by ``(split, batch)``, columns
      ``(id, text, n_tokens, quality_score, content_h1, content_h2,
      shard)`` with text PII-redacted (and span-cleaned when ``span_k``
      is set); the hashes are the 128-bit identity of the
      PRE-span-clean redacted text (what exact dedup keyed on) so
      incremental batches can dedup against the corpus by scanning two
      long columns; the base run owns ``batch=base``,
    - ``packed/`` — the pack_sequences assignment table
      ``(shard, doc_id, n_tokens, bin_id, bin_offset)`` where ``shard``
      is the composite split_idx * n_shards + shard encoding,
    - ``windows/`` — the training-ready split_windows fan-out (one row
      per seq_len window, oversize docs split),
    - ``_meta/curate.json`` — parameters (incl. a benchmark
      fingerprint when decontaminating), input fingerprint, stage
      counts.

    Returns the metadata dict. ``benchmark=None`` skips
    decontamination; ``span_k=None`` skips span removal; ``stats=False``
    skips per-stage counts AND the stage-boundary persists that make
    them cheap (100 TB mode — counts then come from the written
    output). ``repartition_to`` spreads the scan before the per-row
    regex/gram compute (single-row-group parquet files otherwise run
    the whole redact+quality stage in ONE task)."""
    # fail fast on a bad splits spec — split_assign would only raise at
    # stage 6, after every expensive upstream action already ran
    total_w = sum(w for _, w in splits)
    if total_w != 10_000 or any(w <= 0 for _, w in splits):
        raise ValueError(
            f"splits must be positive weights summing to 10000, got {list(splits)}"
        )
    meta_path = _meta_file(output)
    fp = _fingerprint(docs, [id_col, text_col])
    params = {
        "decontam": benchmark is not None,
        # recorded so a delta batch can verify it was handed the SAME
        # eval suite the corpus was decontaminated against
        "benchmark_fingerprint": (
            _fingerprint(benchmark, [text_col]) if benchmark is not None else None
        ),
        "decontam_n": decontam_n,
        "min_tokens": min_tokens,
        "min_quality": min_quality,
        "span_k": span_k,
        "seq_len": seq_len,
        "n_shards": n_shards,
        "splits": [list(s) for s in splits],
        "salt": salt,
        # part of the key: a completed --no-stats run must not satisfy a
        # later run that asked for the per-stage counts
        "stats": stats,
    }
    deltas_dir = os.path.join(output, "_meta", "deltas")
    prev = None if force else _read_meta(meta_path)
    if prev is not None:
        # tolerate metas written before newer param keys existed —
        # default the missing keys instead of treating a blind
        # re-submission as a changed contract (a rebuild here would
        # discard every ingested delta batch)
        prev_params = {
            **{"benchmark_fingerprint": None},
            **(prev.get("params") or {}),
        }
        if prev.get("input_fingerprint") == fp and prev_params == params:
            prev["skipped"] = True
            return prev
    if not force and os.path.isdir(deltas_dir) and os.listdir(deltas_dir):
        raise ValueError(
            f"{output} has ingested delta batches; a base rebuild discards "
            "their rows — pass force=True to confirm"
        )

    with _Stages(stats) as st:
        docs = _input_docs(st, docs, id_col, fp[1], repartition_to)
        # 1-2. redact, then the quality gate on the redacted text
        kept = st.boundary(
            _gate(_redact(docs, id_col, text_col), min_tokens, min_quality),
            "after_quality",
        )
        # 3. benchmark decontamination
        if benchmark is not None:
            kept = _drop_contaminated(st, kept, benchmark, text_col, decontam_n)
        # 4. exact dedup
        kept = st.boundary(_exact_dedup(kept), "after_exact_dedup")
        # 5. duplicated-span removal (optional) + re-gate
        if span_k is not None:
            kept = _span_clean(st, kept, span_k, min_tokens, min_quality)
        # 6. split + shard; four consumers from here (split stats, write,
        #    packing, pack write)
        splits = list(splits)
        final = st.pin(_assign_splits(kept, splits, salt, n_shards, "base"))
        _count_splits(st, final)

        # a rebuilt corpus invalidates every previously ingested delta:
        # their rows are about to vanish from curated/ (full overwrite)
        # and their per-batch metas would otherwise make re-submission a
        # silent no-op — data loss. Clear the markers BEFORE the
        # destructive write: if the rebuild crashes mid-overwrite, the
        # stale markers must already be gone (premature clearing is
        # safe — re-ingesting a batch is idempotent).
        shutil.rmtree(deltas_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(output, "packed_delta"), ignore_errors=True)
        shutil.rmtree(os.path.join(output, "windows_delta"), ignore_errors=True)
        # ... and the base meta itself: if the rebuild crashes mid-write,
        # the stale meta would otherwise let a blind re-submission SKIP
        # over the half-overwritten output as if it were complete
        try:
            os.remove(meta_path)
        except FileNotFoundError:
            pass
        final.write.mode("overwrite").partitionBy("split", "batch").parquet(
            os.path.join(output, "curated")
        )

        # 7. pack + windows
        _pack(
            spark, st, final, splits, n_shards, seq_len,
            os.path.join(output, "packed"), os.path.join(output, "windows"),
        )
        return _write_meta(
            meta_path,
            {
                "input_fingerprint": fp,
                "params": params,
                "counts": st.counts,
                "skipped": False,
            },
        )


def committed_batches(output: str) -> list[str]:
    """``base`` plus every delta batch tag whose meta committed. Rows in
    ``curated/`` under any OTHER batch value are a crashed attempt's
    uncommitted leftovers — present as files, not part of the corpus
    (their retry replaces them via dynamic partition overwrite; they
    are never auto-deleted because a CONCURRENTLY RUNNING batch is
    indistinguishable from an abandoned one by files alone)."""
    tags = ["base"]
    d = os.path.join(output, "_meta", "deltas")
    if os.path.isdir(d):
        tags += [f[:-5] for f in sorted(os.listdir(d)) if f.endswith(".json")]
    return tags


def read_curated(spark: SparkSession, output: str) -> DataFrame:
    """The consumer read path: ``curated/`` restricted to COMMITTED
    batches. Reading the directory raw would also serve any crashed
    batch's half-written rows."""
    df = spark.read.parquet(os.path.join(output, "curated"))
    return df.where(F.col("batch").isin(committed_batches(output)))


def _read_with_deltas(
    spark: SparkSession, output: str, base_dir: str, delta_dir: str
) -> DataFrame:
    df = spark.read.parquet(os.path.join(output, base_dir))
    for tag in committed_batches(output):
        if tag == "base":
            continue
        p = os.path.join(output, delta_dir, f"batch={tag}")
        if os.path.isdir(p):
            df = df.unionByName(spark.read.parquet(p))
    return df


def read_packed(spark: SparkSession, output: str) -> DataFrame:
    """Training-surface twin of :func:`read_curated`: the base
    ``packed/`` table plus ONLY committed delta batches — an abandoned
    crashed batch's ``packed_delta/batch=X`` directory is never served
    (path selection, so the orphan files are not even scanned). A
    corpus with many batches compacts on the next full rebuild."""
    return _read_with_deltas(spark, output, "packed", "packed_delta")


def read_windows(spark: SparkSession, output: str) -> DataFrame:
    """Committed-only view over ``windows/`` + ``windows_delta/`` —
    see :func:`read_packed`."""
    return _read_with_deltas(spark, output, "windows", "windows_delta")


def curate_delta(
    spark: SparkSession,
    new_docs: DataFrame,
    output: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark: DataFrame | None = None,
    stats: bool = True,
    force: bool = False,
    repartition_to: int | None = None,
) -> dict:
    """Incremental ingestion against an existing :func:`curate_corpus`
    output — the production mode at 100 TB, where re-running the whole
    corpus per arriving batch is not an option. Only the NEW batch goes
    through redaction/quality/decontamination; dedup against the
    existing corpus reads exactly three long columns of ``curated/``
    (id + the stored content hashes — column pruning keeps the 100 TB
    of text out of the scan entirely).

    Gate parameters (min_tokens, splits, salt, ...) come from the base
    run's ``_meta/curate.json`` so every batch applies the SAME
    contract as the corpus it joins; ``benchmark`` must be re-supplied
    when the base run decontaminated (a DataFrame cannot live in a
    JSON meta). ``span_k`` applies WITHIN the batch only — span-level
    dedup across the full corpus is a full-corpus op by construction
    (its gram window must see every occurrence); the documented recipe
    is a periodic full re-run.

    Each batch lands in its own ``batch=<tag>`` partition of
    ``curated/`` (dynamic-partition overwrite — a crashed attempt is
    safely replaced by its retry, never double-appended and never
    poisoned by its own half-written rows) and packs into
    ``packed_delta/batch=<tag>/`` — bin ids are batch-scoped, which is
    how training readers consume incremental data anyway. A per-batch
    meta under ``_meta/deltas/`` makes re-submitting the same batch a
    no-op; a base re-run clears both (its overwrite discards the delta
    rows, so their metas must not claim they are ingested).

    Batches are assumed to ingest serially (the scheduler's job): two
    CONCURRENT batches cannot see each other's uncommitted rows, so
    shared content would land in both — a later full rebuild (or the
    next serial batch) is what reconciles it.

    Known, deliberate divergence from a from-scratch run: a batch doc
    whose content already exists in the corpus is dropped in favor of
    the EXISTING row (first-seen wins — the standard incremental
    semantics) even when the batch id is smaller; a from-scratch run
    would keep the min id. Everything else — gates, decontamination,
    content dedup (keyed on pre-span-clean hashes, exactly what
    exact_dedup keyed on), split/shard assignment — matches a
    from-scratch run by construction (pinned in tests).
    """
    base_meta_path = _meta_file(output)
    base = _read_meta(base_meta_path)
    if base is None:
        raise FileNotFoundError(
            f"no base curate run at {output} (missing {base_meta_path}); "
            "run curate_corpus first"
        )
    p = base["params"]
    if p["decontam"] and "benchmark_fingerprint" not in p:
        raise ValueError(
            f"base output at {output} predates delta support (no benchmark "
            "fingerprint in its meta); re-run curate_corpus with force=True "
            "first"
        )

    if p["decontam"] and benchmark is None:
        # scan-free subset of the full verification below: a loud error
        # even on re-submissions that would otherwise skip — a scheduler
        # that stopped passing the benchmark is misconfigured NOW, not
        # at the next new batch
        raise ValueError(
            "base run decontaminated; pass the same benchmark DataFrame"
        )
    if benchmark is not None and not p["decontam"]:
        # the converse: the batch follows the corpus's contract (no
        # decontamination), so a supplied eval suite would be silently
        # ignored and the caller would get its contaminated rows
        raise ValueError(
            "base run did not decontaminate; a benchmark here would be "
            "ignored — drop it, or rebuild the base with it (force=True)"
        )

    fp = _fingerprint(new_docs, [id_col, text_col])
    batch_tag = f"{fp[0] & 0xFFFFFFFFFFFFFFFF:016x}-{fp[1]}"
    delta_meta_path = os.path.join(output, "_meta", "deltas", batch_tag + ".json")
    prev = None if force else _read_meta(delta_meta_path)
    # the per-batch meta satisfies a re-submission only under the SAME
    # contract (base params incl. the stats flag) — mirrors
    # curate_corpus's own skip rule
    if prev and prev.get("base_params") == p and prev.get("stats") == stats:
        prev["skipped"] = True
        return prev

    # benchmark validation runs AFTER the skip check — a redundant
    # re-submission (the common scheduler case) never pays the scan
    if p["decontam"]:
        bfp = _fingerprint(benchmark, [text_col])
        if p.get("benchmark_fingerprint") != bfp:
            raise ValueError(
                "benchmark mismatch: the base run decontaminated against a "
                f"different eval suite (base {p.get('benchmark_fingerprint')}, "
                f"got {bfp}) — batches must apply the corpus's contract"
            )

    existing = spark.read.parquet(os.path.join(output, "curated"))
    required = {"id", "content_h1", "content_h2", "batch"}
    missing = required - set(existing.columns)
    if missing:
        raise ValueError(
            f"base output at {output} lacks {sorted(missing)} — it predates "
            "delta support; re-run curate_corpus with force=True first"
        )
    # only COMMITTED batches are the corpus (an abandoned crashed
    # batch's leftover rows must not suppress re-ingestion of its
    # content under a different batch boundary), and a retry of THIS
    # batch must not see its own half-written rows (the dynamic
    # overwrite below replaces them)
    existing = existing.where(
        F.col("batch").isin(committed_batches(output))
        & (F.col("batch") != batch_tag)
    )

    with _Stages(stats) as st:
        docs = _input_docs(st, new_docs, id_col, fp[1], repartition_to)
        # ids already in the corpus are not new documents — drop them
        # before paying for redaction (column-pruned id scan)
        docs = st.boundary(
            docs.join(
                existing.select(F.col("id").alias(id_col)), id_col, "left_anti"
            ),
            "after_existing_ids",
        )
        kept = st.boundary(
            _gate(_redact(docs, id_col, text_col), p["min_tokens"], p["min_quality"]),
            "after_quality",
        )
        if p["decontam"]:
            kept = _drop_contaminated(st, kept, benchmark, text_col, p["decontam_n"])
        # dedup within the batch, then against the corpus: the corpus
        # side scans ONLY (content_h1, content_h2)
        kept = st.boundary(
            _exact_dedup(kept).join(
                existing.select("content_h1", "content_h2"),
                ["content_h1", "content_h2"],
                "left_anti",
            ),
            "after_exact_dedup",
        )
        if p["span_k"] is not None:
            kept = _span_clean(
                st, kept, p["span_k"], p["min_tokens"], p["min_quality"]
            )

        splits = [tuple(s) for s in p["splits"]]
        final = _assign_splits(kept, splits, p["salt"], p["n_shards"], batch_tag)
        # CUT the lineage before the self-referential append: final's
        # plan reads curated/ (the id/content anti-joins), and Spark
        # refreshes every cached plan over a path it writes — a plain
        # persist would be invalidated by the append below, and the
        # packing action would silently recompute final against the
        # just-appended corpus, where the new rows anti-join THEMSELVES
        # away to an empty batch. An eager localCheckpoint materializes
        # the batch (bounded by the delta, never the corpus) with no
        # dependency on the path being appended.
        final = final.localCheckpoint(eager=True)
        _count_splits(st, final)

        # dynamic-partition overwrite: only this batch's
        # (split, batch=<tag>) partitions are replaced — a crashed
        # earlier attempt's half-written rows are overwritten, every
        # other batch and the base are untouched, and re-running can
        # never double-append
        final.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("split", "batch").parquet(os.path.join(output, "curated"))

        _pack(
            spark, st, final, splits, p["n_shards"], p["seq_len"],
            os.path.join(output, "packed_delta", f"batch={batch_tag}"),
            os.path.join(output, "windows_delta", f"batch={batch_tag}"),
        )
        return _write_meta(
            delta_meta_path,
            {
                "batch": batch_tag,
                "input_fingerprint": fp,
                "base_params": p,
                "stats": stats,
                "counts": st.counts,
                "skipped": False,
            },
        )
