"""The two benchmark workloads and the checks on their outputs.

Each workload calls the program the way its users do — ``extract_and_score``
and ``run_pipeline`` with the program's default partitioning, the queries
from ``__spark_entry__.queries()`` — on ``local[<cores>]`` in one Spark
driver process. A workload has these methods, each given the run's
``Bench`` (run.py):

* ``setup``        — inputs from the seed, materialized, plus a warm-up;
* ``round``        — one unit of timed work; returns its wall time, the
                     latency of each operation in it and the input items;
* ``check``        — output checks that run outside the timed section;
* ``rewarm``       — rebinds to the traced session and warms it;
* ``trace_extras`` — in-process replays and extra jobs of the traced run;
* ``layers``       — per-layer figures from the traced round's event log.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DoubleType, FloatType, StructType

from readability_scanner_spark.dom import parse_html
from readability_scanner_spark.extraction.readability import MIN_CONTENT_LENGTH, extract_main_content
from readability_scanner_spark.functions.formulas import with_readability_scores
from readability_scanner_spark.functions.textstats import calculate_text_statistics
from readability_scanner_spark.functions.udfs import (
    EXTRACT_SCHEMA,
    STATS_SCHEMA,
    extract_one,
    extract_stats_partition,
    stats_one,
)
from readability_scanner_spark.plans.pipeline import extract_and_score, read_output, run_pipeline

from inputs import materialize_transcripts, write_analytics_tables
from trace import MB, max_over_median, slot_seconds, under_occupied_seconds

STATS_COLS = [f.name for f in STATS_SCHEMA.fields]
SCORE_COLS = [
    "flesch", "flesch_kincaid", "smog", "dale_chall", "dale_chall_grade",
    "coleman_liau", "gunning_fog", "spache", "automated_readability",
]
# columns the pipeline clamps to current_timestamp() when they lie in the
# future: their clamped values depend on when the job ran
CLAMPED_COLS = ("ts", "publication_date")
# the pass-through columns extract_and_score hands to the UDF
PASSTHROUGH = ["conv_id", "turn_idx", "role", "tool", "ts"]

QUERY_MODULES = {
    "readability_by_source": "analytics",
    "word_topk": "analytics",
    "broadcast_lookup_join": "analytics",
    "text_quality_filters": "textquality",
    "exact_dedup": "dedup",
    "minhash_candidates": "dedup",
    "knn_topk": "similarity",
    "bm25_search": "search",
    "text_search_scored": "search",
}


def output_digest(df, since: float) -> dict:
    """Row count, order-independent hash of every column, and the number
    of values clamped to the run's ``now``. Values at or after ``since``
    (wall time taken before the job started) can only be clamped ones, so
    they are masked out of the hash and counted instead; every other
    value, including unclamped timestamps, is hashed."""
    cutoff = F.timestamp_seconds(F.lit(since))
    cols, clamped = [], F.lit(0)
    for name in sorted(c for c in df.columns if c != "bucket"):
        col = F.col(name)
        if name in CLAMPED_COLS:
            is_now = F.coalesce(col >= cutoff, F.lit(False))
            clamped = clamped + is_now.cast("int")
            col = F.when(is_now, F.lit(None)).otherwise(col)
        cols.append(col)
    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
        F.sum(clamped).alias("clamped"),
    ).first()
    return {"rows": row["n"], "hash": row["h"], "clamped": row["clamped"] or 0}


def query_digest(df) -> dict:
    """Row count and order-independent hash of a query result; doubles are
    rounded to 9 decimals so a last-ulp change in a distributed sum's
    merge order does not read as a wrong answer."""
    cols = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        col = F.col(f"`{field.name}`")
        if isinstance(field.dataType, (DoubleType, FloatType)):
            col = F.round(col, 9)
        cols.append(col)
    row = df.agg(F.count("*").alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")).first()
    return {"rows": row["n"], "hash": row["h"]}


def _sample_pred(n_turns: int):
    """Deterministic, seed-independent sample of ~150 turns."""
    return F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(max(1, n_turns // 150))) == 0


def per_turn_mismatches(raw_rows, out_rows) -> int:
    """Compare Spark's per-turn output with in-process extract_one /
    stats_one on the same raw text; return the number of turns that
    differ (a missing turn counts as different)."""
    out = {(r["conv_id"], r["turn_idx"]): r for r in out_rows}
    bad = 0
    for raw in raw_rows:
        got = out.get((raw["conv_id"], raw["turn_idx"]))
        ex = extract_one(raw["text"])
        want_spans = [list(s) for s in ex[5]]
        if (
            got is None
            or got["cleaned_data"] != ex[1]
            or [list(s) for s in (got["spans"] or [])] != want_spans
            or tuple(got[c] for c in STATS_COLS) != stats_one(ex[1])
        ):
            bad += 1
    return bad


class ExtractHtml:
    """``extract_and_score`` over a materialized transcript table, every
    output column forced through a hash aggregate, nothing written. The
    traced run also runs ``run_pipeline`` once over the same table, for
    the bucketed writer's figures."""

    name = "extract_html"
    N_BUCKETS = 8  # run_pipeline's default, asserted below

    def setup(self, b) -> None:
        self.n_turns = b.sizes["turns"]
        self.path = os.path.join(b.work, "transcripts")
        with b.span("setup.materialize"):
            self.table = materialize_transcripts(b.spark, self.path, b.seed, self.n_turns, files=b.cores)
        self.expected = b.expected(self.name)
        with b.span("setup.warmup"):
            # the first pass pays Python worker start-up and imports; the
            # JVM is still compiling hot paths after it (the next pass runs
            # about 10% slower than later ones), so one more, checked, pass
            # runs before timing
            b.job("warmup")
            output_digest(extract_and_score(self.table), time.time())
            self.round(b)

    def verify_digest(self, b, digest: dict) -> None:
        b.check(digest["rows"] == self.n_turns, f"{digest['rows']} output turns for {self.n_turns} input turns")
        if self.expected is not None:
            b.check(
                [digest["hash"], digest["clamped"]] == [self.expected["hash"], self.expected["clamped"]],
                f"digest {digest} differs from the recorded {self.expected}",
            )
        seen = getattr(self, "seen", None)
        if seen is None:
            self.seen = digest
        else:
            b.check(digest == seen, f"digest {digest} differs from the previous round's {seen}")
        b.record(self.name, {"hash": digest["hash"], "clamped": digest["clamped"]})

    def per_turn_check(self, b, out_df) -> None:
        pred = _sample_pred(self.n_turns)
        b.job("per_turn_check")
        raw = self.table.where(pred).select("conv_id", "turn_idx", "text").collect()
        out = out_df.where(pred).select("conv_id", "turn_idx", "cleaned_data", "spans", *STATS_COLS).collect()
        bad = per_turn_mismatches(raw, out)
        b.check(bool(raw) and bad == 0, f"per-turn check: {bad} of {len(raw)} sampled turns differ")

    def round(self, b) -> dict:
        since = time.time()
        t0 = time.perf_counter()
        digest = output_digest(extract_and_score(self.table), since)
        seconds = time.perf_counter() - t0
        self.verify_digest(b, digest)
        return {"seconds": seconds, "ops": [seconds], "items": self.n_turns}

    def check(self, b) -> None:
        # the sample is taken before extract_and_score: taken after it, the
        # filter cannot pass the UDF and every turn would be extracted again
        self.per_turn_check(b, extract_and_score(self.table.where(_sample_pred(self.n_turns))))

    def run_pipeline_once(self, b) -> list[float]:
        """``run_pipeline`` with its defaults over the same table, into a
        fresh directory (it resumes from committed ``_meta`` rows, so a
        reused one would skip every bucket). The written output must
        digest like the in-memory pass and pass the per-turn check.
        Returns the buckets' ``_meta`` durations."""
        out_dir = os.path.join(b.work, "pipeline-out")
        b.job("pipeline")
        since = time.time()
        with b.span("plans.pipeline.run_pipeline"):
            summary = run_pipeline(b.spark, self.table, out_dir)
        b.check(summary["buckets_run"] == self.N_BUCKETS, f"buckets_run={summary['buckets_run']}")
        b.check(summary["turns"] == self.n_turns, f"{summary['turns']} turns written of {self.n_turns}")
        b.job("pipeline.verify")
        written = read_output(b.spark, out_dir)
        self.verify_digest(b, output_digest(written, since))
        self.per_turn_check(b, written)
        meta_dir = os.path.join(out_dir, "_meta")
        durations = []
        for name in sorted(os.listdir(meta_dir)):
            if name.endswith(".json"):
                with open(os.path.join(meta_dir, name)) as fh:
                    durations.append(json.load(fh)["duration_seconds"])
        shutil.rmtree(out_dir)
        return durations

    def replay(self, b) -> dict:
        """Replay the materialized input through extract_stats_partition in
        this process, in Arrow batches of the session's batch size, timing
        Arrow->pandas, the partition function and pandas->Arrow apart."""
        batch_rows = int(b.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        table = pq.read_table(self.path)
        out_schema = to_arrow_schema(
            StructType([self.table.schema[c] for c in PASSTHROUGH] + EXTRACT_SCHEMA.fields + STATS_SCHEMA.fields)
        )
        t = {"a2p": 0.0, "compute": 0.0, "p2a": 0.0}
        bytes_in = bytes_out = full_ladder = 0
        with b.span("replay.extract_stats_partition"):
            for batch in table.to_batches(max_chunksize=batch_rows):
                bytes_in += batch.nbytes
                t0 = time.perf_counter()
                pdf = batch.to_pandas()
                t1 = time.perf_counter()
                outs = list(extract_stats_partition(iter([pdf]), PASSTHROUGH))
                t2 = time.perf_counter()
                arrow = [pa.RecordBatch.from_pandas(o, schema=out_schema, preserve_index=False) for o in outs]
                t3 = time.perf_counter()
                t["a2p"] += t1 - t0
                t["compute"] += t2 - t1
                t["p2a"] += t3 - t2
                bytes_out += sum(a.nbytes for a in arrow)
                full_ladder += sum(int((o["text_content"].str.len() < MIN_CONTENT_LENGTH).sum()) for o in outs)
        n = table.num_rows
        sample = table.column("text").to_pylist()[:: max(1, n // 1000)]
        phases = {"parse": 0.0, "extract": 0.0, "stats": 0.0}
        with b.span("replay.phases"):
            for raw in sample:
                t0 = time.perf_counter()
                parse_html(raw)
                t1 = time.perf_counter()
                text = extract_main_content(raw).text_content
                t2 = time.perf_counter()
                calculate_text_statistics(text)
                t3 = time.perf_counter()
                phases["parse"] += t1 - t0
                phases["extract"] += t2 - t1
                phases["stats"] += t3 - t2
        us = 1e6 / n
        return {
            "compute_s": t["compute"],
            "conversion_s": t["a2p"] + t["p2a"],
            "functions.udfs.arrow_to_pandas_us_per_turn": t["a2p"] * us,
            "functions.udfs.extract_stats_partition_us_per_turn": t["compute"] * us,
            "functions.udfs.pandas_to_arrow_us_per_turn": t["p2a"] * us,
            "functions.udfs.bytes_to_python_mb": bytes_in / MB,
            "functions.udfs.bytes_from_python_mb": bytes_out / MB,
            "extraction.readability.full_ladder_frac": full_ladder / n,
            "extraction.readability.extract_main_content_us_per_turn": phases["extract"] * 1e6 / len(sample),
            "dom.parse_html_us_per_turn": phases["parse"] * 1e6 / len(sample),
            "functions.textstats.calculate_text_statistics_us_per_turn": phases["stats"] * 1e6 / len(sample),
        }

    def formulas_seconds(self, b) -> float:
        """with_readability_scores over a persisted copy of the stats
        columns, forced through a hash of the score columns."""
        stats = extract_and_score(self.table).select(*STATS_COLS).persist()
        try:
            b.job("formulas.persist")
            stats.count()
            b.job("formulas")
            with b.span("functions.formulas.with_readability_scores") as sp:
                with_readability_scores(stats).agg(F.bit_xor(F.xxhash64(*SCORE_COLS))).first()
            return sp["end"] - sp["start"]
        finally:
            stats.unpersist()

    def layers(self, b, log, traced: dict) -> dict:
        stage_ids = log.stage_ids(traced["desc"])
        tasks = log.tasks_of(stage_ids)
        udf_stages = log.stages_with_scope(stage_ids, "MapInPandas")
        udf_tasks = log.tasks_of(udf_stages)
        feeders = log.parent_stages(udf_stages, stage_ids)
        feeder_tasks = log.tasks_of(feeders)
        run_s, cores = traced["run_s"], b.cores
        replay = traced["replay"]
        idle_frac = 1.0 - slot_seconds(tasks) / (run_s * cores)
        gap_s = run_s - replay["compute_s"] / cores
        named = slot_seconds(feeder_tasks) / cores + replay["conversion_s"] / cores + idle_frac * run_s
        out = {k: v for k, v in replay.items() if "." in k}
        out.update(
            {
                "plans.pipeline.repartition.shuffle_write_mb": sum(t["shuffle_write"] for t in feeder_tasks) / MB,
                "plans.pipeline.repartition.shuffle_read_mb": sum(t["shuffle_read"] for t in udf_tasks) / MB,
                "plans.pipeline.repartition.spill_mb": sum(t["spill"] for t in tasks) / MB,
                "plans.pipeline.udf_stage.tasks": len(udf_tasks),
                "plans.pipeline.udf_stage.task_max_over_median": max_over_median(
                    [t["finish"] - t["launch"] for t in udf_tasks]
                ),
                "plans.pipeline.udf_stage.tail_s": sum(
                    under_occupied_seconds(log.tasks_of([s]), cores) for s in udf_stages
                ),
                "plans.pipeline.cores_idle_frac": idle_frac,
                "functions.udfs.boundary_core_s": slot_seconds(udf_tasks) - replay["compute_s"],
                "functions.udfs.gap_s": gap_s,
                "functions.udfs.gap_accounted_frac": named / gap_s if gap_s > 0 else 0.0,
                "functions.formulas.with_readability_scores_s": traced["formulas_s"],
                "plans.pipeline.run_pipeline.bucket_p50_s": statistics.median(traced["bucket_s"]),
                "plans.pipeline.run_pipeline.bucket_max_s": max(traced["bucket_s"]),
                "plans.pipeline.run_pipeline.write_mb": sum(
                    t["output"] for t in log.tasks_of(log.stage_ids("pipeline"))
                ) / MB,
                "plans.pipeline.run_pipeline.jobs": len(log.job_ids("pipeline")),
            }
        )
        return out

    def rewarm(self, b) -> None:
        self.table = b.spark.read.parquet(self.path)  # rebind to the new session
        b.job("warmup")
        output_digest(extract_and_score(self.table.limit(256)), time.time())

    def trace_extras(self, b) -> dict:
        return {
            "replay": self.replay(b),
            "formulas_s": self.formulas_seconds(b),
            "bucket_s": self.run_pipeline_once(b),
        }


class AnalyticsMix:
    """A closed loop with one client: each round runs every query once, in
    a seed-shuffled order; the next query starts when the previous one's
    result is in."""

    name = "analytics_mix"

    def setup(self, b) -> None:
        import __spark_entry__ as entry

        self.dir = os.path.join(b.work, "tables")
        with b.span("setup.generate"):
            write_analytics_tables(self.dir, b.seed, b.sizes["analytics_scale"])
        self.queries = entry.queries()
        self.names = list(QUERY_MODULES)
        self.rng = random.Random(b.seed)
        self.expected = b.expected(self.name)
        self.seen: dict[str, dict] = {}
        with b.span("setup.warmup"):
            # first executions pay JIT and code generation; run them
            # concurrently to keep set-up short (sequential first runs
            # take about twice as long), and keep their digests as the
            # reference the timed rounds must repeat. The first sequential
            # round after that is still 10-25% slower than later ones, so
            # one checked round runs before timing too
            with ThreadPoolExecutor(b.cores) as pool:
                futures = {n: pool.submit(self.run_query, b, n) for n in self.heaviest_first()}
                for name, fut in futures.items():
                    self.seen[name] = fut.result()["digest"]
            self.round(b)

    def heaviest_first(self) -> list[str]:
        heavy = [n for n in self.names if QUERY_MODULES[n] == "dedup"]
        return heavy + [n for n in self.names if n not in heavy]

    def run_query(self, b, name: str) -> dict:
        b.job(name)
        t0 = time.perf_counter()
        df = self.queries[name](b.spark, self.dir)
        t1 = time.perf_counter()
        digest = query_digest(df)
        t2 = time.perf_counter()
        return {"build_s": t1 - t0, "exec_s": t2 - t1, "digest": digest}

    def round(self, b) -> dict:
        order = self.names[:]
        self.rng.shuffle(order)
        self.last = {}
        t0 = time.perf_counter()
        for name in order:
            self.last[name] = self.run_query(b, name)
        seconds = time.perf_counter() - t0
        for name, res in self.last.items():
            got = res["digest"]
            b.check(got == self.seen[name], f"{name}: {got} differs from its first run {self.seen[name]}")
            if self.expected is not None:
                want = self.expected.get(name)
                b.check([got["rows"], got["hash"]] == [want["rows"], want["hash"]] if want else False,
                        f"{name}: {got} differs from the recorded {want}")
            b.record(self.name, {name: got}, merge=True)
        return {
            "seconds": seconds,
            "ops": [r["build_s"] + r["exec_s"] for r in self.last.values()],
            "items": len(order),
        }

    def check(self, b) -> None:
        pass  # every query result is checked inside its round

    def rewarm(self, b) -> None:
        b.job("warmup")
        query_digest(self.queries["word_topk"](b.spark, self.dir))

    def trace_extras(self, b) -> dict:
        return {}

    def layers(self, b, log, traced: dict) -> dict:
        out = {}
        for name, res in self.last.items():
            prefix = f"operators.{QUERY_MODULES[name]}.{name}"
            tasks = log.tasks_of(log.stage_ids(name))
            out[f"{prefix}.build_s"] = res["build_s"]
            out[f"{prefix}.exec_s"] = res["exec_s"]
            out[f"{prefix}.jobs"] = len(log.job_ids(name))
            out[f"{prefix}.shuffle_mb"] = sum(t["shuffle_write"] for t in tasks) / MB
        return out


WORKLOADS = {w.name: w for w in (ExtractHtml, AnalyticsMix)}
