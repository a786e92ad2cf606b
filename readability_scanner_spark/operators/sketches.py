"""Deterministic cardinality sketches + weighted sampling for curation
audits at 10^12-row scale.

Two operators a 100 TB training-data pipeline runs constantly:

- :func:`kmv_distinct` — KMV (k-minimum-values) distinct-count
  estimation (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07). Hash
  every value into [0, 2^64), keep the k smallest DISTINCT hashes per
  group; with fewer than k distinct values the count is exact, else
  ``E = (k-1) * 2^64 / h_(k)`` estimates the cardinality with relative
  error ~ 1/sqrt(k-2). Unlike ``approx_count_distinct`` (HLL++, an
  engine-private sketch), every step here is a deterministic function
  of the data through the cross-engine md5-low64 hash — a DuckDB
  oracle recomputes the IDENTICAL estimate via ``md5_number_lower``,
  so even the *approximate* answer is hash-verifiable.

- :func:`cms_sketch` / :func:`cms_estimate` — count-min sketch
  (Cormode & Muthukrishnan 2005) for token/heavy-hitter frequency
  estimation in constant space: depth×width counters, point estimate =
  min over rows. Same determinism argument as KMV: md5-low64 bucket
  hashes make the sketch itself a pure function of the data, so the
  DuckDB oracle recomputes identical estimates.

- :func:`weighted_priority_sample` — deterministic weighted sampling:
  per stratum keep the n rows with the smallest integer priority
  ``h // w`` (h = 63-bit content hash of the row id, w = integer
  weight). The exponential-race / Efraimidis–Spirakis scheme orders by
  ``-ln(u)/w`` (selection odds exactly proportional to w); we drop the
  transcendental transform — ``u/w`` keeps the odds weight-
  proportional to first order for n << stratum size — because integer
  ``h // w`` is bit-exact across Spark, DuckDB, and Python, while
  ``ln``/``pow`` differ by ULPs between JVM and libm (the float-parity
  rule this repo's oracles live by). Stable across partitionings,
  cluster layouts, and engines.

Reference surface: none (graft extensions — the reference has no
cardinality estimation or weighted sampling; these back the
vocabulary/user-cardinality audits and importance-sampled exports of a
large-scale curation pipeline).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 2^63 as an exact DECIMAL literal (pmod modulus for the 63-bit hash;
# a plain int literal overflows the py4j Long marshalling).
_TWO_63 = Decimal(1 << 63)


def md5_low64(col: Column) -> Column:
    """Low 64 bits of md5(utf8(col)) as DECIMAL(20,0), computed entirely
    JVM-side (no Python workers): equals DuckDB's ``md5_number_lower``
    and Python ``int.from_bytes(md5(s).digest()[8:], 'little')`` — the
    repo's one cross-engine hash (operators/dedup.py:_md5_64). The
    little-endian byte order means hex pairs 31..17 (bytes 15..8)
    reversed, then parsed base-16 by ``conv`` (unsigned 64-bit safe).

    r6: the md5 hex is bound through a one-element transform's lambda
    variable before the 8 substring references — a plain 8x-referenced
    subtree is NOT subexpression-eliminated, so every gram/token hash
    was computing the full md5 (and its input expression, e.g. the
    joined gram string) EIGHT times. Measured 7.1 s -> 1.6 s for the
    sf1.0 gram pass; value unchanged."""
    hexc = F.md5(col.cast("binary"))
    return F.element_at(
        F.transform(
            F.array(hexc),
            lambda x: F.conv(
                F.concat(*[F.substring(x, 2 * i + 1, 2) for i in range(15, 7, -1)]),
                16,
                10,
            ).cast("decimal(20,0)"),
        ),
        1,
    )


def kmv_estimate_const(k: int) -> float:
    """(k-1) * 2^64 as the exact double both engines fold to: k-1 has
    <= ~20 significand bits, so the product is exactly representable
    and ``repr()`` of this value round-trips into DuckDB's parser."""
    return float((k - 1) * (1 << 64))


# cells per (group, partition) in the local top-k prune: bounds each
# collect_list buffer to ~partition_rows/_PRUNE_SALTS entries
_PRUNE_SALTS = 64


def _k_smallest(hashed: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """KMV's top-k tail: from distinct
    ``(*group_cols, h)`` rows, keep the k smallest hashes per group
    (row_number over the hash order).

    r6: a partition-local top-k prune runs first — group cardinality is
    tiny (that is what makes KMV useful), so the window otherwise sorts
    each group's ENTIRE distinct-hash set on one task (measured: the
    5-group sf1.0 query spent its time in 5 straggler sort tasks). The
    local prune keeps the k smallest per (group, input partition, hash
    salt): any union of per-cell k-smallest sets is a superset of the
    global k smallest, so the window's output rows — and the estimates —
    are identical for any partitioning; hashes are unique per group
    (distinct upstream), so ties cannot reorder. The salt bounds each
    collect_list buffer to ~1/``_PRUNE_SALTS`` of a partition's rows —
    without it a few-group corpus would hold one partition's whole
    distinct-hash set in a single in-memory aggregation buffer (r6
    review finding: the previous window sort spilled; an unbounded
    array cannot)."""
    local = (
        hashed.groupBy(
            *group_cols,
            F.spark_partition_id().alias("_pid"),
            F.pmod(F.col("h"), F.lit(_PRUNE_SALTS)).alias("_salt"),
        )
        .agg(F.slice(F.array_sort(F.collect_list("h")), 1, k).alias("_hs"))
        .select(*group_cols, F.explode("_hs").alias("h"))
    )
    w = Window.partitionBy(*group_cols).orderBy("h")
    return local.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)


def kmv_distinct(
    df: DataFrame, group_cols: list[str], value: Column, k: int = 64
) -> DataFrame:
    """Per-group KMV distinct estimate of ``value``.

    Output: ``*group_cols, n_kept (bigint), est_distinct (double)``.
    ``n_kept = min(distinct, k)``; ``est_distinct`` is the exact count
    when the group has < k distinct values, else the KMV estimate
    rounded to 4 decimals (one double divide, expression-shape
    identical to the oracle, so bit-stable).

    Scale shape: stage 1 is ``groupBy(group, h)`` — a map-side-combined
    dedup, so the shuffle carries at most the DISTINCT (group, hash)
    pairs, not the rows. Stage 2 windows on the group key only
    (row_number over the hash order, spilling sort) and keeps k rows
    per group; the final agg reuses stage 2's partitioning. Nulls are
    dropped (COUNT DISTINCT semantics)."""
    hashed = (
        df.select(*group_cols, md5_low64(value).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
    )
    kept = _k_smallest(hashed, group_cols, k)
    return (
        kept.groupBy(*group_cols)
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("_kth"))
        .select(
            *group_cols,
            "n_kept",
            F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
            .otherwise(
                F.round(F.lit(kmv_estimate_const(k)) / F.col("_kth").cast("double"), 4)
            )
            .alias("est_distinct"),
        )
    )


def cms_sketch(
    tokens: DataFrame, token_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of token
    frequencies: ``r (int), bucket (int), cnt (bigint)`` — ``depth``
    rows of ``width`` counters, ``cnt[r][h_r(t)] = Σ count(t)``.
    Like :func:`kmv_distinct`, every step is a deterministic function of
    the data (md5-low64 bucket hashes), so a DuckDB oracle recomputes
    the IDENTICAL sketch and estimates — unlike engine-private
    ``count_min_sketch``, the approximate answer is hash-verifiable.

    Scale shape: stage 1 is a map-side-combined ``groupBy(token)`` (the
    shuffle carries distinct tokens, not occurrences), stage 2 fans
    each distinct token out ``depth`` ways and re-aggregates into at
    most ``depth*width`` cells — the sketch is CONSTANT-size however
    large the corpus, which is the whole point: at 100 TB the sketch
    broadcasts while an exact frequency table would not.

    NULL tokens are dropped (COUNT-DISTINCT-style, same contract as
    :func:`kmv_distinct`) — without the filter, concat_ws would silently
    fold every NULL onto the md5("r") bucket while the NULL-propagating
    oracle expression drops them, a cross-engine divergence."""
    tc = (
        tokens.where(F.col(token_col).isNotNull())
        .groupBy(F.col(token_col).alias("t"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    fanned = tc.select(
        "t", "c", F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r")
    )
    return (
        fanned.select("r", _cms_bucket(F.col("r"), F.col("t"), width).alias("bucket"), "c")
        .groupBy("r", "bucket")
        .agg(F.sum("c").cast("long").alias("cnt"))
    )


def _cms_bucket(r: Column, token: Column, width: int) -> Column:
    """Row-r bucket of a token: md5_low64("r:token") % width. r is a
    single small integer (never contains ':'), so the payload is
    prefix-unambiguous whatever the token contains."""
    return F.pmod(
        md5_low64(F.concat_ws(":", r.cast("string"), token)), F.lit(width)
    ).cast("int")


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    token_col: str,
    depth: int = 4,
    width: int = 1024,
    assume_distinct: bool = False,
) -> DataFrame:
    """Point estimates for candidate tokens: ``token, est_count`` with
    ``est = min over r of cnt[r][h_r(token)]`` — an overestimate of the
    true count, never an underestimate (pinned in tests). The sketch
    side is at most ``depth*width`` rows, so the join broadcasts; an
    absent cell means the candidate never hashed there → counts 0.

    Guard: a depth/width mismatch with how the sketch was built would
    coalesce missing rows/cells to 0 and SILENTLY underestimate (the
    one way the never-underestimate guarantee could break). The probe
    checks the sketch's distinct ``r`` values == ``range(depth)`` and
    ``max(bucket) < width`` — catching any depth mismatch and a
    too-small ``width``; a ``width`` LARGER than the build width is
    undetectable from the sketch alone (buckets just look sparse), so
    callers own that pairing. The probe aggregates the constant-size
    sketch (≤ depth*width rows), corpus-size-independent. An empty
    sketch (empty corpus) is legitimate: every estimate is 0."""
    probe = sketch.agg(
        F.collect_set("r").alias("rs"), F.max("bucket").alias("maxb")
    ).first()
    rows_present = set(probe["rs"])
    if rows_present and rows_present != set(range(depth)):
        raise ValueError(
            f"sketch rows {sorted(rows_present)} != range({depth}); "
            "sketch was built with a different depth"
        )
    if probe["maxb"] is not None and probe["maxb"] >= width:
        raise ValueError(
            f"sketch bucket {probe['maxb']} >= width {width}; "
            "sketch was built with a larger width"
        )
    cand = candidates.where(F.col(token_col).isNotNull()).select(
        F.col(token_col).alias("token")
    )
    if not assume_distinct:
        cand = cand.distinct()
    # assume_distinct=True skips the dedup shuffle when the caller's
    # candidates are already unique (e.g. the output of a groupBy on
    # the token) — duplicates would only waste work, not corrupt
    # estimates, but at corpus scale that wasted aggregation is a full
    # extra pass over the widest intermediate
    fanned = cand.select(
        "token", F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r")
    ).select("token", "r", _cms_bucket(F.col("r"), F.col("token"), width).alias("bucket"))
    joined = fanned.join(F.broadcast(sketch), ["r", "bucket"], "left")
    return joined.groupBy("token").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_count")
    )


def sample_hash63(id_col: Column, salt: int = 0) -> Column:
    """63-bit non-negative content hash of an id (+ salt) as BIGINT:
    md5-low64 mod 2^63. Salt-distinct hashes give independent samples;
    the mod-2^63 fold keeps every later comparison in signed-64 range
    on both engines (DuckDB's ``%`` on UBIGINT and Spark's ``pmod`` on
    DECIMAL(20,0) agree on non-negative operands)."""
    payload = F.concat_ws(":", id_col.cast("string"), F.lit(str(salt)))
    return F.pmod(md5_low64(payload), F.lit(_TWO_63)).cast("long")


def weighted_priority_sample(
    df: DataFrame,
    strata_cols: list[str],
    id_col: str,
    weight: Column,
    n_per_stratum: int,
    salt: int = 0,
) -> DataFrame:
    """Keep the ``n_per_stratum`` rows with the smallest ``priority =
    h63 // max(w, 1)`` per stratum (ties broken by h63 then id — total
    order, so the selected set is unique). Higher weight => smaller
    priority => higher selection odds. Adds ``priority`` (bigint) to
    the surviving rows. NULL-id rows are dropped up front: a NULL id
    has no content hash (concat_ws would silently fold it onto the
    hash-of-salt, colliding every NULL row onto one priority, while a
    NULL-propagating oracle would sort them NULLS LAST — two wrong
    answers that also disagree), same null semantics as
    :func:`kmv_distinct`.

    Scale shape: one shuffle on the strata key; the per-stratum
    row_number is a spilling window sort. For tiny n against huge
    strata a pre-filter on ``h63 < threshold`` would bound the sort —
    left to callers who know their weight ceiling."""
    w_int = F.greatest(weight.cast("long"), F.lit(1))
    out = (
        df.where(F.col(id_col).isNotNull())
        .withColumn("_h63", sample_hash63(F.col(id_col), salt))
        .withColumn("_w", w_int)
        .withColumn("priority", F.expr("_h63 div _w"))
    )
    win = Window.partitionBy(*strata_cols).orderBy("priority", "_h63", id_col)
    return (
        out.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") <= n_per_stratum)
        .drop("_rn", "_h63", "_w")
    )
