"""Vector operators V2–V5 (SURVEY.md §2.1) + ANN similarity search.

Cosine similarity stays JVM-side via higher-order array functions
(zip_with/aggregate) — no Python for the pairwise math; the greedy
clustering (V4) runs inside applyInPandas, one task per window, because
the reference algorithm is order-dependent. The reference caps its pool
at 500 rows (ml-service/main.py:418) to bound an n×n matrix; here each
seed scores one n-vector instead, so a window costs O(n·d) memory and
carries no cap.

Scale path: the brute-force self-join is quadratic; `lsh_bucketed_pairs`
blocks candidates by random-hyperplane signatures so a 10^9-vector corpus
only compares within buckets.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_col(a: Column, b: Column) -> Column:
    """V2 cosine similarity (vector_service.py:194-215) as pure JVM
    expressions; inputs cast to double element-wise for stable math.
    Zero-norm vectors get similarity 0.0 — NOT NaN: Spark orders NaN
    ABOVE all numerics, so an unguarded 0/0 would pass every
    `sim >= threshold` filter and rank first in knn_topk."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    denom = norm_col(ad) * norm_col(bd)
    return F.when(denom != 0.0, dot_col(ad, bd) / denom).otherwise(F.lit(0.0))


def _cosine_pairs(candidates: DataFrame, threshold: float) -> DataFrame:
    """The tail every pair finder shares: cosine of each candidate
    ``(id_a, va, id_b, vb)`` row, the pairs at >= ``threshold`` as
    ``(id_a, id_b)``, ordered."""
    return (
        candidates.select("id_a", "id_b", cosine_col(F.col("va"), F.col("vb")).alias("sim"))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


def similarity_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    max_rows: int | None = 500,
) -> DataFrame:
    """JN5 all-pairs theta join (vector_service.py:194-221): pairs with
    cosine >= threshold, each pair once (id_a < id_b). Dimension-match
    guard = V5 (ml-service/main.py:459-461).

    The non-equi join plans as a nested-loop PRODUCT — the reference's
    own algorithm, which it caps at 500 documents (ml-service/main.py:418).
    Same contract here (r4): inputs above ``max_rows`` are refused so
    the quadratic plan can never run at scale; pass ``max_rows=None``
    only when the caller already bounded the input. The scale path is
    lsh_bucketed_pairs."""
    if max_rows is not None:
        # limit(cap+1).count(): the probe job stops materializing the
        # input lineage after cap+1 rows instead of scanning it all
        # (ADVICE r4) — enough to answer "over the cap?" either way
        n = vectors.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"all-pairs similarity refused: > cap {max_rows} rows "
                "(quadratic nested-loop plan); use lsh_bucketed_pairs "
                "at scale, or raise max_rows explicitly"
            )
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return _cosine_pairs(
        a.join(b, F.col("id_a") < F.col("id_b")).where(F.size("va") == F.size("vb")),
        threshold,
    )


def knn_topk(
    vectors: DataFrame, id_col: str, vec_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """V3 similar-items query (vector_service.py:143-225): brute-force
    cosine top-k against one query vector; TakeOrderedAndProject, no
    shuffle beyond the final top-k merge. Ties broken by id."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        vectors.select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine_col(F.col(vec_col), q), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )


# --- scale path: LSH bucketing ------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def _valid_matrix(pdf: pd.DataFrame, vec_col: str, dim: int):
    """``(rows, matrix)``: the rows of an Arrow batch whose vector is
    non-null with ``dim`` entries, and those vectors stacked one per
    row (``matrix`` is None when no row is valid). Null and wrong-
    dimension vectors are dropped instead of crashing the worker on a
    ragged vstack — the V5 size guard of the brute-force path (excluded
    rows form no pairs and get no cell)."""
    ok = pdf[vec_col].map(lambda v: v is not None and len(v) == dim)
    pdf = pdf[ok.to_numpy()] if not ok.all() else pdf
    if pdf.empty:
        return pdf, None
    return pdf, np.vstack(pdf[vec_col].to_numpy())


def lsh_signature_df(
    vectors: DataFrame, id_col: str, vec_col: str, dim: int, n_planes: int = 8, seed: int = 42
) -> DataFrame:
    """Random-hyperplane signature per vector (sign pattern → bucket id).
    Vectorized: one matmul per Arrow batch."""
    planes = _hyperplanes(dim, n_planes, seed)
    id_type = vectors.schema[id_col].dataType.simpleString()

    def sign_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf, mat = _valid_matrix(pdf, vec_col, dim)
            if mat is None:
                continue
            bits = (mat @ planes.T) >= 0  # (n, planes)
            bucket = bits.dot(1 << np.arange(n_planes)).astype("int64")
            yield pd.DataFrame({id_col: pdf[id_col], "bucket": bucket})

    return vectors.select(id_col, vec_col).mapInPandas(
        sign_batches, schema=f"{id_col} {id_type}, bucket long"
    )


def lsh_bucketed_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """ANN near-pair search: bucket by hyperplane signature, compare only
    within buckets. Recall < 1 vs brute force (documented tradeoff);
    at 100 TB this replaces an infeasible O(n²) crossJoin with a
    shuffle-by-bucket + per-bucket quadratic on ~n/2^planes rows."""
    sigs = lsh_signature_df(vectors, id_col, vec_col, dim, n_planes, seed)
    tagged = vectors.join(sigs, id_col)
    a = tagged.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket")
    b = tagged.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket")
    return _cosine_pairs(
        a.join(b, ["bucket"]).where(F.col("id_a") < F.col("id_b")), threshold
    )


# --- scale path: IVF (inverted-file) ANN -------------------------------------------

def train_ivf_centroids(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    sample_rows: int = 4096,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic mini k-means on a bounded driver-side sample
    (orderBy(id).limit → same sample at any parallelism). The sample is
    the ONLY driver-side data movement; assignment and search stay
    distributed. At 10^12 rows the sample is still `sample_rows`.

    Sizing note: driver memory is ~sample_rows × dim × 8 bytes and the
    broadcast shipped to executors is n_centroids × dim — both are set
    by THESE parameters, never by the table size, so raising
    sample_rows for better centroids is a deliberate, linear driver
    cost (4096 × 768-dim ≈ 25 MB; fine; 10^7 rows would not be)."""
    sample = np.vstack(
        [
            r[0]
            for r in vectors.select(vec_col)
            .orderBy(F.col(id_col))
            .limit(sample_rows)
            .collect()
        ]
    ).astype("float64")
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)]
    for _ in range(iters):
        dists = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = dists.argmin(axis=1)
        for c in range(len(centroids)):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_assign(
    vectors: DataFrame, id_col: str, vec_col: str, centroids: np.ndarray
) -> DataFrame:
    """Assign every vector to its nearest centroid (one matmul per Arrow
    batch; centroids ride the closure — the broadcast-variable analog)."""
    cents = centroids.copy()
    dim = cents.shape[1]
    id_type = vectors.schema[id_col].dataType.simpleString()

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf, mat = _valid_matrix(pdf, vec_col, dim)
            if mat is None:
                continue
            mat = mat.astype("float64")
            d = (mat**2).sum(1)[:, None] - 2 * mat @ cents.T + (cents**2).sum(1)[None, :]
            yield pd.DataFrame({id_col: pdf[id_col], "cell": d.argmin(axis=1).astype("int64")})

    return vectors.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} {id_type}, cell long"
    )


def ivf_knn(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN query: probe only the n_probe cells nearest the query,
    brute-force cosine inside them. Scans ~n_probe/n_centroids of the
    corpus instead of all of it; recall < 1 is the documented tradeoff
    (tested vs brute force)."""
    centroids = train_ivf_centroids(vectors, id_col, vec_col, n_centroids, seed=seed)
    q = np.asarray(query_vec, dtype="float64")
    probe = np.argsort(((centroids - q) ** 2).sum(axis=1))[:n_probe].tolist()
    assigned = ivf_assign(vectors, id_col, vec_col, centroids)
    candidates = vectors.join(assigned, id_col).where(F.col("cell").isin(probe))
    return knn_topk(candidates, id_col, vec_col, query_vec, k)


# --- V4: greedy seed clustering ---------------------------------------------------

def greedy_topic_groups(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    order_col: str,
    window_col: str,
    threshold: float = 0.75,
    min_group_size: int = 3,
) -> DataFrame:
    """V4 greedy clustering (ml-service/main.py:429-497): iterate items
    newest-first, (order desc, id asc); each unprocessed seed absorbs all
    unprocessed items with cosine >= threshold; keep groups of >= min size.

    Order-dependent ⇒ sequential *within* a window; windows (e.g. days)
    are independent ⇒ parallel across windows via applyInPandas. Every
    row of a window is clustered: a seed scores one vector against the
    window, never an n×n matrix.
    """

    def cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=["window", "topic_id", "member_id"])
        pdf = pdf.sort_values([order_col, id_col], ascending=[False, True], kind="mergesort")
        mat = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        ids = pdf[id_col].to_numpy()
        window_val = str(pdf[window_col].iloc[0])
        processed = np.zeros(len(ids), dtype=bool)
        out = []
        for i in range(len(ids)):
            if processed[i]:
                continue
            members = np.flatnonzero(~processed & (unit @ unit[i] >= threshold))
            if len(members) >= min_group_size:
                topic_id = f"{window_val}-{ids[i]}"
                processed[members] = True
                out.extend((window_val, topic_id, int(ids[j])) for j in members)
            # a failed seed is NOT marked processed: the reference
            # (ml-service/main.py:429-497) leaves it eligible to be
            # absorbed as a member of a later seed's group; the forward
            # loop already guarantees it is never retried as a seed
        return pd.DataFrame(out, columns=["window", "topic_id", "member_id"])

    return (
        vectors.groupBy(window_col)
        .applyInPandas(cluster, schema="window string, topic_id string, member_id long")
        .orderBy("window", "topic_id", "member_id")
    )
