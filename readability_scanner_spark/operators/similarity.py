"""Vector operators V2–V5 (SURVEY.md §2.1) + ANN similarity search.

Pair and cluster scoring is numpy: every pairwise cosine (the exact
all-pairs join, the LSH bucket join) and every greedy-clustering seed
goes through one kernel, `_cosines`, inside applyInPandas, so the
per-row interpretation is paid once per block instead of once per pair.
Row-against-constant top-k (`knn_topk`, `ivf_knn`) stays JVM-side via
higher-order array functions (zip_with/aggregate): it is one cosine per
row and a TakeOrderedAndProject, which a Python worker only slows down.
The greedy clustering (V4) is order-dependent, so it runs one task per
window. The reference caps its pool at 500 rows (ml-service/main.py:418)
to bound an n×n matrix; here a task scores a block of rows at a time, so
memory is O(block·n + n·d) and nothing carries a cap.

Scale path: exact all-pairs is quadratic in time; `lsh_bucketed_pairs`
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


def _cosines(a: np.ndarray, b: np.ndarray, norms_b: np.ndarray) -> np.ndarray:
    """Cosine of every row of ``a`` against every row of ``b`` (``norms_b``
    = the row norms of ``b``), as an ``len(a) × len(b)`` matrix. A zero
    denominator gives 0.0, never NaN — the same guard as `cosine_col`."""
    denom = np.outer(np.linalg.norm(a, axis=1), norms_b)
    return np.divide(a @ b.T, denom, out=np.zeros(denom.shape), where=denom != 0)


def _stack(vecs) -> tuple[np.ndarray, np.ndarray]:
    """Vectors stacked one per row as float64, and their row norms: the
    ``b, norms_b`` operand of `_cosines`."""
    mat = np.vstack(vecs).astype("float64")
    return mat, np.linalg.norm(mat, axis=1)


def _pairs_within(
    tagged: DataFrame, group_cols: list, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """``(id_a, id_b)`` with id_a < id_b and cosine >= ``threshold`` for
    every two rows of one ``group_cols`` group, ordered. Rows with a null
    id or vector form no pairs. A group is sorted by id and scored a
    block of rows against the rest of the group at a time; the block
    height keeps each of a block's matrices at most 2^22 doubles (32 MiB)."""
    id_type = tagged.schema[id_col].dataType.simpleString()

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        mat, norms = _stack(pdf[vec_col].to_numpy())
        n = len(ids)
        step = max(1, 2**22 // n)
        id_a, id_b = [], []
        for lo in range(0, n, step):
            # rows lo..lo+step against columns lo..n: each pair once
            sims = _cosines(mat[lo : lo + step], mat[lo:], norms[lo:])
            rows, cols = np.nonzero(sims >= threshold)
            a, b = ids[lo + rows], ids[lo + cols]
            keep = a < b
            id_a.append(a[keep])
            id_b.append(b[keep])
        return pd.DataFrame({"id_a": np.concatenate(id_a), "id_b": np.concatenate(id_b)})

    return (
        tagged.where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
        .groupBy(*group_cols)
        .applyInPandas(pairs, schema=f"id_a {id_type}, id_b {id_type}")
        .orderBy("id_a", "id_b")
    )


def similarity_pairs(vectors: DataFrame, id_col: str, vec_col: str, threshold: float) -> DataFrame:
    """JN5 all-pairs theta join (vector_service.py:194-221): pairs with
    cosine >= threshold, each pair once (id_a < id_b). Dimension-match
    guard = V5 (ml-service/main.py:459-461): rows are grouped by vector
    length, so only same-length vectors pair.

    Exact and quadratic in time: one group is scored in one task, at
    O(block·n + n·d) memory, so an oversized input costs time but cannot
    exhaust a worker. The scale path is lsh_bucketed_pairs."""
    return _pairs_within(
        vectors.select(id_col, vec_col), [F.size(vec_col)], id_col, vec_col, threshold
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


def lsh_bucketed_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """ANN near-pair search: bucket by random-hyperplane signature (sign
    pattern → bucket id, one matmul per Arrow batch), compare only within
    buckets. Recall < 1 vs brute force (documented tradeoff); at 100 TB
    this replaces an infeasible O(n²) all-pairs with a shuffle-by-bucket
    + per-bucket quadratic on ~n/2^planes rows."""
    planes = _hyperplanes(dim, n_planes, seed)
    id_type = vectors.schema[id_col].dataType.simpleString()
    vec_type = vectors.schema[vec_col].dataType.simpleString()

    def sign_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf, mat = _valid_matrix(pdf, vec_col, dim)
            if mat is None:
                continue
            bits = (mat @ planes.T) >= 0  # (n, planes)
            bucket = bits.dot(1 << np.arange(n_planes)).astype("int64")
            yield pd.DataFrame({id_col: pdf[id_col], vec_col: pdf[vec_col], "bucket": bucket})

    tagged = vectors.select(id_col, vec_col).mapInPandas(
        sign_batches, schema=f"{id_col} {id_type}, {vec_col} {vec_type}, bucket long"
    )
    return _pairs_within(tagged, ["bucket"], id_col, vec_col, threshold)


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
        mat, norms = _stack(pdf[vec_col].to_numpy())
        ids = pdf[id_col].to_numpy()
        window_val = str(pdf[window_col].iloc[0])
        processed = np.zeros(len(ids), dtype=bool)
        out = []
        for i in range(len(ids)):
            if processed[i]:
                continue
            sims = _cosines(mat[i : i + 1], mat, norms)[0]
            members = np.flatnonzero(~processed & (sims >= threshold))
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
