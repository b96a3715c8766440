"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k. The score is a JVM higher-order
  expression (zip_with dot product inside whole-stage codegen — no Python);
  queries are broadcast, so the scan is one pass over the vectors with no
  shuffle until the final per-query top-k window on k·|queries| rows.
- ivf_topk: the scale path. Deterministic seed centroids, one assignment
  pass, then queries probe only the nearest `nprobe` centroid partitions —
  at 10^9 vectors this turns a full scan into nprobe/nlist of a scan. The
  centroid table is tiny and broadcast everywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark.ops.dedup import simhash_near_pairs

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _cosine_expr(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k per query. Returns (query_id, vec_id, rank, cos)."""
    scored = vectors.crossJoin(F.broadcast(queries)).withColumn(
        "cos", F.expr(_cosine_expr(vec_col, query_vec_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cos")
    )


def rh_sig_udf(seed: int = 42):
    """Random-hyperplane signature (Charikar 2002 [pub]): 64 sign bits of
    projections onto seeded Gaussian hyperplanes packed into one BIGINT."""

    @F.pandas_udf("long")
    def _rh_sig(vecs: pd.Series) -> pd.Series:
        # ONE (n, d) @ (d, 64) matmul per Arrow batch — embeddings are
        # fixed-dim, so the whole batch stacks into a contiguous float64
        # matrix; per-row `planes @ x` calls pay n gemv dispatches where a
        # single gemm does the same flops vectorized. Rows of unexpected
        # dimension (mixed-dim columns) fall back to the per-row path.
        state: dict = {"planes": None}

        def planes_for(d: int) -> np.ndarray:
            p = state["planes"]
            if p is None or p.shape[1] != d:
                state["planes"] = p = np.random.default_rng(seed).standard_normal(
                    (64, d)
                )
            return p

        def pack(bits: np.ndarray) -> np.ndarray:
            # bits: (n, 64) bool → signed int64 via two's complement
            weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
            return (bits.astype(np.uint64) * weights[None, :]).sum(
                axis=1, dtype=np.uint64
            ).astype(np.int64)

        n = len(vecs)
        if n == 0:
            return pd.Series([], dtype="int64")
        lens = np.fromiter((len(v) for v in vecs), dtype=np.int64, count=n)
        d = int(lens[0])
        if (lens == d).all():
            # np.stack over the object column is one C pass; measured 2x the
            # per-row gemv path at 5k x 64 (0.039s vs 0.078s per batch)
            x = np.stack(vecs.to_numpy()).astype(np.float64)
            bits = (x @ planes_for(d).T) >= 0
            return pd.Series(pack(bits))

        def one(v) -> int:
            # same gemm kernel as the batched path (x[None,:] @ planes.T),
            # NOT a gemv (planes @ x): BLAS gemm and gemv may block/round a
            # dot product differently, and a projection within rounding
            # error of 0 would then flip a sign bit depending on which path
            # a batch took — signature bits must be path-stable.
            xi = np.asarray(v, dtype=np.float64)
            b = (xi[None, :] @ planes_for(len(xi)).T) >= 0
            return int(pack(b)[0])

        return vecs.map(one)

    return _rh_sig


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    max_hamming: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    num_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: random-hyperplane LSH
    (Charikar 2002 [pub]) — 64 sign bits of projections onto seeded Gaussian
    hyperplanes pack into one BIGINT signature whose hamming distance
    estimates the angle. Candidate pairs are dedup.simhash_near_pairs over
    those signatures (its distinct-signature Manku block-combination join,
    exhaustive for hamming ≤ h by pigeonhole, and its ``num_blocks``
    check). Vectors re-attach once per candidate id pair for the exact
    cosine verify; identical signatures do NOT imply cosine >= threshold,
    so no candidate pair is trusted unverified.

    Recall semantics: exhaustive in signature-hamming, probabilistic in
    cosine — hamming/64 estimates angle/pi, so h=4 targets near-duplicates
    (cos >= ~0.98); raise max_hamming (more, narrower tables) to chase
    looser thresholds, or use brute_force_topk/ivf_topk for general ANN."""
    # localCheckpoint (not persist): the signature UDF pass is referenced
    # several times by the near-pair join (distinct, two id re-attaches,
    # the same-signature self-join) and an unpersisted UDF subtree
    # re-executes per reference. persist() would pin the cache entry for the
    # session lifetime (the CacheManager holds it by plan, not by reference
    # — a leak across a many-query bench session); localCheckpoint blocks
    # are reclaimed by the ContextCleaner once the driver-side reference
    # goes away. eager=False keeps the scan inside the caller's action
    # (honest bench timing); multi-reference dedup is preserved
    # (localCheckpoint caches MEMORY_AND_DISK under the hood).
    sig = vectors.select(
        F.col(id_col).alias("id"), rh_sig_udf(seed)(F.col(vec_col)).alias("simhash")
    ).localCheckpoint(eager=False)
    cand = simhash_near_pairs(
        sig, id_col="id", max_hamming=max_hamming, num_blocks=num_blocks
    )
    vecs = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"),
                              F.col("vec").alias("vec_a")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"),
                          F.col("vec").alias("vec_b")), "id_b")
        .withColumn("cos", F.expr(_cosine_expr("vec_a", "vec_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def ivf_assign(
    vectors: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """One-pass IVF index build: centroids = deterministic hash-ordered
    sample — the nlist vectors with the smallest md5(id) hex string, a
    k-means|| seeding stand-in that is reproducible, makes no assumption
    about id density/contiguity, and triggers no extra action (``orderBy
    ... limit`` plans as TakeOrderedAndProject: per-partition top-nlist,
    driver merge of nlist rows — no full sort shuffle). md5-of-string (not
    xxhash64) so the sample is reproducible in ANSI SQL engines too — the
    whole IVF index build + probe is thereby DuckDB-expressible and the
    driver hash-checks ivf_topk end-to-end (oracle_sql()["ivf_topk"]).
    Each vector then joins its nearest centroid. Returns
    (assigned_vectors, centroids)."""
    sampled = (
        vectors.select(
            F.col(id_col).alias("_cid_src"),
            F.col(vec_col).alias("centroid_vec"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "_cid_src")
        .limit(nlist)
    )
    wc = Window.orderBy("_h", "_cid_src")  # nlist rows: single partition is fine
    centroids = sampled.select(
        (F.row_number().over(wc) - 1).alias("centroid_id"), "centroid_vec"
    )
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "cdist", F.expr(_cosine_expr(vec_col, "centroid_vec"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cdist"), F.col("centroid_id"))
    assigned = (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .select(id_col, vec_col, "centroid_id")
    )
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Probe the nprobe nearest centroids per query, exact-score only those
    partitions. Returns (query_id, vec_id, rank, cos)."""
    qc = queries.crossJoin(F.broadcast(centroids)).withColumn(
        "qdist", F.expr(_cosine_expr(query_vec_col, "centroid_vec"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("qdist"), F.col("centroid_id"))
    probes = (
        qc.withColumn("prank", F.row_number().over(w))
        .filter(F.col("prank") <= nprobe)
        .select(query_id_col, query_vec_col, "centroid_id")
    )
    scored = assigned.join(F.broadcast(probes), "centroid_id").withColumn(
        "cos", F.expr(_cosine_expr(vec_col, query_vec_col))
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cos")
    )
