"""Approximate-nearest-neighbor search over embedding columns.

- brute_force_topk: exact cosine top-k; JVM-side zip_with/aggregate dot
  products (no Python). The O(n^2) baseline — fine for probes/small dims,
  and the correctness oracle for the LSH variant.
- rp_lsh_topk: random-hyperplane (signed random projection) LSH — the
  scale path. Embeddings hash to a `nbits`-bit signature (sign of dot with
  seeded Gaussian hyperplanes, computed in one vectorized pandas UDF);
  Hamming-ball candidate generation reuses the SimHash block-mask
  machinery; exact cosine re-ranks candidates. At 10^12 rows the bucket
  join replaces the quadratic cross join with a shuffle on block keys.
- cosine_dedup_pairs: near-duplicate pairs by cosine >= threshold.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import LongType

from gaoya_spark.config import SimHashConfig
from gaoya_spark.operators._bucket_pairs import join_rows, sid_cross_pairs_from_buckets
from gaoya_spark.operators.simhash_lsh import SimHashLSH

# rp_lsh_topk's bucket limits: a bucket whose probe x index product is
# within _ARRAY_LIMIT^2 is cross-paired by array combinatorics (larger ones
# take the collapsed upper tiers), and a bucket whose index side holds more
# than _BUCKET_CAP rows is excluded; rp_bucket_stats counts those
_ARRAY_LIMIT = 256
_BUCKET_CAP = 100_000


def cosine_col(a, b) -> F.Column:
    """Exact cosine between two array<float|double> columns, JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def brute_force_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, probes: DataFrame | None = None,
) -> DataFrame:
    """(qid, id, cosine) exact top-k per probe (all rows if probes None).
    Deterministic tie-break by id."""
    index = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v_i"))
    probe = (probes or df).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("v_q")
    )
    scored = (
        probe.crossJoin(index)
        .where(F.col("qid") != F.col("id"))
        .withColumn("cosine", cosine_col("v_q", "v_i"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "id", F.round("cosine", 6).alias("cosine"))
    )


def _rp_signature_udf(dim: int, nbits: int, seed: int):
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, nbits))

    @F.pandas_udf(LongType())
    def rp_sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in it:
            m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
            if m.size == 0:
                yield pd.Series([], dtype="int64")
                continue
            bits = (m @ planes) > 0  # (n, nbits)
            weights = (np.uint64(1) << np.arange(nbits, dtype=np.uint64))
            sig = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1, dtype=np.uint64)
            yield pd.Series(sig.view(np.int64))

    return rp_sig


def rp_lsh_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, dim: int = 64, nbits: int = 64, num_blocks: int = 8,
    max_distance: int = 4, seed: int = 17, probes: DataFrame | None = None,
) -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane signature -> Hamming-ball
    candidates (pigeonhole-complete within the ball) -> exact cosine rerank.
    Output schema matches brute_force_topk.

    Candidates flow through the shared bipartite bucket machinery
    (_bucket_pairs.sid_cross_pairs_from_buckets), same as minhash/simhash
    queries: one groupBy over the side-tagged (sid, tk) rows of
    SimHashLSH.sid_tables (null-id rows have none), JVM array
    cross products, hot buckets (over _ARRAY_LIMIT — e.g. a constant or
    near-zero embedding repeated across the corpus hashing every copy to
    one sign pattern) block-joined, buckets whose index side is over
    _BUCKET_CAP excluded. rp_bucket_stats with the same signature
    parameters counts the excluded buckets — the cap is never silent.
    The vectors come back in the joins that restore the ids, one row per
    index row; a null id is in no candidate."""
    cfg = SimHashConfig(nbits=nbits, num_blocks=num_blocks, max_distance=max_distance)
    lsh = SimHashLSH(cfg)
    udf = _rp_signature_udf(dim, nbits, seed)

    def sigs(frame):
        return frame.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            udf(F.col(vec_col)).alias("sig"),
        )

    index, probe = sigs(df), sigs(probes or df)
    cand = sid_cross_pairs_from_buckets(
        lsh.sid_tables(probe).withColumnRenamed("tk", "bk"),
        lsh.sid_tables(index).withColumnRenamed("tk", "bk"),
        array_bucket_limit=_ARRAY_LIMIT, drop_cap=_BUCKET_CAP,
    )
    scored = (
        join_rows(cand.select("qid", "id"), probe, "v", index=index)
        .where(F.col("qid") != F.col("id"))
        .withColumn("cosine", cosine_col("v_a", "v_b"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "id", F.round("cosine", 6).alias("cosine"))
    )


def rp_bucket_stats(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, nbits: int = 64, num_blocks: int = 8,
    max_distance: int = 4, seed: int = 17,
) -> DataFrame:
    """Per-table bucket occupancy stats for the rp_lsh_topk index of df
    (SimHashLSH.bucket_stats' columns over the same signatures and table
    keys): n_dropped counts the buckets holding more than _BUCKET_CAP
    index rows, the ones rp_lsh_topk excludes — the recorded-skew
    companion of the candidate cap."""
    cfg = SimHashConfig(nbits=nbits, num_blocks=num_blocks, max_distance=max_distance)
    lsh = SimHashLSH(cfg)
    udf = _rp_signature_udf(dim, nbits, seed)
    sig_df = df.select(
        F.col(id_col).alias("id"), udf(F.col(vec_col)).alias("sig")
    )
    return lsh._table_stats(sig_df, _BUCKET_CAP)


def _kmeans_fit(sample: np.ndarray, n_cells: int, seed: int, iters: int = 12,
                restarts: int = 4) -> np.ndarray:
    """Driver-side numpy k-means (k-means|| would replace this on a real
    cluster; the centroid count is small so a sampled fit is standard IVF
    practice). Returns L2-normalized centroids (n_cells x dim).

    Weakly-clustered corpora make a single init luck-sensitive (one
    unlucky draw seeding two centroids in one cluster measured 21/40
    top-1 recall on the embeddings fixture), so the fit runs `restarts`
    deterministic inits — greedy farthest-point from row 0, plus seeded
    uniform draws — and keeps the centroids with the best quantization
    objective (mean max-affinity), the standard n_init defense."""
    k = min(n_cells, len(sample))

    def lloyd(cent):
        for _ in range(iters):
            d = sample @ cent.T  # cosine affinity on normalized rows
            assign = d.argmax(axis=1)
            for c in range(len(cent)):
                members = sample[assign == c]
                if len(members):
                    m = members.mean(axis=0)
                    n = np.linalg.norm(m)
                    if n > 0:
                        cent[c] = m / n
        return cent

    inits = []
    chosen = [0]
    best_aff = sample @ sample[0]
    for _ in range(k - 1):
        nxt = int(np.argmin(best_aff))
        chosen.append(nxt)
        best_aff = np.maximum(best_aff, sample @ sample[nxt])
    inits.append(sample[chosen].copy())
    for r in range(1, restarts):
        rng = np.random.default_rng(seed + r)
        idx = rng.choice(len(sample), size=k, replace=False)
        inits.append(sample[idx].copy())

    best_cent, best_obj = None, -np.inf
    for cent in inits:
        cent = lloyd(cent)
        obj = (sample @ cent.T).max(axis=1).mean()
        if obj > best_obj:
            best_cent, best_obj = cent, obj
    return best_cent


def ivf_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_cells: int = 16, nprobe: int = 3, seed: int = 23,
    sample_limit: int = 50_000, probes: DataFrame | None = None,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF ANN: sampled k-means centroids (broadcast) -> each vector assigned
    to its nearest cell -> probes search their nprobe nearest cells ->
    exact cosine rerank. The cross join of the brute-force path becomes an
    equi-join on cell id — the 10^12-scale strategy (candidates shrink by
    ~n_cells/nprobe).

    centroids: optional pretrained (n_cells x dim) array — the standard
    at-scale workflow (fit once on a sample, reuse across runs/partitions);
    skips the sampling + k-means fit. Assignment ranks by affinity to the
    centroids AS GIVEN (cosine argmax is invariant to the data vector's
    norm, so unnormalized centroids simply weight cells by their length —
    pass unit vectors for pure cosine cells)."""
    if centroids is not None:
        cent = np.asarray(centroids, dtype=np.float64)
    else:
        # seeded pseudo-random sample WITHOUT a full-table count: order by a
        # seeded row hash and take the lowest sample_limit — Spark plans
        # this as TakeOrderedAndProject (per-partition heap + driver merge),
        # one pass, no extra Aggregate job, and unbiased on sorted/
        # clustered-by-ingest data (plain limit() would take the first
        # partitions). Hashing the id makes the order total, so the sample
        # is deterministic under any partitioning.
        sample_pdf = (
            df.select(vec_col, F.col(id_col))
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(sample_limit)
            .toPandas()
        )
        sample = np.array(
            [np.asarray(v, dtype=np.float64) for v in sample_pdf[vec_col]]
        )
        norms = np.linalg.norm(sample, axis=1, keepdims=True)
        norms[norms == 0] = 1
        cent = _kmeans_fit(sample / norms, n_cells, seed)

    def _assign_udf(n_take: int):
        @F.pandas_udf("array<int>")
        def assign(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for vecs in it:
                m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
                if m.size == 0:
                    yield pd.Series([], dtype=object)
                    continue
                # no per-row normalization: cell argmax is invariant to
                # dividing a row's affinities by its (positive) norm, and
                # skipping it keeps integer-quantized inputs' affinities
                # exact integer dots — bit-for-bit reproducible against the
                # SQL oracle's integer ranking (no FP-rounding tie merges)
                aff = m @ cent.T
                # stable: exact affinity ties resolve to the lower cell
                # index deterministically (cross-engine reproducible)
                order = np.argsort(-aff, axis=1, kind="stable")[:, :n_take].astype(np.int32)
                yield pd.Series(list(order))

        return assign

    index = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v_i"),
        F.element_at(_assign_udf(1)(F.col(vec_col)), 1).alias("cell"),
    )
    probe = (probes or df).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("v_q"),
        F.explode(_assign_udf(nprobe)(F.col(vec_col))).alias("cell"),
    )
    scored = (
        probe.join(index, "cell")
        .where(F.col("qid") != F.col("id"))
        .withColumn("cosine", cosine_col("v_q", "v_i"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "id", F.round("cosine", 6).alias("cosine"))
    )


def cosine_dedup_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, use_lsh: bool = True,
) -> DataFrame:
    """(src, dst, cosine) embedding near-duplicate pairs, src < dst. No
    window sort — a plain threshold filter over candidates: rp_lsh_topk's
    default signatures and Hamming-ball tables (use_lsh), whose vectors
    come back in the joins that restore the ids, or a cross join. Each id
    pair comes once, at the largest cosine of its row pairs."""
    if use_lsh:
        lsh = SimHashLSH(SimHashConfig(nbits=64, num_blocks=8, max_distance=4))
        sigs = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            _rp_signature_udf(64, 64, 17)(F.col(vec_col)).alias("sig"),
        )
        scored = join_rows(lsh._sid_dist_pairs(sigs).select("src", "dst"), sigs, "v")
    else:
        s = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        scored = (
            s.alias("a").crossJoin(s.alias("b"))
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("src"), F.col("b.id").alias("dst"),
                F.col("a.v").alias("v_a"), F.col("b.v").alias("v_b"),
            )
        )
    return (
        scored.withColumn("cosine", F.round(cosine_col("v_a", "v_b"), 6))
        .where(F.col("cosine") >= threshold)
        .groupBy("src", "dst")
        .agg(F.max("cosine").alias("cosine"))
    )
