"""High-level dedup facade: one entry point per dedup strategy a
training-data pipeline needs (brief: exact, MinHash LSH, SimHash,
n-gram jaccard, embedding cosine).

Each returns either representative rows (keep-first) or (src, dst, score)
pairs; all compose with operators.cluster.connected_components for group
assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gaoya_spark.config import MinHashConfig, SimHashConfig
from gaoya_spark.operators.cluster import connected_components
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.operators.simhash_lsh import SimHashLSH


def exact_dedup(df: DataFrame, id_col: str, text_col: str,
                normalize: bool = False) -> DataFrame:
    """Keep-first exact dedup: one representative (smallest id) per distinct
    text; grouping key is a 128-bit hash so the shuffle never carries full
    documents."""
    key = F.md5(F.lower(F.col(text_col))) if normalize else F.md5(F.col(text_col))
    keep = (
        df.select(F.col(id_col), key.alias("_k"))
        .groupBy("_k")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def exact_dup_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    d = df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("_k"))
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, "_k")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str,
    cfg: MinHashConfig | None = None, phash_col: str | None = None,
    keep: str = "pairs",
) -> DataFrame:
    """MinHash-LSH near-dedup. keep: 'pairs' -> (src, dst, sim);
    'labels' -> (id, component); 'first' -> surviving rows (smallest id per
    component)."""
    lsh = MinHashLSH(cfg or MinHashConfig())
    sigs = lsh.signatures(df, id_col, text_col, phash_col=phash_col)
    pairs = lsh.dedup_pairs(sigs, keep_sim=(keep == "pairs"))
    if keep == "pairs":
        return pairs
    return _labels_or_first(df, id_col, pairs, keep)


def simhash_dedup(
    df: DataFrame, id_col: str, text_col: str,
    cfg: SimHashConfig | None = None, phash_col: str | None = None,
    keep: str = "pairs",
) -> DataFrame:
    lsh = SimHashLSH(cfg or SimHashConfig())
    sigs = lsh.signatures(df, id_col, text_col, phash_col=phash_col)
    pairs = lsh.dedup_pairs(sigs)
    if keep == "pairs":
        return pairs
    return _labels_or_first(df, id_col, pairs, keep)


def _labels_or_first(df: DataFrame, id_col: str, pairs: DataFrame,
                     keep: str) -> DataFrame:
    """The keep='labels' | 'first' tail of the LSH dedups: (id, component)
    labels of the pair graph over df's ids, or the surviving rows of df
    (smallest id per component)."""
    labels = connected_components(
        pairs.select("src", "dst"), nodes=df.select(id_col)
    )
    if keep == "labels":
        return labels
    if keep == "first":
        reps = labels.groupBy("component").agg(F.min("id").alias(id_col)).select(id_col)
        return df.join(reps, id_col, "left_semi")
    raise ValueError(f"keep must be pairs|labels|first, got {keep}")


def ngram_jaccard_dedup(
    df: DataFrame, id_col: str, text_col: str,
    n: int = 3, threshold: float = 0.8,
) -> DataFrame:
    from gaoya_spark.operators.text import ngram_jaccard_pairs

    return ngram_jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)


def embedding_dedup(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, use_lsh: bool = True,
) -> DataFrame:
    from gaoya_spark.operators.ann import cosine_dedup_pairs

    return cosine_dedup_pairs(df, id_col, vec_col, threshold, use_lsh=use_lsh)
