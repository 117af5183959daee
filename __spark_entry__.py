"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship near-dup clustering pipeline on sf0.001.
queries()         — one callable per implemented operator (SURVEY.md §2).
oracle_sql()      — DuckDB-equivalent ANSI SQL for each query.

Cross-engine determinism: oracle-checked LSH queries use the md5_60 token
hash (identical in Spark `conv(substr(md5(x),1,15),16,10)` and DuckDB
`('0x'||substr(md5(x),1,15))::bigint`) and the "modp" signature formula
(wide-int64 affine mod 2^31-1, exactly expressible in ANSI SQL). The
engine's fast default (FNV-1a + u32-wrapping gaoya formula) is exercised by
pytest and bench instead, where bit-identical SQL is not required.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from gaoya_spark import hashing
from gaoya_spark.config import MinHashConfig, SimHashConfig, TokenizerSpec
from gaoya_spark.operators.cluster import connected_components
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.operators.simhash_lsh import SimHashLSH

# ---------------------------------------------------------------------------
# shared oracle-parity config: word tokens split on single space (the
# documents table is single-space separated), md5_60 token hash, modp
# formula, 16 hashes = 4 bands x 4 rows.
# ---------------------------------------------------------------------------

_SPACE_TOKENIZER = TokenizerSpec(
    analyzer=lambda s: [t for t in s.split(" ") if t]
)

ORACLE_MINHASH = MinHashConfig(
    num_bands=4,
    band_width=4,
    threshold=0.5,
    hash_size=32,
    tokenizer=_SPACE_TOKENIZER,
    token_hasher="md5_60",
    formula="modp",
    seed=3,
)

_A, _B = hashing.minhash_permutations(ORACLE_MINHASH.num_hashes, ORACLE_MINHASH.seed, False)
_P = (1 << 31) - 1

# engine-default config for the flagship pipeline (fast FNV path)
FLAGSHIP_MINHASH = MinHashConfig(
    num_bands=42,
    band_width=3,
    threshold=0.5,
    tokenizer=TokenizerSpec(kind="word", n_from=1, n_to=1, lowercase=True),
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Near-duplicate clustering of sf0.001 documents: MinHash signatures ->
    banded LSH candidate pairs -> signature verify -> connected components.
    Returns (doc_id, component, cluster_size) for every document."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    lsh = MinHashLSH(FLAGSHIP_MINHASH)
    sigs = lsh.signatures(docs, "doc_id", "text")
    pairs = lsh.dedup_pairs(sigs)
    labels = connected_components(
        pairs, nodes=docs.select("doc_id"), max_iter=20
    )
    sizes = labels.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "component")
        .select(F.col("id").alias("doc_id"), "component", "cluster_size")
    )


# ---------------------------------------------------------------------------
# oracle-checked queries
# ---------------------------------------------------------------------------

def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(toks).cast("long").alias("n_tokens")
    )


def _q_exact_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, F.col("a.text") == F.col("b.text"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )


def _q_exact_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-smallest-id: representative row per distinct text."""
    d = _docs(spark, sf_dir)
    return d.groupBy("text").agg(F.min("doc_id").alias("keep_id")).select("keep_id")


def _minhash_sigs_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsh = MinHashLSH(ORACLE_MINHASH)
    return lsh.signatures(_docs(spark, sf_dir), "doc_id", "text")


def _q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 signature positions as scalar columns (cross-engine digest)."""
    sigs = _minhash_sigs_oracle(spark, sf_dir)
    return sigs.select(
        F.col("id").alias("doc_id"),
        *[F.col("sig")[i].cast("long").alias(f"mh{i}") for i in range(4)],
    )


def _q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs verified at jaccard-estimate >= 0.5 (Q2)."""
    lsh = MinHashLSH(ORACLE_MINHASH)
    sigs = _minhash_sigs_oracle(spark, sf_dir)
    return lsh.dedup_pairs(sigs).select(
        "src", "dst", F.round("sim", 6).alias("sim")
    )


ORACLE_SIMHASH = SimHashConfig(
    nbits=32,
    num_blocks=6,
    max_distance=5,
    tokenizer=_SPACE_TOKENIZER,
    token_hasher="md5_60",
)


def _q_simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsh = SimHashLSH(ORACLE_SIMHASH)
    return lsh.signatures(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("sig").alias("simhash")
    )


def _q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-ball LSH pairs, dist strictly < 5 (Q8 semantics). The block
    enumeration is pigeonhole-complete, so results equal the all-pairs scan
    the oracle runs."""
    lsh = SimHashLSH(ORACLE_SIMHASH)
    sigs = lsh.signatures(_docs(spark, sf_dir), "doc_id", "text")
    return lsh.dedup_pairs(sigs).select("src", "dst", F.col("dist").cast("long").alias("dist"))


ORACLE_SIMHASH128 = SimHashConfig(
    nbits=128,
    num_blocks=12,
    max_distance=9,
    tokenizer=_SPACE_TOKENIZER,
    token_hasher="md5_60",
)


def _q_minhash_dedup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM shuffle-verify dedup path without sims
    (dedup_pairs(keep_sim=False, numpy_verify=False); by default a table
    this small would take the numpy kernel): every band candidate joins
    its packed signatures and is kept when its exact sim clears the
    threshold, the filter the keep_sim=True call applies. The oracle
    computes the fully-verified pair set — the two must be identical."""
    lsh = MinHashLSH(ORACLE_MINHASH)
    sigs = _minhash_sigs_oracle(spark, sf_dir)
    return lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False)


def _q_minhash_dedup_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default size-routed dedup path (dedup_pairs(keep_sim=False)):
    a table this small fits one broadcast, so the band-sharded numpy
    kernel runs — each task builds the buckets of its share of the bands
    from the broadcast signature matrix, verifies them and emits the
    pairs' ids from the same broadcast — exactly the fully-verified pair
    set the oracle computes."""
    lsh = MinHashLSH(ORACLE_MINHASH)
    sigs = _minhash_sigs_oracle(spark, sf_dir)
    return lsh.dedup_pairs(sigs, keep_sim=False)


def _q_minhash_dedup_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named for the fused bucket kernel, which has been deleted: the
    broadcast regime has one kernel, so this query runs the default
    route, the band-sharded numpy kernel, like minhash_dedup_numpy. Its
    oracle is the fully-verified pair set every dedup route returns."""
    lsh = MinHashLSH(ORACLE_MINHASH)
    sigs = _minhash_sigs_oracle(spark, sf_dir)
    return lsh.dedup_pairs(sigs, keep_sim=False)


def _q_simhash_hamming_angle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16 hamming_angle (simhash/mod.rs:77-80) over the Hamming-ball
    pairs: angle = dist * pi / nbits, computed by hamming_angle_col on the
    joined signatures."""
    from gaoya_spark.functions.similarity import hamming_angle_col

    lsh = SimHashLSH(ORACLE_SIMHASH)
    sigs = lsh.signatures(_docs(spark, sf_dir), "doc_id", "text")
    pairs = lsh.dedup_pairs(sigs)
    sa = sigs.select(F.col("id").alias("src"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("dst"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "src")
        .join(sb, "dst")
        .select(
            "src",
            "dst",
            F.round(hamming_angle_col("sig_a", "sig_b", ORACLE_SIMHASH.nbits), 6).alias(
                "angle"
            ),
        )
    )


def _q_simhash_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per-probe top-3 by distance asc (the distributed form of
    sim_hash_index.rs:203's distance-sorted match list): every 50th doc
    probes the index; the Hamming-ball enumeration is pigeonhole-complete,
    so candidates equal the oracle's all-pairs scan within dist < 5."""
    lsh = SimHashLSH(ORACLE_SIMHASH)
    sigs = lsh.signatures(_docs(spark, sf_dir), "doc_id", "text")
    probes = sigs.where(F.col("id") % 50 == 0)
    return lsh.query_top_k(sigs, probes, k=3).select(
        "qid", "id", F.col("dist").cast("long").alias("dist")
    )


def _q_simhash128_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit SimHash (reference benchmark config family, lsh_bench.rs:
    73-110) as two BIGINT words; md5-window token hashing keeps both words
    SQL-expressible."""
    lsh = SimHashLSH(ORACLE_SIMHASH128)
    return lsh.signatures(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").alias("doc_id"),
        F.col("sig")[0].alias("w0"),
        F.col("sig")[1].alias("w1"),
    )


def _q_simhash128_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit Hamming-ball LSH pairs, dist strictly < 9; pigeonhole-complete
    masks make the banded result equal the oracle's all-pairs scan."""
    lsh = SimHashLSH(ORACLE_SIMHASH128)
    sigs = lsh.signatures(_docs(spark, sf_dir), "doc_id", "text")
    return lsh.dedup_pairs(sigs).select(
        "src", "dst", F.col("dist").cast("long").alias("dist")
    )


def _q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaoya_spark.operators.text import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.62
    )


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaoya_spark.operators.text import quality_score

    return quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "mean_word_len",
        "distinct_ratio", "quality_score",
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaoya_spark.operators.text import lang_id

    return lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaoya_spark.operators.text import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fp_min", "fp_max")


def _q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaoya_spark.operators.substring import substring_pairs

    return substring_pairs(
        _docs(spark, sf_dir), "doc_id", "text", min_len=24
    ).select("src", "dst")


def _q_minhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 probe semantics: every 50th doc queries the full index, matches
    at estimate >= 0.5 (includes the probe's own row)."""
    lsh = MinHashLSH(ORACLE_MINHASH)
    sigs = _minhash_sigs_oracle(spark, sf_dir)
    probes = sigs.where(F.col("id") % 50 == 0)
    return lsh.query(sigs, probes, keep_sim=True).select(
        "qid", "id", F.round("sim", 6).alias("sim")
    )


def _q_minhash_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: unfiltered top-5 per probe by similarity desc, id asc."""
    lsh = MinHashLSH(ORACLE_MINHASH)
    sigs = _minhash_sigs_oracle(spark, sf_dir)
    probes = sigs.where(F.col("id") % 50 == 0)
    return lsh.query_top_k(sigs, probes, 5).select(
        "qid", "id", F.round("sim", 6).alias("sim")
    )


def _q_minhash_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P18 per-position mode over each source-group's signatures."""
    lsh = MinHashLSH(ORACLE_MINHASH)
    docs = _docs(spark, sf_dir)
    sigs = lsh.signatures(docs, "doc_id", "text").join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    cent = lsh.minhash_centroid(sigs, "source")
    return cent.select(
        "source", F.posexplode("centroid").alias("pos", "val")
    ).select("source", "pos", F.col("val").cast("long").alias("val"))


def _q_minhash_band_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P19 per-band mode: most frequent full band slice per (group, band),
    concatenated (mod.rs:188-214 via calculate_centroid)."""
    lsh = MinHashLSH(ORACLE_MINHASH)
    docs = _docs(spark, sf_dir)
    sigs = lsh.signatures(docs, "doc_id", "text").join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    cent = lsh.minhash_band_centroid(sigs, "source")
    return cent.select(
        "source", F.posexplode("centroid").alias("pos", "val")
    ).select("source", "pos", F.col("val").cast("long").alias("val"))


def _q_components_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: connected components over exact n-gram-jaccard edges (>= 0.8)."""
    from gaoya_spark.operators.text import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    edges = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    labels = connected_components(edges, nodes=docs.select("doc_id"), max_iter=30)
    return labels.select(F.col("id").alias("doc_id"), "component")


def _q_components_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 via the alternating large-star/small-star algorithm (Kiveris et
    al. SoCC'14) — same edges and same oracle as components_ngram, so the
    O(log n)-round path is held to the identical label contract as label
    propagation."""
    from gaoya_spark.operators.text import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    edges = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    labels = connected_components(
        edges, nodes=docs.select("doc_id"), max_iter=30,
        driver_threshold=0, algorithm="twophase",
    )
    return labels.select(F.col("id").alias("doc_id"), "component")


def _q_simhash_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P20 SimHash::create_centroid (sim_hash.rs:57-78): per-bit majority
    vote over each source-group's signatures, set when ones strictly
    outnumber half the members."""
    lsh = SimHashLSH(ORACLE_SIMHASH)
    docs = _docs(spark, sf_dir)
    sigs = lsh.signatures(docs, "doc_id", "text").join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    return lsh.centroid(sigs, "source").select("source", "centroid")


def _q_minhash_query_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 query_one (minhash_index.rs:542): best match per probe at STRICT
    sim > threshold, deterministic tie-break by id."""
    lsh = MinHashLSH(ORACLE_MINHASH)
    sigs = _minhash_sigs_oracle(spark, sf_dir)
    probes = sigs.where(F.col("id") % 50 == 0)
    return lsh.query_one(sigs, probes).select(
        "qid", "id", F.round("sim", 6).alias("sim")
    )


def _q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 per probe over 1e-3-quantized embeddings
    (integer dot products -> bit-identical across engines)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")).alias("qv"),
    )
    probes = q.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("pv")
    )
    dot = F.aggregate(F.zip_with("pv", "qv", lambda a, b: a * b), F.lit(0).cast("long"), lambda acc, v: acc + v)
    na = F.aggregate("pv", F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    nb = F.aggregate("qv", F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    scored = (
        probes.crossJoin(q)
        .where(F.col("qid") != F.col("vec_id"))
        .withColumn("cosine", F.round(dot / F.sqrt((na * nb).cast("double")), 6))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("qid", F.col("vec_id").alias("id"), "cosine")
    )


_IVF_CENT_IDS = [1, 7, 13, 19]


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with pretrained centroids over 1e-3-quantized embeddings:
    each vector is assigned to its max-affinity centroid (integer dots —
    exact across engines; ties -> lowest cell), probes search their 2
    nearest cells, exact cosine reranks top-3. Centroids are the quantized
    embeddings of four fixed rows, so the whole path is SQL-expressible."""
    import numpy as np

    from gaoya_spark.operators.ann import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000).cast("long").cast("double"),
        ).alias("qv"),
    )
    cent_rows = (
        q.where(F.col("vec_id").isin(_IVF_CENT_IDS)).orderBy("vec_id").collect()
    )
    cent = np.array([r["qv"] for r in cent_rows], dtype=np.float64)
    probes = q.where(F.col("vec_id") % 25 == 0)
    return ivf_topk(
        q, "vec_id", "qv", k=3, nprobe=2, probes=probes, centroids=cent
    )


def _sql_ivf_topk() -> str:
    ids = ", ".join(str(i) for i in _IVF_CENT_IDS)
    return (
        "WITH q AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)::DOUBLE) AS qv FROM embeddings), "
        f"c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, qv AS cv "
        f"FROM q WHERE vec_id IN ({ids})), "
        "a AS (SELECT q.vec_id, c.cidx, list_dot_product(q.qv, c.cv) AS aff FROM q, c), "
        "r AS (SELECT vec_id, cidx, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY aff DESC, cidx ASC) AS rn FROM a), "
        "cell AS (SELECT vec_id, cidx AS cell FROM r WHERE rn = 1), "
        "pcell AS (SELECT vec_id, cidx AS cell FROM r WHERE rn <= 2 AND vec_id % 25 = 0), "
        "s AS (SELECT p.vec_id AS qid, x.vec_id AS id, "
        "list_dot_product(qp.qv, qx.qv) / "
        "(sqrt(list_dot_product(qp.qv, qp.qv)) * sqrt(list_dot_product(qx.qv, qx.qv))) AS cos "
        "FROM pcell p JOIN cell x ON p.cell = x.cell AND p.vec_id <> x.vec_id "
        "JOIN q qp ON qp.vec_id = p.vec_id JOIN q qx ON qx.vec_id = x.vec_id), "
        "rr AS (SELECT qid, id, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, id ASC) AS rn FROM s) "
        "SELECT qid, id, round(cos, 6) AS cosine FROM rr WHERE rn <= 3"
    )


def _q_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gaoya_spark.operators.text import bpe_token_estimate

    return bpe_token_estimate(_docs(spark, sf_dir)).select(
        "doc_id", "n_word_tokens", "n_symbol_tokens", "bpe_token_estimate"
    )


def _q_minhash_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: banded LSH pairs (sim >= 0.5) -> connected
    components -> keep the smallest id per component. Validates the full
    signatures -> candidates -> verify -> clustering -> representative
    pipeline against a recursive-CTE SQL oracle."""
    docs = _docs(spark, sf_dir)
    lsh = MinHashLSH(ORACLE_MINHASH)
    sigs = lsh.signatures(docs, "doc_id", "text")
    pairs = lsh.dedup_pairs(sigs).select("src", "dst")
    labels = connected_components(pairs, nodes=docs.select("doc_id"), max_iter=30)
    return labels.select(F.col("component").alias("keep_id")).distinct()


def _q_embedding_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.4, src < dst)
    over 1e-3-quantized embeddings — the exact-pairs oracle for the cosine
    dedup operator family (ann.cosine_dedup_pairs' brute-force path)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("qv"),
    )
    a = q.select(F.col("vec_id").alias("src"), F.col("qv").alias("va"))
    b = q.select(F.col("vec_id").alias("dst"), F.col("qv").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    na = F.aggregate("va", F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    nb = F.aggregate("vb", F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    return (
        a.crossJoin(b)
        .where(F.col("src") < F.col("dst"))
        .withColumn("cosine", F.round(dot / F.sqrt((na * nb).cast("double")), 6))
        .where(F.col("cosine") >= 0.4)
        .select("src", "dst", "cosine")
    )


def _q_star_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-C3 distributed greedy-star clustering (clusterer_parallel.rs:
    165-291) on a structured deterministic fixture: doc_ids partition into
    12-member families (f = doc_id // 12, idx = doc_id % 12; only complete
    families participate). Within a family, idx 0 hubs a 5-spoke star
    (idx 2-6) plus a bridge (idx 7); idx 1 hubs a 3-spoke star (idx 8-10)
    and also touches the bridge; idx 11 is isolated (the unassigned
    remainder). Degrees are 6 (hub A), 4 (hub B), 2 (bridge), 1 (spokes):
    both hubs are locally dominant in round one, and the bridge — adjacent
    to BOTH centers — must join the higher-degree hub A, exercising the
    highest-priority-claim rule the sequential degree-sorted greedy
    implies. The oracle is that closed-form assignment."""
    from gaoya_spark.operators.star_cluster import star_clusters

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("doc_id") / 12).alias("f"),
        (F.col("doc_id") % 12).alias("idx"),
    )
    ok = d.groupBy("f").agg(F.count("*").alias("n")).where("n = 12").select("f")
    m = d.join(ok, "f")
    ea = (
        m.where(F.col("idx") == 0).select("f", F.col("doc_id").alias("src"))
        .join(m.where(F.col("idx").isin(2, 3, 4, 5, 6, 7)).select("f", F.col("doc_id").alias("dst")), "f")
    )
    eb = (
        m.where(F.col("idx") == 1).select("f", F.col("doc_id").alias("src"))
        .join(m.where(F.col("idx").isin(7, 8, 9, 10)).select("f", F.col("doc_id").alias("dst")), "f")
    )
    edges = ea.unionByName(eb).select("src", "dst")
    return star_clusters(edges).select(
        F.col("id").cast("long").alias("id"),
        F.col("center").cast("long").alias("center"),
    )


def _sql_star_cluster() -> str:
    return (
        "WITH fam AS (SELECT doc_id, doc_id // 12 AS f, doc_id % 12 AS idx "
        "FROM documents), "
        "ok AS (SELECT f FROM fam GROUP BY f HAVING count(*) = 12), "
        "m AS (SELECT fam.doc_id, fam.f, fam.idx FROM fam JOIN ok USING (f)) "
        "SELECT CAST(doc_id AS BIGINT) AS id, "
        "CAST(CASE WHEN idx IN (0,2,3,4,5,6,7) THEN f * 12 "
        "ELSE f * 12 + 1 END AS BIGINT) AS center "
        "FROM m WHERE idx <> 11"
    )


def _q_stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful first-seen dedup (streaming/stateful.py,
    applyInPandasWithState) replayed deterministically: the documents table
    plus planted exact-duplicate clones (doc_id + 10000, same text) are
    written as one parquet file per 100-doc batch with ascending mtimes;
    an availableNow stream with maxFilesPerTrigger=1 feeds them through
    first_seen_stream in batch order. Every clone batch arrives after its
    originals, so the state store must drop all 500 clones — the oracle is
    the equivalent window dedup (first row per text by batch, doc_id).

    Driver-side fixture writing is test plumbing, not a scale path: the
    operator under test is the distributed stateful stream itself."""
    import glob
    import shutil
    import tempfile

    from gaoya_spark.streaming.stateful import first_seen_stream

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    both = docs.unionByName(
        docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    ).withColumn("batch", F.floor(F.col("doc_id") / 100))
    base = tempfile.mkdtemp(prefix="gaoya_stream_oracle_")
    src_dir = os.path.join(base, "src")
    os.makedirs(src_dir)
    pdf = both.toPandas().sort_values(["batch", "doc_id"])
    for i, b in enumerate(sorted(pdf["batch"].unique())):
        p = os.path.join(src_dir, f"batch_{i:04d}.parquet")
        pdf[pdf["batch"] == b][["doc_id", "text"]].to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i * 60, 1_000_000 + i * 60))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    deduped = first_seen_stream(stream, id_col="doc_id", text_col="text")
    import uuid

    qname = f"first_seen_oracle_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(qname).select("doc_id").cache()
    out.count()
    shutil.rmtree(base, ignore_errors=True)
    return out


def _q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming incremental near-dup detection
    (streaming/stream_dedup.py) replayed deterministically: the documents
    table arrives in doc_id-ordered micro-batches of 100 (one parquet
    file per batch, ascending mtimes, availableNow +
    maxFilesPerTrigger=1). Each batch's edges come from one probe of the
    batch against the standing index plus the batch itself, as
    (least, greatest) pairs, so a pair is discovered exactly when its
    later member arrives — after the full replay the
    batch-partitioned edge table must equal the BATCH-mode answer: every
    verified pair over the whole corpus. Oracle: the same banded-LSH +
    signature-verify SQL as minhash_band_pairs, pair set only.

    Driver-side fixture writing is test plumbing; the operator under test
    is the foreachBatch stream (warehouse-backed state, batch-id
    idempotent writes) itself."""
    import shutil
    import tempfile

    from gaoya_spark.sources.warehouse import Warehouse
    from gaoya_spark.streaming.stream_dedup import StreamingDedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="gaoya_stream_inc_")
    src_dir = os.path.join(base, "src")
    os.makedirs(src_dir)
    pdf = docs.toPandas().sort_values("doc_id")
    bsize = 100
    for i in range(0, len(pdf), bsize):
        p = os.path.join(src_dir, f"batch_{i // bsize:04d}.parquet")
        pdf.iloc[i:i + bsize].to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i * 60, 1_000_000 + i * 60))
    wh = Warehouse(spark, os.path.join(base, "wh"))
    sd = StreamingDedup(
        spark, wh, ORACLE_MINHASH,
        id_col="doc_id", text_col="text", phash_col=None,
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = sd.start(stream, os.path.join(base, "ckpt"))
    q.awaitTermination()
    # stream edges are already (least, greatest) and found once each, the
    # oracle's orientation
    rows = wh.read("stream_edges").select("src", "dst").collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, "src long, dst long")


def _sql_stream_first_seen() -> str:
    return (
        "WITH all_rows AS (SELECT doc_id, text, doc_id // 100 AS batch "
        "FROM documents "
        "UNION ALL SELECT doc_id + 10000, text, (doc_id + 10000) // 100 "
        "FROM documents), "
        "r AS (SELECT doc_id, row_number() OVER "
        "(PARTITION BY text ORDER BY batch, doc_id) AS rn FROM all_rows) "
        "SELECT doc_id FROM r WHERE rn = 1"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "token_count": _q_token_count,
        "exact_dup_pairs": _q_exact_dup_pairs,
        "exact_dedup_keep_first": _q_exact_dedup_keep_first,
        "minhash_signature": _q_minhash_signature,
        "minhash_band_pairs": _q_minhash_band_pairs,
        "minhash_query": _q_minhash_query,
        "minhash_top_k": _q_minhash_top_k,
        "minhash_centroid": _q_minhash_centroid,
        "minhash_band_centroid": _q_minhash_band_centroid,
        "simhash_signature": _q_simhash_signature,
        "simhash_hamming_pairs": _q_simhash_hamming_pairs,
        "simhash_hamming_angle_pairs": _q_simhash_hamming_angle_pairs,
        "simhash_top_k": _q_simhash_top_k,
        "minhash_dedup_fast": _q_minhash_dedup_fast,
        "minhash_dedup_numpy": _q_minhash_dedup_numpy,
        "minhash_dedup_fused": _q_minhash_dedup_fused,
        "simhash128_signature": _q_simhash128_signature,
        "simhash128_hamming_pairs": _q_simhash128_hamming_pairs,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_doc_fingerprint,
        "substring_pairs": _q_substring_pairs,
        "components_ngram": _q_components_ngram,
        "components_twophase": _q_components_twophase,
        "simhash_centroid": _q_simhash_centroid,
        "minhash_query_one": _q_minhash_query_one,
        "embedding_cosine_topk": _q_embedding_cosine_topk,
        "embedding_ivf_topk": _q_ivf_topk,
        "embedding_cosine_dup_pairs": _q_embedding_cosine_dup_pairs,
        "minhash_dedup_keep_first": _q_minhash_dedup_keep_first,
        "bpe_token_estimate": _q_bpe_token_estimate,
        "star_cluster": _q_star_cluster,
        "stream_first_seen": _q_stream_first_seen,
        "stream_incremental_dedup": _q_stream_incremental_dedup,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (same parquet tables, pre-registered views)
# ---------------------------------------------------------------------------

def _sql_tokens_cte() -> str:
    return (
        "toks AS (SELECT doc_id, tok FROM documents, "
        "unnest(string_split(text, ' ')) AS t(tok) WHERE tok <> ''), "
        "th AS (SELECT DISTINCT doc_id, "
        "(('0x' || substr(md5(tok), 1, 15))::BIGINT) % 2147483647 AS h FROM toks)"
    )


def _sql_sig_cte() -> str:
    mins = ", ".join(
        f"min(({int(_A[i])} * h + {int(_B[i])}) % {_P}) AS s{i}"
        for i in range(ORACLE_MINHASH.num_hashes)
    )
    return f"sig AS (SELECT doc_id, {mins} FROM th GROUP BY doc_id)"


def _sql_bands_cte() -> str:
    b, r = ORACLE_MINHASH.num_bands, ORACLE_MINHASH.band_width
    parts = []
    for bi in range(b):
        cols = ", ".join(f"s{bi * r + j}" for j in range(r))
        parts.append(
            f"SELECT doc_id, {bi} AS band_idx, concat_ws('-', {cols}) AS key FROM sig"
        )
    return "bands AS (" + " UNION ALL ".join(parts) + ")"


def _sql_minhash_pairs(with_sim: bool = True) -> str:
    k = ORACLE_MINHASH.num_hashes
    eq = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    sel = f"p.src, p.dst, round(({eq}) / {k}.0, 6) AS sim" if with_sim else "p.src, p.dst"
    return (
        f"WITH {_sql_tokens_cte()}, {_sql_sig_cte()}, {_sql_bands_cte()}, "
        "pairs AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst "
        "FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key "
        "AND a.doc_id < b.doc_id) "
        f"SELECT {sel} "
        "FROM pairs p JOIN sig sa ON p.src = sa.doc_id "
        "JOIN sig sb ON p.dst = sb.doc_id "
        f"WHERE ({eq}) / {k}.0 >= {ORACLE_MINHASH.threshold}"
    )


_MD5_60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def _sql_toks_all() -> str:
    """All space tokens per doc, duplicates preserved (simhash votes count
    repeated tokens, mirroring the reference's iterator semantics)."""
    return (
        "toks_all AS (SELECT doc_id, tok FROM documents, "
        "unnest(string_split(text, ' ')) AS t(tok) WHERE tok <> '')"
    )


def _sql_simhash_sig() -> str:
    h = _MD5_60.format(x="tok")
    return (
        f"{_sql_toks_all()}, "
        f"h_all AS (SELECT doc_id, {h} AS h FROM toks_all), "
        "votes AS (SELECT doc_id, b.b AS bit, "
        "sum(CASE WHEN (h >> b.b) & 1 = 0 THEN 1 ELSE -1 END) AS v "
        "FROM h_all, range(0, 32) AS b(b) GROUP BY doc_id, b.b), "
        "simsig AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) "
        "ELSE 0 END) AS BIGINT) AS simhash FROM votes GROUP BY doc_id)"
    )


def _sql_simhash128_sig() -> str:
    h0 = _MD5_60.format(x="tok")
    h1 = "(('0x' || substr(md5(tok), 16, 15))::BIGINT)"
    two63 = "(1::HUGEINT << 63)"
    two64 = "(1::HUGEINT << 64)"
    tc = (
        "CAST(CASE WHEN {r} >= " + two63 + " THEN {r} - " + two64 +
        " ELSE {r} END AS BIGINT)"
    )
    return (
        f"{_sql_toks_all()}, "
        f"h128 AS (SELECT doc_id, {h0} AS h0, {h1} AS h1 FROM toks_all), "
        "v128 AS (SELECT doc_id, b.b AS bit, "
        "sum(CASE WHEN (h0 >> b.b) & 1 = 0 THEN 1 ELSE -1 END) AS v0, "
        "sum(CASE WHEN (h1 >> b.b) & 1 = 0 THEN 1 ELSE -1 END) AS v1 "
        "FROM h128, range(0, 64) AS b(b) GROUP BY doc_id, b.b), "
        "r128 AS (SELECT doc_id, "
        "sum(CASE WHEN v0 > 0 THEN (1::HUGEINT << bit) ELSE 0 END) AS r0, "
        "sum(CASE WHEN v1 > 0 THEN (1::HUGEINT << bit) ELSE 0 END) AS r1 "
        "FROM v128 GROUP BY doc_id), "
        "sig128 AS (SELECT d.doc_id, "
        f"coalesce({tc.format(r='r0')}, 0) AS w0, "
        f"coalesce({tc.format(r='r1')}, 0) AS w1 "
        "FROM documents d LEFT JOIN r128 USING (doc_id))"
    )


def _sql_simhash128_pairs(max_distance: int = 9) -> str:
    dist = "bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))"
    return (
        f"WITH {_sql_simhash128_sig()} "
        f"SELECT a.doc_id AS src, b.doc_id AS dst, CAST({dist} AS BIGINT) AS dist "
        "FROM sig128 a JOIN sig128 b ON a.doc_id < b.doc_id "
        f"WHERE {dist} < {max_distance}"
    )


def _sql_ngram_ctes(threshold: float) -> str:
    return (
        "g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(text) - 1), "
        "i -> substr(text, i, 3))) AS s FROM documents WHERE len(text) >= 3), "
        "g AS (SELECT DISTINCT doc_id, s FROM g0), "
        "sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS i "
        "FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "jac AS (SELECT src, dst, round(i / (na.n + nb.n - i), 6) AS jaccard "
        "FROM inter JOIN sz na ON src = na.doc_id JOIN sz nb ON dst = nb.doc_id "
        f"WHERE round(i / (na.n + nb.n - i), 6) >= {threshold})"
    )


def _sql_query_probes(mod: int = 50) -> str:
    k = ORACLE_MINHASH.num_hashes
    eq = " + ".join(f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(k))
    return (
        f"WITH {_sql_tokens_cte()}, {_sql_sig_cte()}, {_sql_bands_cte()}, "
        "cand AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS id FROM bands a "
        "JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key "
        f"WHERE a.doc_id % {mod} = 0) "
        f"SELECT c.qid, c.id, round(({eq}) / {k}.0, 6) AS sim FROM cand c "
        "JOIN sig sa ON c.qid = sa.doc_id JOIN sig sb ON c.id = sb.doc_id "
        f"WHERE ({eq}) / {k}.0 >= {ORACLE_MINHASH.threshold}"
    )


def _sql_top_k(mod: int = 50, topk: int = 5) -> str:
    k = ORACLE_MINHASH.num_hashes
    eq = " + ".join(f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(k))
    return (
        f"WITH {_sql_tokens_cte()}, {_sql_sig_cte()}, {_sql_bands_cte()}, "
        "cand AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS id FROM bands a "
        "JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key "
        f"WHERE a.doc_id % {mod} = 0), "
        f"scored AS (SELECT c.qid, c.id, round(({eq}) / {k}.0, 6) AS sim FROM cand c "
        "JOIN sig sa ON c.qid = sa.doc_id JOIN sig sb ON c.id = sb.doc_id), "
        "r AS (SELECT qid, id, sim, row_number() OVER "
        "(PARTITION BY qid ORDER BY sim DESC, id ASC) AS rn FROM scored) "
        f"SELECT qid, id, sim FROM r WHERE rn <= {topk}"
    )


def _sql_centroid() -> str:
    k = ORACLE_MINHASH.num_hashes
    pv = " UNION ALL ".join(
        f"SELECT source, {i} AS pos, s{i} AS val FROM sigsrc" for i in range(k)
    )
    return (
        f"WITH {_sql_tokens_cte()}, {_sql_sig_cte()}, "
        "sigsrc AS (SELECT s.*, d.source FROM sig s JOIN documents d USING (doc_id)), "
        f"pv AS ({pv}), "
        "counts AS (SELECT source, pos, val, count(*) AS c FROM pv GROUP BY 1, 2, 3), "
        "r AS (SELECT source, pos, val, row_number() OVER "
        "(PARTITION BY source, pos ORDER BY c DESC, val ASC) AS rn FROM counts) "
        "SELECT source, pos, CAST(val AS BIGINT) AS val FROM r WHERE rn = 1"
    )


def _sql_band_centroid() -> str:
    b, r = ORACLE_MINHASH.num_bands, ORACLE_MINHASH.band_width
    bands = " UNION ALL ".join(
        f"SELECT source, {bi} AS band_idx, "
        + ", ".join(f"s{bi * r + j} AS v{j}" for j in range(r))
        + " FROM sigsrc"
        for bi in range(b)
    )
    vcols = ", ".join(f"v{j}" for j in range(r))
    vasc = ", ".join(f"v{j} ASC" for j in range(r))
    expl = " UNION ALL ".join(
        f"SELECT source, band_idx * {r} + {j} AS pos, v{j} AS val FROM w"
        for j in range(r)
    )
    return (
        f"WITH {_sql_tokens_cte()}, {_sql_sig_cte()}, "
        "sigsrc AS (SELECT s.*, d.source FROM sig s JOIN documents d USING (doc_id)), "
        f"bandsrc AS ({bands}), "
        f"counts AS (SELECT source, band_idx, {vcols}, count(*) AS c "
        "FROM bandsrc GROUP BY ALL), "
        f"r AS (SELECT source, band_idx, {vcols}, row_number() OVER "
        f"(PARTITION BY source, band_idx ORDER BY c DESC, {vasc}) AS rn FROM counts), "
        "w AS (SELECT * FROM r WHERE rn = 1) "
        f"SELECT source, pos, CAST(val AS BIGINT) AS val FROM ({expl})"
    )


def _sql_minhash_keep_first() -> str:
    k = ORACLE_MINHASH.num_hashes
    eq = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return (
        f"WITH RECURSIVE {_sql_tokens_cte()}, {_sql_sig_cte()}, {_sql_bands_cte()}, "
        "cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst "
        "FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key "
        "AND a.doc_id < b.doc_id), "
        "edges AS (SELECT p.src, p.dst FROM cand p "
        "JOIN sig sa ON p.src = sa.doc_id JOIN sig sb ON p.dst = sb.doc_id "
        f"WHERE ({eq}) / {k}.0 >= {ORACLE_MINHASH.threshold}), "
        "sym AS (SELECT src AS a, dst AS b FROM edges "
        "UNION SELECT dst, src FROM edges), "
        "reach (id, r) AS (SELECT doc_id, doc_id FROM documents "
        "UNION SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.id) "
        "SELECT DISTINCT min(r) OVER (PARTITION BY id) AS keep_id FROM reach"
    )


def _sql_components() -> str:
    return (
        f"WITH RECURSIVE {_sql_ngram_ctes(0.8)}, "
        "sym AS (SELECT src AS a, dst AS b FROM jac "
        "UNION SELECT dst, src FROM jac), "
        "reach (id, r) AS (SELECT doc_id, doc_id FROM documents "
        "UNION SELECT s.a, r.r FROM sym s JOIN reach r ON s.b = r.id) "
        "SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id"
    )


def _sql_lang_id() -> str:
    from gaoya_spark.operators.text import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    hit_cols = ", ".join(
        "len(list_filter(toks[1:64], x -> list_contains(["
        + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        + f"], x))) AS hits_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"hits_{l}" for l in langs) + ")"
    cases = " ".join(
        f"WHEN {best} > 0 AND hits_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return (
        "WITH t AS (SELECT doc_id, "
        "list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents), "
        f"h AS (SELECT doc_id, {hit_cols} FROM t) "
        f"SELECT doc_id, CASE {cases} ELSE 'und' END AS lang_pred FROM h"
    )


def _sql_query_one(mod: int = 50) -> str:
    k = ORACLE_MINHASH.num_hashes
    eq = " + ".join(f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(k))
    return (
        f"WITH {_sql_tokens_cte()}, {_sql_sig_cte()}, {_sql_bands_cte()}, "
        "cand AS (SELECT DISTINCT a.doc_id AS qid, b.doc_id AS id FROM bands a "
        "JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key "
        f"WHERE a.doc_id % {mod} = 0), "
        f"scored AS (SELECT c.qid, c.id, round(({eq}) / {k}.0, 6) AS sim FROM cand c "
        "JOIN sig sa ON c.qid = sa.doc_id JOIN sig sb ON c.id = sb.doc_id "
        f"WHERE ({eq}) / {k}.0 > {ORACLE_MINHASH.threshold}), "
        "r AS (SELECT qid, id, sim, row_number() OVER "
        "(PARTITION BY qid ORDER BY sim DESC, id ASC) AS rn FROM scored) "
        "SELECT qid, id, sim FROM r WHERE rn = 1"
    )


def _sql_simhash_centroid() -> str:
    return (
        f"WITH {_sql_simhash_sig()}, "
        "ss AS (SELECT d.doc_id, d.source, coalesce(s.simhash, 0) AS sig "
        "FROM documents d LEFT JOIN simsig s USING (doc_id)), "
        "bits AS (SELECT source, b.b AS bit, "
        "sum((sig >> b.b) & 1) AS ones, count(*) AS n "
        "FROM ss, range(0, 32) AS b(b) GROUP BY source, b.b) "
        "SELECT source, CAST(sum(CASE WHEN 2 * ones > n "
        "THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS centroid "
        "FROM bits GROUP BY source"
    )


def _sql_embedding_topk() -> str:
    return (
        "WITH q AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)::DOUBLE) AS qv FROM embeddings), "
        "p AS (SELECT vec_id AS qid, qv AS pv FROM q WHERE vec_id % 25 = 0), "
        "s AS (SELECT p.qid, q.vec_id AS id, "
        "round(list_dot_product(p.pv, q.qv) / "
        "sqrt(list_dot_product(p.pv, p.pv) * list_dot_product(q.qv, q.qv)), 6) "
        "AS cosine FROM p, q WHERE p.qid <> q.vec_id), "
        "r AS (SELECT qid, id, cosine, row_number() OVER "
        "(PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rn FROM s) "
        "SELECT qid, id, cosine FROM r WHERE rn <= 3"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "simhash_signature": (
            f"WITH {_sql_simhash_sig()} SELECT d.doc_id, "
            "coalesce(s.simhash, 0) AS simhash FROM documents d "
            "LEFT JOIN simsig s USING (doc_id)"
        ),
        "simhash_hamming_pairs": (
            f"WITH {_sql_simhash_sig()} "
            "SELECT a.doc_id AS src, b.doc_id AS dst, "
            "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist "
            "FROM simsig a JOIN simsig b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) < 5"
        ),
        "ngram_jaccard_pairs": (
            f"WITH {_sql_ngram_ctes(0.62)} SELECT src, dst, jaccard FROM jac"
        ),
        "quality_score": (
            "WITH t AS (SELECT doc_id, len(text) AS chars, "
            "list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents), "
            "m AS (SELECT doc_id, chars, len(toks) AS n, "
            "len(list_distinct(toks)) AS nd FROM t) "
            "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, "
            "CAST(nd AS BIGINT) AS n_distinct_tokens, "
            "CASE WHEN n > 0 THEN round((chars - (n - 1)) / n, 6) ELSE 0.0 END AS mean_word_len, "
            "CASE WHEN n > 0 THEN round(nd / n, 6) ELSE 0.0 END AS distinct_ratio, "
            "round(least(n / 64.0, 1.0) * (CASE WHEN n > 0 THEN round(nd / n, 6) "
            "ELSE 0.0 END), 6) AS quality_score FROM m"
        ),
        "lang_id": _sql_lang_id(),
        "doc_fingerprint": (
            "SELECT doc_id, "
            "CASE WHEN len(text) >= 16 THEN list_min(list_transform("
            "range(0, CAST((len(text) - 16) // 8 AS INTEGER) + 1), "
            "i -> ('0x' || substr(md5(substr(text, i * 8 + 1, 16)), 1, 15))::BIGINT)) "
            "END AS fp_min, "
            "CASE WHEN len(text) >= 16 THEN list_max(list_transform("
            "range(0, CAST((len(text) - 16) // 8 AS INTEGER) + 1), "
            "i -> ('0x' || substr(md5(substr(text, i * 8 + 1, 16)), 1, 15))::BIGINT)) "
            "END AS fp_max FROM documents"
        ),
        "substring_pairs": (
            "WITH g0 AS (SELECT doc_id, unnest(list_transform(range(1, len(text) - 22), "
            "i -> substr(text, i, 24))) AS s FROM documents WHERE len(text) >= 24), "
            "g24 AS (SELECT DISTINCT doc_id, s FROM g0) "
            "SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst "
            "FROM g24 a JOIN g24 b ON a.s = b.s AND a.doc_id < b.doc_id"
        ),
        "minhash_query": _sql_query_probes(),
        "minhash_top_k": _sql_top_k(),
        "minhash_centroid": _sql_centroid(),
        "minhash_band_centroid": _sql_band_centroid(),
        "components_ngram": _sql_components(),
        "components_twophase": _sql_components(),
        "simhash_centroid": _sql_simhash_centroid(),
        "minhash_query_one": _sql_query_one(),
        "embedding_cosine_topk": _sql_embedding_topk(),
        "embedding_ivf_topk": _sql_ivf_topk(),
        "token_count": (
            "SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), "
            "x -> x <> '')) AS BIGINT) AS n_tokens FROM documents"
        ),
        "exact_dup_pairs": (
            "SELECT a.doc_id AS src, b.doc_id AS dst FROM documents a "
            "JOIN documents b ON a.text = b.text AND a.doc_id < b.doc_id"
        ),
        "exact_dedup_keep_first": (
            "SELECT min(doc_id) AS keep_id FROM documents GROUP BY text"
        ),
        "minhash_signature": (
            # LEFT JOIN + coalesce mirrors the engine's empty-doc rule (P9:
            # zero signature, min_hasher.rs empty-stream case) — FROM sig
            # alone would silently drop docs with no tokens
            f"WITH {_sql_tokens_cte()}, {_sql_sig_cte()} "
            "SELECT d.doc_id, CAST(coalesce(s.s0, 0) AS BIGINT) AS mh0, "
            "CAST(coalesce(s.s1, 0) AS BIGINT) AS mh1, "
            "CAST(coalesce(s.s2, 0) AS BIGINT) AS mh2, "
            "CAST(coalesce(s.s3, 0) AS BIGINT) AS mh3 "
            "FROM documents d LEFT JOIN sig s USING (doc_id)"
        ),
        "minhash_band_pairs": _sql_minhash_pairs(),
        "minhash_dedup_fast": _sql_minhash_pairs(with_sim=False),
        "minhash_dedup_numpy": _sql_minhash_pairs(with_sim=False),
        "minhash_dedup_fused": _sql_minhash_pairs(with_sim=False),
        "simhash_hamming_angle_pairs": (
            f"WITH {_sql_simhash_sig()} "
            "SELECT a.doc_id AS src, b.doc_id AS dst, "
            "round(bit_count(xor(a.simhash, b.simhash)) * pi() / 32, 6) AS angle "
            "FROM simsig a JOIN simsig b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) < 5"
        ),
        "simhash_top_k": (
            f"WITH {_sql_simhash_sig()}, "
            "cand AS (SELECT a.doc_id AS qid, b.doc_id AS id, "
            "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist "
            "FROM simsig a JOIN simsig b ON a.doc_id % 50 = 0 "
            "WHERE bit_count(xor(a.simhash, b.simhash)) < 5), "
            "r AS (SELECT qid, id, dist, row_number() OVER "
            "(PARTITION BY qid ORDER BY dist ASC, id ASC) AS rn FROM cand) "
            "SELECT qid, id, dist FROM r WHERE rn <= 3"
        ),
        "simhash128_signature": (
            f"WITH {_sql_simhash128_sig()} SELECT doc_id, w0, w1 FROM sig128"
        ),
        "simhash128_hamming_pairs": _sql_simhash128_pairs(),
        "embedding_cosine_dup_pairs": (
            "WITH q AS (SELECT vec_id, list_transform(embedding, "
            "x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)::DOUBLE) AS qv "
            "FROM embeddings) "
            "SELECT a.vec_id AS src, b.vec_id AS dst, "
            "round(list_dot_product(a.qv, b.qv) / "
            "sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)), 6) "
            "AS cosine FROM q a JOIN q b ON a.vec_id < b.vec_id "
            "WHERE round(list_dot_product(a.qv, b.qv) / "
            "sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)), 6) "
            ">= 0.4"
        ),
        "minhash_dedup_keep_first": _sql_minhash_keep_first(),
        "star_cluster": _sql_star_cluster(),
        "stream_first_seen": _sql_stream_first_seen(),
        "stream_incremental_dedup": _sql_minhash_pairs(with_sim=False),
        "bpe_token_estimate": (
            r"WITH t AS (SELECT doc_id, "
            r"len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
            r"x -> x <> '')) AS n_word_tokens, "
            r"len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
            r"x -> len(x) > 8)) AS n_long, "
            r"len(regexp_replace(lower(text), '[a-z0-9\s]+', '', 'g')) "
            r"AS n_symbol_tokens FROM documents) "
            r"SELECT doc_id, CAST(n_word_tokens AS BIGINT) AS n_word_tokens, "
            r"CAST(n_symbol_tokens AS BIGINT) AS n_symbol_tokens, "
            r"round(n_word_tokens + 0.3 * n_long + n_symbol_tokens, 1) "
            r"AS bpe_token_estimate FROM t"
        ),
    }
