"""1M-image dedup demo — the order-of-magnitude-up stress run.

The per-round bench mirrors the reference's 50x4 band config at 100k rows;
at 10x the corpus that config's false-positive candidate rate per doc grows
linearly with corpus size (band collision probability is fixed while the
number of potential colliders grows), so a 10^12-scale deployment widens
the bands. This demo does exactly that: threshold 0.5, 222 hashes as 37 bands x 6
rows -> ~15x fewer false candidates per doc than 4-row bands at the same
threshold, measured dup-pair recall 1.0 — then runs the full pipeline
(signatures -> banded candidates -> verify -> connected components) at
1M image+caption rows on local[$SPARK_GRAFT_CPUS] and reports wall times,
candidate volume, and dup-pair recall vs the planted truth.

Usage: python tools/scale_demo.py [n_images]
Writes one JSON line to stdout; append the result to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

# heap sized with parallelism like bench.py (3g/core, RAM-clamped): the
# demo holds the 1M inputs + signatures + pairs caches while running
# bucket collect_list aggregates; the 8g get_spark default OOMed mid-
# streaming at this scale (ObjectAggregationIterator heap exhaustion)
def _ram_gb() -> float:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / (1024 * 1024)
    except OSError:
        pass
    return 64.0


os.environ.setdefault(
    "SPARK_GRAFT_DRIVER_MEM",
    f"{max(2, min(3 * CPUS, 72, int(0.8 * _ram_gb())))}g",
)


def main() -> None:
    from gaoya_spark.config import MinHashConfig, TokenizerSpec
    from gaoya_spark.fixtures import make_images_pdf
    from gaoya_spark.operators.cluster import (
        connected_components, duplicate_pair_recall,
    )
    from gaoya_spark.operators.minhash_lsh import MinHashLSH
    from gaoya_spark.session import get_spark

    spark = get_spark("scale_demo", cores=CPUS)

    path = f"/tmp/gaoya_scale_demo_{N}"
    truth_path = f"{path}_truth"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # generate in driver-side chunks to bound pandas memory
        chunk = 250_000
        writer_mode = "overwrite"
        for off in range(0, N, chunk):
            n_chunk = min(chunk, N - off)
            pdf, truth = make_images_pdf(
                n_chunk, seed=1000 + off, dup_frac=0.2, with_bytes=False
            )
            pdf["image_id"] = pdf["image_id"] + f"_c{off}"
            truth["image_id"] = truth["image_id"] + f"_c{off}"
            truth["group_id"] = truth["group_id"].astype(str) + f"_c{off}"
            spark.createDataFrame(
                pdf[["image_id", "caption", "phash"]]
            ).repartition(16).write.mode(writer_mode).parquet(path)
            spark.createDataFrame(truth).repartition(4).write.mode(
                writer_mode
            ).parquet(truth_path)
            writer_mode = "append"

    images = spark.read.parquet(path).repartition(CPUS * 4).persist()
    n_rows = images.count()

    # Scale config: WIDER bands than the reference's 50x4 benchmark config.
    # The false-candidate rate per doc is ~ n * b * s_bg^r (s_bg = background
    # similarity of unrelated captions, ~0.3 here): at 10x the corpus, r>=5
    # cuts false candidates >=4x vs r=4, holding verify volume near-linear.
    # 39x5 is calculate_b_and_r(0.7, 195) — P17's own answer for detection
    # >=0.99 at sim 0.7 — chosen over the earlier 37x6 because the QUERY
    # path has no transitive closure to recover missed direct pairs: 37x6's
    # detection floor measured probe recall 0.9884 (round-4 artifact),
    # under the north rule's 0.99; 39x5 raises per-pair detection at
    # borderline sims (s=0.6: 0.958 vs 0.83) for ~3.3x the false-candidate
    # rate — still ~4x under 50x4. Dedup+CC recall is 1.0 under both.
    b, r = int(os.environ.get("SCALE_DEMO_B", "39")), int(os.environ.get("SCALE_DEMO_R", "5"))
    cfg = MinHashConfig(
        num_bands=b, band_width=r, threshold=0.5,
        tokenizer=TokenizerSpec(kind="char", n_from=3, n_to=4, lowercase=True),
        phash_token_weight=1,
    )
    mh = MinHashLSH(cfg)

    t0 = time.time()
    sigs = mh.signatures(images, "image_id", "caption", phash_col="phash").persist()
    sigs.count()
    t_sig = time.time() - t0

    t0 = time.time()
    # the JVM shuffle-verify route, as recorded in BENCH/STRESS_1M.md (a
    # 1M-row table is over the broadcast bound either way)
    pairs = mh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False).persist()
    n_pairs = pairs.count()
    t_dedup = time.time() - t0

    t0 = time.time()
    labels = connected_components(pairs, max_iter=20, driver_threshold=0)
    n_labeled = labels.count()
    t_cc = time.time() - t0

    # same edges through the O(log n)-round two-phase algorithm — the safe
    # 10^12-edge path when diameter is unknown; labels must agree exactly
    t0 = time.time()
    labels_tp = connected_components(
        pairs, max_iter=20, driver_threshold=0, algorithm="twophase"
    )
    n_labeled_tp = labels_tp.count()
    t_cc_tp = time.time() - t0
    n_disagree = (
        labels.join(labels_tp.withColumnRenamed("component", "c2"), "id")
        .where("component <> c2").count()
    )

    # greedy-star shapes at scale (local-dominance peeling) — the
    # reference's C1-C3 family; every member must be edge-adjacent to its
    # center, so count is a lower bound on CC coverage
    from gaoya_spark.operators.star_cluster import star_clusters

    t0 = time.time()
    stars = star_clusters(pairs, min_cluster_size=2)
    n_starred = stars.count()
    t_star = time.time() - t0

    truth = spark.read.parquet(truth_path).withColumnRenamed("image_id", "id")
    recall = duplicate_pair_recall(labels, truth)

    # ---- probe-vs-index query at scale (the reference's bulk_query path):
    # ~10k deterministic probes against the full 1M index through the
    # bipartite bucket machinery, with pair-level recall vs planted truth
    from pyspark.sql import functions as F

    probes = sigs.where(F.pmod(F.xxhash64("id"), F.lit(N // 10_000)) == 0).persist()
    n_probes = probes.count()
    t0 = time.time()
    matches = mh.query(sigs, probes, keep_sim=False).persist()
    n_matches = matches.count()
    t_query = time.time() - t0
    # true (probe, other-member) pairs from the planted groups
    tg = truth.select("id", "group_id")
    pg = probes.select(F.col("id").alias("qid")).join(
        tg.withColumnRenamed("id", "qid"), "qid"
    )
    true_pairs = pg.join(tg.withColumnRenamed("id", "mid"), "group_id").where(
        F.col("qid") != F.col("mid")
    ).select("qid", F.col("mid").alias("id"))
    n_true = true_pairs.count()
    n_found = true_pairs.join(matches, ["qid", "id"], "left_semi").count()
    query_recall = n_found / n_true if n_true else 1.0
    matches.unpersist()

    # ---- planted pathology: one constant-caption block (the all-identical
    # key failure mode at 10^12 scale) unioned into the corpus; every band
    # hashes the block into ONE bucket of size PATH_N > MinHashLSH._BUCKET_CAP, so
    # the drop cap must exclude it (recorded via band_stats, never silent)
    # while the planted-dup recall of the real corpus is unaffected.
    PATH_N = int(os.environ.get("SCALE_DEMO_PATHOLOGY", "200000"))
    patho = spark.range(PATH_N).select(
        F.concat(F.lit("patho_"), F.col("id").cast("string")).alias("image_id"),
        F.lit("all images identical caption pathology block").alias("caption"),
        F.lit(1234567890).alias("phash"),
    )
    t0 = time.time()
    sigs_p = mh.signatures(
        images.unionByName(patho), "image_id", "caption", phash_col="phash"
    ).persist()
    sigs_p.count()
    pairs_p = mh.dedup_pairs(sigs_p, keep_sim=False, numpy_verify=False).persist()
    n_pairs_patho = pairs_p.count()
    t_patho = time.time() - t0
    st = (
        mh.band_stats(sigs_p)
        .agg(F.sum("n_hot").alias("hot"), F.sum("n_dropped").alias("dropped"))
        .collect()[0]
    )
    # the dropped block contributes no pairs; the real corpus' pairs are
    # unchanged (the pathology block shares no bucket with real captions)
    labels_p = connected_components(pairs_p, max_iter=20, driver_threshold=0)
    recall_patho = duplicate_pair_recall(labels_p, truth)
    assert st["dropped"] >= b, (
        f"pathology bucket not recorded: n_dropped={st['dropped']}"
    )
    sigs_p.unpersist(); pairs_p.unpersist()

    # ---- streaming replay at stress scale (round-5): the same corpus
    # ingested as a file stream in ~10 micro-batches through StreamingDedup
    # (foreachBatch: batch-internal dedup + bipartite query vs the standing
    # index, batch_id-keyed idempotent writes). The union of streamed edges,
    # canonicalized, must EQUAL the batch pipeline's pair set — incremental
    # ingestion changes the schedule, never the result.
    import glob
    import shutil

    from gaoya_spark.sources.warehouse import Warehouse
    from gaoya_spark.streaming.stream_dedup import StreamingDedup

    # the batch-phase caches are dead weight for the streaming replay
    # (it reads the corpus from parquet and builds its own state); only
    # `pairs` is still needed, for the edge-set equality check
    images.unpersist()
    sigs.unpersist()

    stream_root = f"/tmp/gaoya_scale_stream_{N}"
    shutil.rmtree(stream_root, ignore_errors=True)
    wh = Warehouse(spark, f"{stream_root}/wh")
    sd = StreamingDedup(spark, wh, cfg)
    n_files = len(glob.glob(f"{path}/part-*"))
    per_trigger = max(1, (n_files + 9) // 10)
    t0 = time.time()
    stream_df = (
        spark.readStream.schema(images.schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(path)
    )
    q = sd.start(stream_df, f"{stream_root}/ckpt")
    q.awaitTermination(3600)
    t_stream = time.time() - t0
    n_batches = len(
        wh.read("stream_edges").select("batch_id").distinct().collect()
    )
    stream_edges = (
        wh.read("stream_edges")
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )
    n_stream_edges = stream_edges.count()
    n_edge_diff = (
        stream_edges.join(pairs, ["src", "dst"], "left_anti").count()
        + pairs.join(stream_edges, ["src", "dst"], "left_anti").count()
    )
    assert n_edge_diff == 0, (
        f"streamed edge set diverges from batch pairs: {n_edge_diff} rows"
    )

    print(json.dumps({
        "n_images": n_rows,
        "band_config": {"b": b, "r": r, "num_hashes": b * r},
        "sig_sec": round(t_sig, 1),
        "signatures_per_sec": round(n_rows / t_sig, 1),
        "dedup_sec": round(t_dedup, 1),
        "dup_pairs": n_pairs,
        "cc_sec_distributed": round(t_cc, 1),
        "cc_sec_twophase": round(t_cc_tp, 1),
        "cc_twophase_disagreements": n_disagree,
        "labeled": n_labeled,
        "labeled_twophase": n_labeled_tp,
        "star_sec": round(t_star, 1),
        "starred": n_starred,
        "dup_pair_recall": round(recall, 4),
        "probe_query": {
            "n_probes": n_probes,
            "query_sec": round(t_query, 1),
            "n_matches": n_matches,
            "true_pairs": n_true,
            "found_true_pairs": n_found,
            "recall": round(query_recall, 4),
        },
        "pathology": {
            "planted_block": PATH_N,
            "sig_plus_dedup_sec": round(t_patho, 1),
            "dup_pairs": n_pairs_patho,
            "hot_buckets": int(st["hot"] or 0),
            "dropped_buckets": int(st["dropped"] or 0),
            "dup_pair_recall": round(recall_patho, 4),
        },
        "streaming_replay": {
            "micro_batches": n_batches,
            "wall_sec": round(t_stream, 1),
            "stream_edges": n_stream_edges,
            "batch_pairs": n_pairs,
            "edge_set_diff": n_edge_diff,
        },
        "cpus": CPUS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
