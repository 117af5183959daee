"""Round-6 stage decomposition of the minhash dedup queries: time each
internal stage of dedup_pairs in isolation (noop-materialized, guide §1.4)
plus the full strategies, interleaved in one session (EXPERIMENTS.md
protocol: host drifts, only same-session interleaved MINs are compared).

Stages:
  bands      : sid_bands noop (Arrow band kernel over cached sigs)
  buckets    : banding + groupBy(bk) collect_set, size>=2, noop
  cand_agg   : full candidate set (src, dst, m) count
  bcast      : _build_sig_broadcast (eager driver collect + broadcast)
  np         : full dedup_pairs(keep_sim=False).count()   [bench path]
  jvm        : full dedup_pairs(keep_sim=False, numpy_verify=False).count()

Usage: python tools/exp_r6_decomp.py [doc|img] [reps] [stages]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return -1


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "img"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(3 * CPUS, 72)}g")

    from pyspark.sql import functions as F

    from gaoya_spark.config import MinHashConfig, TokenizerSpec
    from gaoya_spark.operators.minhash_lsh import MinHashLSH
    from gaoya_spark.session import get_spark
    from tools.bench_images import bench_images_path

    spark = get_spark("exp_r6_decomp", cores=CPUS)
    char34 = TokenizerSpec(kind="char", n_from=3, n_to=4, lowercase=True)
    if corpus == "doc":
        df = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        id_col, text_col, phash = "doc_id", "text", None
    else:
        df = spark.read.parquet(bench_images_path(spark))
        id_col, text_col, phash = "image_id", "caption", "phash"
    df = df.repartition(CPUS * 2).cache()
    df.count()
    cfg = MinHashConfig(
        num_bands=50, band_width=4, threshold=0.5, tokenizer=char34,
        phash_token_weight=1 if phash else 0,
    )
    mh = MinHashLSH(cfg)
    sigs = mh.signatures(df, id_col, text_col, phash_col=phash).cache()
    sigs.count()

    def bands():
        return noop(mh.sid_bands(sigs))

    def buckets():
        b = (
            mh.sid_bands(sigs)
            .groupBy("bk")
            .agg(F.array_sort(F.collect_set("sid")).alias("ids"))
            .where(F.size("ids") >= 2)
        )
        return noop(b)

    def cand_agg():
        return mh.sid_candidates(sigs).count()

    def bcast():
        bc, _ = mh._build_sig_broadcast(sigs, 2_000_000)
        _, ids = bc.value
        n = len(ids)
        bc.destroy()
        return n

    stages = {
        "bands": bands,
        "buckets": buckets,
        "cand_agg": cand_agg,
        "bcast": bcast,
        "np": lambda: mh.dedup_pairs(sigs, keep_sim=False).count(),
        "jvm": lambda: mh.dedup_pairs(
            sigs, keep_sim=False, numpy_verify=False
        ).count(),
    }
    if only:
        stages = {k: v for k, v in stages.items() if k in only}
    res: dict[str, float] = {}
    for _ in range(reps):
        for name, fn in stages.items():
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
            res[name] = min(res.get(name, 1e9), dt)
            print(f"  {name}: {dt:6.2f}s n={n}", flush=True)
    print("MIN:", {k: round(v, 2) for k, v in res.items()}, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
