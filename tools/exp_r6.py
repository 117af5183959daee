"""Round-6 dedup decomposition: same-session interleaved MINs for the
optimization decisions of this round (host drifts across minutes, so only
interleaved comparisons are valid — EXPERIMENTS.md protocol).

Variants:
  jvm      : JVM shuffle-verify route (numpy_verify=False)
  np       : size-routed numpy route (the bench path)

Counts are asserted identical across variants (same semantics, different
plans). Usage: python tools/exp_r6.py [corpus: doc|img] [reps] [variants]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "img"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(3 * CPUS, 72)}g")

    from gaoya_spark.config import MinHashConfig, TokenizerSpec
    from gaoya_spark.operators.minhash_lsh import MinHashLSH
    from gaoya_spark.session import get_spark
    from tools.bench_images import bench_images_path

    spark = get_spark("exp_r6", cores=CPUS)
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

    variants = {
        "jvm": lambda: mh.dedup_pairs(
            sigs, keep_sim=False, numpy_verify=False
        ).count(),
        "np": lambda: mh.dedup_pairs(
            sigs, keep_sim=False, numpy_verify=True
        ).count(),
    }
    if only:
        variants = {k: v for k, v in variants.items() if k in only}
    res: dict[str, float] = {}
    counts: set[int] = set()
    for _ in range(reps):
        for name, fn in variants.items():
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
            counts.add(n)
            res[name] = min(res.get(name, 1e9), dt)
            print(f"  {name}: {dt:6.2f}s n={n}", flush=True)
    assert len(counts) == 1, f"count drift across variants: {counts}"
    print("MIN:", {k: round(v, 2) for k, v in res.items()}, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
