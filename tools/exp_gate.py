"""Round-4 experiment: where does dedup wall time go, and what does the
tier-gate collect cost? Interleaved in-session A/B (host drift up to 2.5x
across minutes — measured), per-variant MIN across reps.

Variants of sid_pairs_from_buckets behavior, measured through the public
dedup_pairs path on BOTH the doc corpus (sf0.1, 5k dense docs) and the
100k-image fixture:
  gated      - r3 behavior: persist buckets, blocking stats collect gates tiers
  ungated    - persist buckets, always include all tiers (no stats job)
  nopersist  - no persist, no gate (rely on ReusedExchange for the groupBy)

Usage: python tools/exp_gate.py [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
IMAGES_N = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "100000"))


def main() -> None:
    from gaoya_spark.config import MinHashConfig, TokenizerSpec
    from gaoya_spark.fixtures import make_images_pdf
    from gaoya_spark.operators.minhash_lsh import MinHashLSH
    from gaoya_spark.session import get_spark

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("exp_gate", cores=CPUS)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS * 2).cache()
    docs.count()
    images_path = f"/tmp/gaoya_bench_images_{IMAGES_N}"
    if not os.path.exists(os.path.join(images_path, "_SUCCESS")):
        images_pdf, _ = make_images_pdf(IMAGES_N, seed=42, dup_frac=0.2, with_bytes=False)
        spark.createDataFrame(
            images_pdf[["image_id", "caption", "phash"]]
        ).repartition(64).write.mode("overwrite").parquet(images_path)
    images = spark.read.parquet(images_path).repartition(CPUS * 3).cache()
    images.count()

    char34 = TokenizerSpec(kind="char", n_from=3, n_to=4, lowercase=True)
    doc_mh = MinHashLSH(MinHashConfig(num_bands=50, band_width=4, threshold=0.5, tokenizer=char34))
    img_mh = MinHashLSH(
        MinHashConfig(num_bands=50, band_width=4, threshold=0.5,
                      tokenizer=char34, phash_token_weight=1)
    )
    doc_sigs = doc_mh.signatures(docs, "doc_id", "text").cache()
    doc_sigs.count()
    img_sigs = img_mh.signatures(images, "image_id", "caption", phash_col="phash").cache()
    img_sigs.count()

    def patched_factory(mode):
        if mode == "gated":
            # the engine default flipped to gate=False (dbf3931), so the
            # gated variant must now opt in explicitly
            return dict(persist=True, gate=True)
        if mode == "ungated":
            return dict(persist=True, gate=False)
        return dict(persist=False, gate=False)

    results: dict[str, dict[str, float]] = {}
    counts: dict[str, int] = {}
    variants = ["gated", "ungated", "nopersist"]
    for rep in range(reps):
        for mode in variants:
            kw = patched_factory(mode)
            for name, mh, sigs in (("doc", doc_mh, doc_sigs), ("img", img_mh, img_sigs)):
                t0 = time.time()
                n = mh.dedup_pairs(
                    sigs, keep_sim=False, numpy_verify=False, **kw
                ).count()
                dt = time.time() - t0
                results.setdefault(mode, {})
                key = name
                results[mode][key] = min(results[mode].get(key, 1e9), dt)
                ck = f"{mode}:{name}"
                if ck in counts:
                    assert counts[ck] == n, f"count drift {ck}"
                counts[ck] = n
                print(f"rep{rep} {mode:10s} {name}: {dt:6.2f}s  n={n}", flush=True)

    print("\n== per-variant MIN ==")
    for mode in variants:
        print(mode, {k: round(v, 2) for k, v in results[mode].items()})
    spark.stop()


if __name__ == "__main__":
    main()
