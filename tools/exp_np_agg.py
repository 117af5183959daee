"""Round-4 experiment #5: aggregated vs raw candidates under the
in-kernel-attach numpy verify (after the id-attach joins moved inside
the kernel, the round-4 commit "Attach ids inside the numpy verify
kernel").

Interleaved, per-variant MIN, sf0.1 documents (5k docs, 1,204,787
pairs, avg band multiplicity m=2.4) and the 100k-image bench corpus
(mostly m=1):

  doc corpus  (3 reps, 2026-08-17):  np_agg 6.07   np_raw 27.42   jvm_agg 15.64
  img corpus  (3 reps, 2026-08-17):  np_agg 6.51   np_raw 6.58

Findings:
(1) With ids attached in-kernel, AGGREGATED mode is verify+attach in
    ONE pandas pass with no post-kernel exchange; raw mode needs a
    post-verify dedupe whose exchange carries sum-of-m over the true
    pairs (dense corpus: ~8M rows of survivors' emissions vs the 1.2M
    final pairs) plus a second attach kernel. On the dense doc corpus
    aggregation also collapses 17.6M raw emissions to 7.4M candidates
    BEFORE the kernel — agg wins 4.5x. On the mostly-m=1 image corpus
    the two are a tie (6.5s both).
(2) The earlier raw-candidates win (retired exp_verify.py, EXPERIMENTS.md ledger)
    (np 3.59 raw vs 5.68 jvm) was measured with the OLD kernel that
    still ran two sid->id broadcast joins after the dedupe — the joins
    were what raw mode was avoiding. With them gone, raw mode has no
    remaining advantage anywhere measured; bench.py uses aggregated
    numpy_verify on both corpora.
(3) jvm_agg (broadcast-join verify) confirmed 2.6x slower than np_agg
    on the doc corpus in the same interleaved session.

Usage: python tools/exp_np_agg.py [corpus: doc|img] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "doc"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(3 * CPUS, 72)}g")

    from gaoya_spark.config import MinHashConfig, TokenizerSpec
    from gaoya_spark.operators.minhash_lsh import MinHashLSH
    from gaoya_spark.session import get_spark

    spark = get_spark("exp_np_agg", cores=CPUS)
    char34 = TokenizerSpec(kind="char", n_from=3, n_to=4, lowercase=True)
    if corpus == "doc":
        df = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        id_col, text_col, phash = "doc_id", "text", None
    else:
        df = spark.read.parquet("/tmp/gaoya_bench_images_100000")
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
        "np_agg": lambda: mh.dedup_pairs(
            sigs, keep_sim=False, numpy_verify=True
        ).count(),
        "np_raw": lambda: mh.dedup_pairs(
            sigs, keep_sim=False, numpy_verify=True, raw_candidates=True
        ).count(),
        "jvm_agg": lambda: mh.dedup_pairs(
            sigs, keep_sim=False, broadcast_sigs=True, numpy_verify=False
        ).count(),
    }
    res: dict[str, float] = {}
    for _ in range(reps):
        for name, fn in variants.items():
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
            res[name] = min(res.get(name, 1e9), dt)
            print(f"  {name}: {dt:6.2f}s n={n}", flush=True)
    print("MIN:", {k: round(v, 2) for k, v in res.items()}, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
