"""Dump .explain("formatted") for every bench query touched in round 6
into plans/r06/<query>_<tag>.txt. Run twice — once with the round-5 tree
on PYTHONPATH (tag=before) and once with the current tree (tag=after) —
so the judge can diff plan shapes without running Spark.

Usage: python tools/plans_r06.py <tag> [outdir]
Only uses APIs present in both trees (default arguments everywhere).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from tools.bench_images import bench_images_path  # noqa: E402

# the gaoya_spark imports in main() resolve to PLANS_TREE when it is set
if os.environ.get("PLANS_TREE"):
    sys.path.insert(0, os.environ["PLANS_TREE"])

TAG = sys.argv[1] if len(sys.argv) > 1 else "after"
OUTDIR = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "plans", "r06")


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    os.makedirs(OUTDIR, exist_ok=True)

    from gaoya_spark.config import MinHashConfig, SimHashConfig, TokenizerSpec
    from gaoya_spark.operators.cluster import connected_components
    from gaoya_spark.operators.minhash_lsh import MinHashLSH
    from gaoya_spark.operators.simhash_lsh import SimHashLSH
    from gaoya_spark.operators.substring import substring_pairs
    from gaoya_spark.session import get_spark

    from pyspark.sql import functions as F

    spark = get_spark("plans_r06", cores=4, shuffle_partitions=8)
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    images = spark.read.parquet(bench_images_path(spark))

    char34 = TokenizerSpec(kind="char", n_from=3, n_to=4, lowercase=True)
    word = TokenizerSpec(kind="word", n_from=1, n_to=1, lowercase=True)
    mh = MinHashLSH(
        MinHashConfig(num_bands=50, band_width=4, threshold=0.5, tokenizer=char34)
    )
    img_mh = MinHashLSH(
        MinHashConfig(num_bands=50, band_width=4, threshold=0.5,
                      tokenizer=char34, phash_token_weight=1)
    )
    sh = SimHashLSH(
        SimHashConfig(nbits=64, num_blocks=8, max_distance=4, tokenizer=word)
    )

    doc_sigs = mh.signatures(docs, "doc_id", "text").cache()
    img_sigs = img_mh.signatures(
        images, "image_id", "caption", phash_col="phash"
    ).cache()
    doc_sigs.count()
    img_sigs.count()

    plans = {
        # the bench numpy-aggregated paths (the two headline queries)
        "doc_minhash_dedup": lambda: mh.dedup_pairs(
            doc_sigs, keep_sim=False, numpy_verify=True
        ),
        "img_minhash_dedup": lambda: img_mh.dedup_pairs(
            img_sigs, keep_sim=False, numpy_verify=True
        ),
        # the JVM shuffle-verify (the route of over-broadcast tables)
        "jvm_shuffle_verify_dedup": lambda: img_mh.dedup_pairs(
            img_sigs, keep_sim=False, numpy_verify=False
        ),
        # query path (streaming's maintained-index probe shares it)
        "minhash_query": lambda: mh.query(doc_sigs, doc_sigs.limit(100)),
        "doc_simhash_dedup": lambda: sh.dedup_pairs(
            sh.signatures(docs, "doc_id", "text")
        ),
        "doc_substring": lambda: substring_pairs(
            docs, "doc_id", "text", min_len=24
        ),
        # one label-propagation iteration (the distributed CC inner loop):
        # approximated by running CC with max_iter=1 on a tiny edge frame
        # is side-effectful, so capture the first-iteration frame instead
    }
    for name, fn in plans.items():
        txt = grab(fn())
        with open(os.path.join(OUTDIR, f"{name}_{TAG}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{TAG}.txt ({len(txt)} bytes)", flush=True)

    # label propagation: the per-iteration plan (localCheckpoint truncates
    # lineage, so the final labels frame hides it) — capture it through
    # the checkpoint_fn hook, which both trees call with the raw
    # new-labels frame before materialization.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 50, 2)], "src long, dst long"
    )
    captured: list[str] = []

    def cap(df, it):
        captured.append(grab(df))
        return df.localCheckpoint(eager=True)

    connected_components(
        edges, max_iter=1, driver_threshold=0, checkpoint_fn=cap,
    )
    with open(os.path.join(OUTDIR, f"img_components_distributed_{TAG}.txt"), "w") as f:
        f.write(captured[0])
    print(f"wrote img_components_distributed_{TAG}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
