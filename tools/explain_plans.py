"""Dump formatted physical plans for the hot operators into PLANS.md so
plan quality (column pruning, pushed filters, broadcast vs SMJ, codegen
spans) is reviewable without running Spark.

Each section is explained right after its DataFrame is built, so its plan
shows only the caches that earlier sections filled. The images parquet
is written to a fresh temporary directory on every run.

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from gaoya_spark.config import MinHashConfig, SimHashConfig, TokenizerSpec
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.operators.simhash_lsh import SimHashLSH
from gaoya_spark.session import get_spark


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def sections(images):
    """(title, build) pairs in explain order; build() returns the
    DataFrame to explain."""
    from gaoya_spark.operators.cluster import _two_phase_cc
    from gaoya_spark.operators.substring import candidate_gram_pairs

    char34 = TokenizerSpec(kind="char", n_from=3, n_to=4, lowercase=True)
    mh = MinHashLSH(MinHashConfig(tokenizer=char34, phash_token_weight=1))
    sh = SimHashLSH(SimHashConfig())
    sigs = mh.signatures(images, "image_id", "caption", phash_col="phash")

    def two_phase_round():
        edges = mh.dedup_pairs(sigs).select("src", "dst")
        labels, _ = _two_phase_cc(
            edges.selectExpr("src as a", "dst as b"), None, 1, None
        )
        return labels

    return [
        ("minhash signatures over images parquet "
         "(EXPECT: ReadSchema only image_id/caption/phash — bytes pruned; "
         "one ArrowEvalPython node)", lambda: sigs),
        ("band stats (EXPECT: the JVM banding as project/generate, no "
         "Python stage past the signature UDF; two exchanges into the "
         "distinct-id count per (band_idx, key), then one into the "
         "per-band aggregate)", lambda: mh.band_stats(sigs)),
        ("sid candidates (EXPECT: ONE MapInPandas node — the vectorized "
         "Arrow band kernel — feeding ONE exchange on the band key into an "
         "ObjectHashAggregate collect_set, pair explosion as pure "
         "project/generate — no self-join, no dropDuplicates — then the "
         "(src,dst) count aggregate)", lambda: mh.sid_candidates(sigs)),
        ("dedup pairs end-to-end, forced JVM route (EXPECT: the candidate "
         "plan above, then the equal-count as a FLAT balanced tree of "
         "per-word packed-XOR terms inside WholeStageCodegen (no "
         "higher-order aggregate — HOFs evaluate interpreted) in the "
         "signature joins — broadcast when sigs are small — original "
         "ids attached only to verified pairs, then ONE (src, dst) "
         "aggregate keeping each id pair once at its max sim)",
         lambda: mh.dedup_pairs(sigs, numpy_verify=False)),
        ("dedup pairs, size-routed default on a broadcast-fit table "
         "(EXPECT: a one-row-per-task range feeds ONE MapInPandas kernel "
         "that builds each task's share of the bands' buckets from the "
         "broadcast signature matrix, verifies them and emits id pairs — "
         "no band explode, no bucket exchange, no signature joins, no "
         "second Python stage — then ONE narrow dropDuplicates exchange)",
         lambda: mh.dedup_pairs(sigs, keep_sim=False)),
        ("simhash bucket stats (EXPECT: the table keys as "
         "project+generate; one exchange on (table_idx, key) into the "
         "bucket count, then the per-table aggregate)",
         lambda: sh.bucket_stats(sh.signatures(images, "image_id", "caption"))),
        ("simhash dedup (EXPECT: one collect_list aggregate carrying "
         "(sid, sig) structs; hamming distance filtered map-side during "
         "pair explosion, before any pair exchange; the string ids joined "
         "back on the distinct (sid, id) map, deduplicated right after "
         "its one exchange and reused by both sides)",
         lambda: sh.dedup_pairs(sh.signatures(images, "image_id", "caption"))),
        ("substring gram candidates (EXPECT: 128-bit fingerprint struct key; "
         "same single-aggregate bucket plan as minhash)",
         lambda: candidate_gram_pairs(images, "image_id", "caption", 24)),
        # one round of the two-phase CC inner loop (the O(log n)
        # clustering path)
        ("two-phase connected components, one round + label extraction "
         "(EXPECT: groupBy-min aggregates and equi-joins only; the "
         "localCheckpoint breaks lineage so the shown plan starts from the "
         "checkpointed round output)", two_phase_round),
    ]


def main():
    from gaoya_spark.fixtures import make_images_df

    spark = get_spark("plans", cores=4, shuffle_partitions=8)
    tmp = tempfile.mkdtemp(prefix="plans_images_")
    try:
        # a small images-shaped parquet (with bytes) to show pruning
        path = os.path.join(tmp, "images")
        df, _ = make_images_df(spark, 200, seed=1)
        df.write.parquet(path)
        images = spark.read.parquet(path)
        out = ["# Physical plans of the hot path (generated by tools/explain_plans.py)\n"]
        for title, build in sections(images):
            out.append(f"\n## {title}\n\n```\n{grab(build())}```\n")
        with open("PLANS.md", "w") as f:
            f.write("".join(out))
        print("wrote PLANS.md")
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
