"""Dump formatted physical plans for the hot operators into PLANS.md so
plan quality (column pruning, pushed filters, broadcast vs SMJ, codegen
spans) is reviewable without running Spark.

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import io
import os
import sys
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


def main():
    spark = get_spark("plans", cores=4, shuffle_partitions=8)
    # write a small images-shaped parquet (with bytes) to show pruning
    from gaoya_spark.fixtures import make_images_df

    path = "/tmp/plans_images"
    if not os.path.exists(path):
        df, _ = make_images_df(spark, 200, seed=1)
        df.write.mode("overwrite").parquet(path)
    images = spark.read.parquet(path)

    char34 = TokenizerSpec(kind="char", n_from=3, n_to=4, lowercase=True)
    mh = MinHashLSH(MinHashConfig(tokenizer=char34, phash_token_weight=1))
    # the fused kernel, pinned: no table is small enough to replicate
    fused_mh = MinHashLSH(mh.cfg)
    fused_mh._REPL_PREFER_KEYS = 0
    sh = SimHashLSH(SimHashConfig())

    from gaoya_spark.operators.substring import candidate_gram_pairs

    sigs = mh.signatures(images, "image_id", "caption", phash_col="phash")
    sections = {
        "minhash signatures over images parquet "
        "(EXPECT: ReadSchema only image_id/caption/phash — bytes pruned; "
        "one ArrowEvalPython node)": sigs,
        "banding, public view (EXPECT: pure project/generate, no Python, "
        "no shuffle)": mh.bands(sigs),
        "sid candidates (EXPECT: ONE MapInPandas node — the vectorized "
        "Arrow band kernel, round 5 — feeding ONE exchange on the band "
        "key into an ObjectHashAggregate collect_list, pair explosion as "
        "pure project/generate — no self-join, no dropDuplicates — then "
        "the (src,dst) count aggregate)": mh.sid_candidates(sigs),
        "dedup pairs end-to-end (EXPECT: the candidate plan above, then "
        "the equal-count as a FLAT balanced tree of per-word packed-XOR "
        "terms inside WholeStageCodegen (no higher-order aggregate — HOFs "
        "evaluate interpreted) in the signature joins — broadcast when "
        "sigs are small — and original ids attached only to verified "
        "pairs)": mh.dedup_pairs(sigs),
        "dedup pairs, size-routed default on a broadcast-fit table "
        "(EXPECT: a one-row-per-task range feeds ONE MapInPandas kernel "
        "that rebuilds the buckets from the broadcast signature matrix "
        "and verifies them — no band explode, no bucket exchange, no "
        "signature joins — then ONE narrow 16-byte-sid dropDuplicates "
        "exchange and a second tiny MapInPandas attaching original ids "
        "from the same already-shipped broadcast)": mh.dedup_pairs(
            sigs, keep_sim=False
        ),
        "dedup pairs, fused bucket verify (EXPECT: the bucket "
        "collect_list aggregate feeds a MapInPandas kernel DIRECTLY — "
        "pair generation and signature verify fused in numpy, no pair "
        "explosion, no candidate aggregate — union with the (empty at "
        "this scale) collapsed-medium and triangle tiers, then ONE "
        "narrow survivors dropDuplicates exchange and the id-attach "
        "kernel)": fused_mh.dedup_pairs(sigs, keep_sim=False),
        "simhash tables (EXPECT: project+generate only)": sh.tables(
            sh.signatures(images, "image_id", "caption")
        ),
        "simhash dedup (EXPECT: one collect_list aggregate carrying "
        "(sid, sig) structs; hamming distance filtered map-side during "
        "pair explosion, before any pair exchange)": sh.dedup_pairs(
            sh.signatures(images, "image_id", "caption")
        ),
        "substring gram candidates (EXPECT: 128-bit fingerprint struct key; "
        "same single-aggregate bucket plan as minhash)": candidate_gram_pairs(
            images, "image_id", "caption", 24
        ),
    }

    # one round of the two-phase CC inner loop (the O(log n) clustering
    # path): EXPECT two hash aggregates (the large-star and small-star
    # min-reductions) + their joins, no Python, no cartesian
    from gaoya_spark.operators.cluster import _two_phase_cc

    edges = mh.dedup_pairs(sigs).select("src", "dst")
    tp_labels, _ = _two_phase_cc(
        edges.selectExpr("src as a", "dst as b"), None, 1, None, 1
    )
    sections[
        "two-phase connected components, one round + label extraction "
        "(EXPECT: groupBy-min aggregates and equi-joins only; the "
        "localCheckpoint breaks lineage so the shown plan starts from the "
        "checkpointed round output)"
    ] = tp_labels
    out = ["# Physical plans of the hot path (generated by tools/explain_plans.py)\n"]
    for title, df in sections.items():
        out.append(f"\n## {title}\n\n```\n{grab(df)}```\n")
    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
