"""Round-6 doc_substring decomposition: where does the gram path spend
its time? Compares the shipped sort+adjacent-filter fp128 dedup against
the old array_distinct-over-structs variant, plus stage isolations
(members noop, candidates without the id joins). Interleaved per-variant
MINs; counts asserted.

Usage: python tools/exp_substr.py [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(3 * CPUS, 72)}g")

    from pyspark.sql import functions as F

    from gaoya_spark.operators import substring as su
    from gaoya_spark.operators._bucket_pairs import sid_pairs_from_buckets
    from gaoya_spark.session import get_spark

    spark = get_spark("exp_substr", cores=CPUS)
    docs = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .repartition(CPUS * 2)
        .cache()
    )
    docs.count()
    min_len = 24

    def grams_distinct_structs(text_col):
        """The pre-r6 variant: array_distinct over fp128 structs
        (pairwise O(n^2) equality for non-primitive element types)."""
        n_positions = F.length(text_col) - F.lit(min_len - 1)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(n_positions, F.lit(1))),
            lambda i: F.struct(
                F.xxhash64(text_col.substr(i, F.lit(min_len))).alias("h1"),
                F.xxhash64(text_col.substr(i, F.lit(min_len)), F.lit(1)).alias("h2"),
            ),
        )
        return F.when(n_positions >= 1, F.array_distinct(grams)).otherwise(
            F.array().cast("array<struct<h1:bigint,h2:bigint>>")
        )

    def members_current():
        has_len = docs.where(F.length("text") >= min_len)
        gs = has_len.select(
            F.xxhash64(F.col("doc_id")).alias("sid"),
            su._gram_fp128_sorted(F.col("text"), min_len).alias("gs"),
        )
        dedup = F.filter(
            F.col("gs"),
            lambda x, i: (i == F.lit(0)) | ~(x == F.element_at(F.col("gs"), i)),
        )
        return gs.select("sid", F.explode(dedup).alias("bk"))

    def members_old():
        has_len = docs.where(F.length("text") >= min_len)
        return has_len.select(
            F.xxhash64(F.col("doc_id")).alias("sid"),
            F.explode(grams_distinct_structs(F.col("text"))).alias("bk"),
        )

    def noop(df) -> int:
        df.write.format("noop").mode("overwrite").save()
        return -1

    variants = {
        "members_sortfilter_noop": lambda: noop(members_current()),
        "members_distinct_noop": lambda: noop(members_old()),
        "cand_sortfilter": lambda: sid_pairs_from_buckets(
            members_current(), array_bucket_limit=512, drop_cap=10_000
        ).count(),
        "full_current": lambda: su.substring_pairs(
            docs, "doc_id", "text", min_len=min_len
        ).count(),
        "full_old_distinct": lambda: sid_pairs_from_buckets(
            members_old(), array_bucket_limit=512, drop_cap=10_000
        ).count(),
    }
    res: dict[str, float] = {}
    counts: dict[str, int] = {}
    for _ in range(reps):
        for name, fn in variants.items():
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
            if name in counts:
                assert counts[name] == n
            counts[name] = n
            res[name] = min(res.get(name, 1e9), dt)
            print(f"  {name}: {dt:6.2f}s n={n}", flush=True)
    assert counts["cand_sortfilter"] == counts["full_old_distinct"]
    assert counts["full_current"] == counts["cand_sortfilter"]
    print("MIN:", {k: round(v, 2) for k, v in res.items()}, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
