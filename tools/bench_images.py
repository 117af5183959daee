"""The synthetic image corpus bench.py times, for the experiment tools
that read it (exp_r6.py, exp_r6_decomp.py, plans_r06.py,
exp_scale_dedup.py): written once to a shared parquet path, so a tool
run on a checkout where bench.py has not run yet still finds it."""

from __future__ import annotations

import os


def bench_images_path(spark, n: int = 100_000) -> str:
    """Path of the n-image parquet corpus, written first when it is
    missing exactly as bench.py writes it: make_images_pdf(n, seed=42,
    dup_frac=0.2, with_bytes=False), image_id/caption/phash, 64
    partitions."""
    path = f"/tmp/gaoya_bench_images_{n}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from gaoya_spark.fixtures import make_images_pdf

        pdf, _ = make_images_pdf(n, seed=42, dup_frac=0.2, with_bytes=False)
        spark.createDataFrame(
            pdf[["image_id", "caption", "phash"]]
        ).repartition(64).write.mode("overwrite").parquet(path)
    return path
