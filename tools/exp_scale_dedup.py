"""Scale-path dedup scaling: the DEFAULT shuffle-verify dedup_pairs
(the configuration a real cluster runs at 10^12 rows, where no
signature broadcast fits) timed at local[2] vs local[8] on the same
image input ($SPARK_GRAFT_BENCH_IMAGES rows, default 100k; the round-5
artifact uses 400k so the stage is minutes-long and latency-free) —
the N -> 4N stand-in applied to the exact path the north rule's
scaling claim is about.

bench.py's img_minhash_dedup uses numpy_verify (fastest absolute on a
single box, small-table gated); this tool evidences that the
web-scale path ALSO meets the scaling bar, so the headline bench
number and the scaling claim never rest on different paths silently.

Levels run as subprocesses, interleaved across repeats, per-level MIN
(host drift up to ~2.5x across minutes — measured, BENCH/BASELINE.md).

Usage: python tools/exp_scale_dedup.py [repeats]   # default 3
Prints one JSON line {"t2": ..., "t8": ..., "efficiency": ...}.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHILD = """
import os, sys, time
sys.path.insert(0, {repo!r})
cpus = int(sys.argv[1])
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{{cpus * 3}}g")
from pyspark.sql import functions as F
from gaoya_spark.config import MinHashConfig, TokenizerSpec
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.session import get_spark
from tools.bench_images import bench_images_path

spark = get_spark("scale_dedup", cores=cpus)
char34 = TokenizerSpec(kind="char", n_from=3, n_to=4, lowercase=True)
images = (
    spark.read.parquet(bench_images_path(spark, {n_images}))
    .repartition(cpus * 3)
    .cache()
)
images.count()
cfg = MinHashConfig(num_bands=50, band_width=4, threshold=0.5,
                    tokenizer=char34, phash_token_weight=1)
mh = MinHashLSH(cfg)
sigs = mh.signatures(images, "image_id", "caption", phash_col="phash").cache()
sigs.count()
# JVM shuffle-verify route (numpy_verify=False: by default a
# broadcast-fit table takes the numpy kernels): aggregated candidates,
# JVM packed-XOR verify via shuffle joins
t0 = time.time()
n = mh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False).count()
print("RESULT", time.time() - t0, n, flush=True)
spark.stop()
""".format(
    repo=REPO,
    n_images=int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "100000")),
)


def run_level(cpus: int) -> tuple[float, int]:
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(cpus)],
        capture_output=True, text=True, timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT"):
            _, dt, n = line.split()
            return float(dt), int(n)
    raise RuntimeError(out.stderr[-2000:])


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    best: dict[int, float] = {}
    counts: set[int] = set()
    for rep in range(reps):
        for cpus in (2, 8):
            dt, n = run_level(cpus)
            counts.add(n)
            best[cpus] = min(best.get(cpus, 1e9), dt)
            print(f"rep{rep} local[{cpus}]: {dt:.2f}s n={n}", file=sys.stderr)
    assert len(counts) == 1, f"count drift: {counts}"
    eff = (best[2] / best[8]) / 4
    print(json.dumps({
        "path": "default shuffle-verify dedup_pairs (the 10^12-row config)",
        "t2": round(best[2], 2), "t8": round(best[8], 2),
        "efficiency": round(eff, 3), "pairs": counts.pop(),
    }))


if __name__ == "__main__":
    main()
