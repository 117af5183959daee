"""The flagship image+caption near-duplicate pipeline (north rule).

Stages (each a checkpointed warehouse table; any run resumes mid-pipeline):

  1. minhash_signatures   — caption shingles (+ phash byte tokens) -> sig
  2. simhash_signatures   — caption tokens with phash bit voting -> sig64
  3. minhash_edges        — banded LSH pairs verified >= jaccard threshold
  4. simhash_edges        — Hamming-ball pairs, strict < max_distance
  5. substring_edges      — exact >=L-char shared-substring pairs (optional)
  6. edges                — union of edge sources, deduped
  7. labels               — connected components (per-iteration checkpoint)
  8. clusters             — labels + min_cluster_size filter
  9. metrics              — per-stage rows/wall/rows-per-sec + band-skew +
                            per-partition lineage tables

Scale design: signatures read only (id, caption, phash) — image bytes are
never shuffled (column pruning at the parquet/Iceberg scan). Edges are the
only quadratic-risk stage and are guarded by hot-bucket triangle blocking.
minhash_edges takes its route by size (MinHashLSH.dedup_pairs with
keep_sim=False): a signature table that fits one broadcast runs the exact
numpy kernel, its bands sharded across tasks, any larger table the JVM
shuffle verify; both drop band buckets over MinHashLSH._BUCKET_CAP
members and return the same pairs. Passing numpy_verify=False to
dedup_pairs forces the JVM route. The bucket limits are operator
constants, not pipeline settings: metrics_band_skew and
metrics_simhash_skew count the hot and dropped buckets at the limits
the edge stages applied.
Labels iterate over edges only (bytes untouched). The optional PSNR/caption
invariant check (verify_invariants) decodes pixels for a sampled fraction.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from gaoya_spark.config import MinHashConfig, SimHashConfig, TokenizerSpec
from gaoya_spark.operators.cluster import clusters_from_labels, connected_components
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.operators.simhash_lsh import SimHashLSH
from gaoya_spark.operators.substring import substring_pairs
from gaoya_spark.sources.warehouse import Warehouse


@dataclass
class PipelineConfig:
    minhash: MinHashConfig = field(
        default_factory=lambda: MinHashConfig(
            num_bands=42,
            band_width=3,
            threshold=0.5,
            tokenizer=TokenizerSpec(kind="char", n_from=3, n_to=4, lowercase=True),
            phash_token_weight=1,
        )
    )
    simhash: SimHashConfig = field(
        default_factory=lambda: SimHashConfig(
            nbits=64,
            num_blocks=8,
            max_distance=4,
            tokenizer=TokenizerSpec(kind="word", n_from=1, n_to=1, lowercase=True),
            phash_vote_weight=2,
        )
    )
    use_simhash: bool = True
    use_substring: bool = False
    substring_min_len: int = 24
    min_cluster_size: int = 2
    # "labelprop" (O(diameter) rounds — near-dup blobs) or "twophase"
    # (large-star/small-star, O(log n) rounds — unknown-diameter graphs)
    cluster_algorithm: str = "labelprop"
    id_col: str = "image_id"
    caption_col: str = "caption"
    phash_col: str | None = "phash"


class DedupPipeline:
    def __init__(self, spark: SparkSession, warehouse_path: str,
                 cfg: PipelineConfig | None = None):
        self.spark = spark
        self.cfg = cfg or PipelineConfig()
        self.wh = Warehouse(spark, warehouse_path)
        self._stage_meta: list[dict] = []

    # ------------------------------------------------------------------ run
    def run(self, images: DataFrame, force: bool = False) -> DataFrame:
        """Execute all stages (resuming completed ones); returns clusters
        (id, component, cluster_size)."""
        c = self.cfg
        mh = MinHashLSH(c.minhash)
        ids = images.select(F.col(c.id_col).alias("id"))

        mh_sigs = self._stage(
            "minhash_signatures",
            lambda: mh.signatures(images, c.id_col, c.caption_col, phash_col=c.phash_col),
            force,
        )
        mh_edges = self._stage(
            "minhash_edges",
            lambda: mh.dedup_pairs(mh_sigs, keep_sim=False),
            force,
        )
        edge_frames = [mh_edges]

        sh = sh_sigs = None
        if c.use_simhash:
            sh = SimHashLSH(c.simhash)
            sh_sigs = self._stage(
                "simhash_signatures",
                lambda: sh.signatures(images, c.id_col, c.caption_col, phash_col=c.phash_col),
                force,
            )
            sh_edges = self._stage(
                "simhash_edges",
                lambda: sh.dedup_pairs(sh_sigs).select("src", "dst"),
                force,
            )
            edge_frames.append(sh_edges)

        if c.use_substring:
            sub_edges = self._stage(
                "substring_edges",
                lambda: substring_pairs(
                    images, c.id_col, c.caption_col, min_len=c.substring_min_len
                ).select("src", "dst"),
                force,
            )
            edge_frames.append(sub_edges)

        edges = self._stage(
            "edges",
            lambda: _union_all(edge_frames).dropDuplicates(["src", "dst"]),
            force,
        )

        def build_labels():
            def ckpt(df, it):
                self.wh.write(df, f"labels_iter_{it}")
                return self.wh.read(f"labels_iter_{it}")

            return connected_components(
                edges, nodes=ids, checkpoint_fn=ckpt,
                algorithm=c.cluster_algorithm,
            )

        labels = self._stage("labels", build_labels, force)
        clusters = self._stage(
            "clusters",
            lambda: clusters_from_labels(labels, c.min_cluster_size),
            force,
        )
        self._write_metrics(mh, mh_sigs, sh, sh_sigs)
        return clusters

    def _stage(self, name: str, build, force: bool) -> DataFrame:
        t0 = time.time()
        resumed = self.wh.stage_done(name) and not force
        out = self.wh.run_stage(name, name, build, force=force)
        self._stage_meta.append(
            {"stage": name, "resumed": resumed, "wall_sec": round(time.time() - t0, 3)}
        )
        return out

    # -------------------------------------------------------------- metrics
    def _write_metrics(self, mh: MinHashLSH, mh_sigs: DataFrame,
                       sh: SimHashLSH | None = None,
                       sh_sigs: DataFrame | None = None) -> None:
        """North rule: per-partition lineage, rows/sec, skew metrics tables."""
        man = self.wh.manifest()["stages"]
        rows = [
            (s, str(i.get("table")), int(i.get("rows") or 0),
             float(i.get("wall_sec") or 0.0), float(i.get("rows_per_sec") or 0.0))
            for s, i in man.items()
            if not s.startswith("labels_iter")
        ]
        stage_df = self.spark.createDataFrame(
            rows, "stage string, table string, rows long, wall_sec double, rows_per_sec double"
        )
        self.wh.write(stage_df, "metrics_stages")

        # band skew (reference W5 band_sizes/BandStats analogue) + the
        # hot/dropped bucket counts at the operators' own bucket limits,
        # so buckets excluded by the hard cap are recorded, never silent
        self.wh.write(mh.band_stats(mh_sigs), "metrics_band_skew")
        if sh is not None and sh_sigs is not None:
            self.wh.write(sh.bucket_stats(sh_sigs), "metrics_simhash_skew")

        # per-partition lineage of the signatures table
        lineage = (
            mh_sigs.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count("*").alias("rows"))
            .withColumn("app_id", F.lit(self.spark.sparkContext.applicationId))
            .withColumn("table", F.lit("minhash_signatures"))
        )
        self.wh.write(lineage, "metrics_lineage")

    # ------------------------------------------------------------ invariant
    def verify_invariants(self, images_in: DataFrame, images_out: DataFrame,
                          sample_frac: float = 1.0) -> dict:
        """Per-row invariant vs the source (input_hint): caption exact
        equality and decoded-pixel PSNR >= 40 dB (inf/exact for raw)."""
        from gaoya_spark.operators.multimodal import psnr_check

        c = self.cfg
        a = images_in
        b = images_out
        if sample_frac < 1.0:
            a = a.sample(sample_frac, seed=1)
        cap_match = (
            a.select(c.id_col, F.col(c.caption_col).alias("cap_a"))
            .join(b.select(c.id_col, F.col(c.caption_col).alias("cap_b")), c.id_col)
            .agg(
                F.count("*").alias("n"),
                F.sum((F.col("cap_a") == F.col("cap_b")).cast("int")).alias("eq"),
            )
            .collect()[0]
        )
        ps = psnr_check(a, b, c.id_col)
        bad_psnr = ps.where(F.col("psnr_db") < 40.0).count()
        return {
            "rows_checked": cap_match["n"],
            "caption_equal": cap_match["eq"],
            "caption_ok": cap_match["n"] == cap_match["eq"],
            "psnr_below_40db": bad_psnr,
            "psnr_ok": bad_psnr == 0,
        }


def _union_all(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
