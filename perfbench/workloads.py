"""The seeded workloads. Each drives gaoya_spark only through its public API:

- `setup(rep)`   generates the inputs from the seed and loads them (and, for
                 the stream, seeds the warehouse index); timed as set-up;
- `plan(trace)`  the role of each unit of work (see run.measure);
- `unit(i)`      one timed operation: a whole batch job, or one micro-batch;
- `outputs(i)`   reads the unit's results back after the clock stops:
                 counts that must repeat exactly (`record`), recall against
                 the planted truth, and pairs that fail the threshold;
- `final_outputs()` the same checks over the whole run, after the last unit;
- `counters()`   per-layer counts that need extra Spark jobs, computed after
                 the last unit so they stay out of every span.

Per-workload facts (why, size, client count, layers stressed and bypassed)
live in workloads.json next to this file.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from gaoya_spark.fixtures import IMAGES_SCHEMA, make_images_pdf
from gaoya_spark.operators import cluster, minhash_lsh, substring
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.operators.simhash_lsh import SimHashLSH
from gaoya_spark.plans import pipeline
from gaoya_spark.plans.pipeline import DedupPipeline, PipelineConfig
from gaoya_spark.sources.warehouse import Warehouse
from gaoya_spark.streaming.stream_dedup import StreamingDedup

# (owner, attribute, layer, span name, materialize the returned frame);
# a span name may be a callable of the call's arguments. The pipeline module
# imports its operators by name, so they are patched there as well.
TRACE_TARGETS = [
    (MinHashLSH, "signatures", "signatures", "minhash.signatures", True),
    (SimHashLSH, "signatures", "signatures", "simhash.signatures", True),
    (MinHashLSH, "sid_candidates", "candidates", "sid_candidates", True),
    (MinHashLSH, "dedup_pairs", "verify", "minhash.dedup_pairs", True),
    (MinHashLSH, "query", "query", "query", True),
    (minhash_lsh, "sid_cross_pairs_from_buckets", "query", "query.candidates", True),
    (SimHashLSH, "dedup_pairs", "simhash", "simhash.dedup_pairs", True),
    (substring, "substring_pairs", "substring", "substring_pairs", True),
    (pipeline, "substring_pairs", "substring", "substring_pairs", True),
    (cluster, "connected_components", "cc", "connected_components", True),
    (pipeline, "connected_components", "cc", "connected_components", True),
    (pipeline, "clusters_from_labels", "cc", "clusters_from_labels", True),
    (Warehouse, "write", "warehouse", "warehouse.write", False),
    (Warehouse, "overwrite_partitions", "warehouse", "warehouse.write", False),
    (Warehouse, "compact", "warehouse", "warehouse.compact", False),
    (Warehouse, "run_stage", "pipeline", lambda a, kw: f"stage.{a[1]}", False),
    (StreamingDedup, "process_batch", "streaming", "process_batch", False),
]


def minhash_pairs_failing(sigs: pd.DataFrame, pairs: pd.DataFrame, threshold: float) -> int:
    """Number of pairs whose signature agreement is below the threshold
    (each one is a verify false positive)."""
    if pairs.empty:
        return 0
    pos = {v: i for i, v in enumerate(sigs["id"])}
    mat = np.stack(sigs["sig"].to_numpy())
    a = mat[pairs["src"].map(pos).to_numpy()]
    b = mat[pairs["dst"].map(pos).to_numpy()]
    return int(((a == b).mean(axis=1) < threshold).sum())


def truth_pairs(truth: pd.DataFrame, id_col: str) -> set:
    out = set()
    for _, g in truth.groupby("group_id"):
        ids = sorted(g[id_col])
        out.update((x, y) for i, x in enumerate(ids) for y in ids[i + 1:])
    return out


def pair_recall(truth: set, found: set) -> float:
    return 1.0 if not truth else len(truth & found) / len(truth)


def wh_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


class Workload:
    name = ""
    # batch jobs repeat the same job; a stream has a fixed number of batches
    repeats = True

    def __init__(self, spark: SparkSession, work: str, seed: int, cores: int, size: int | None):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def write_input(self, pdf: pd.DataFrame, schema, name: str) -> DataFrame:
        """Land generated rows as a parquet table, one file per core, and
        read it back: the program reads its input from storage."""
        p = self.path("input", name)
        self.spark.createDataFrame(pdf, schema=schema).repartition(self.cores) \
            .write.mode("overwrite").parquet(p)
        return self.spark.read.parquet(p)

    def fingerprint(self) -> str:
        """Digest of the generated inputs, compared across set-up repeats."""
        return str(pd.util.hash_pandas_object(self.pdf).sum())

    def prepare(self, i: int) -> None:
        """Untimed preparation of unit i."""

    def final_outputs(self) -> dict:
        return {}


class ImagesPipeline(Workload):
    """`DedupPipeline.run` into a fresh warehouse, with `PipelineConfig()`
    plus its optional substring stage. A batch job runs once per session, so
    its first run, JVM warm-up included, is the one timed. A traced run
    repeats the job warm, traced and then untraced."""

    name = "images_pipeline"

    def __init__(self, *a):
        super().__init__(*a)
        self.n = self.size = a[-1] or 600
        self.cfg = PipelineConfig(use_substring=True)

    def plan(self, trace: bool) -> list[str]:
        return ["warm", "trace", "ref"] if trace else ["time+"]

    def setup(self, rep: int) -> None:
        pdf, truth = make_images_pdf(self.n, seed=self.seed, dup_frac=0.2, with_bytes=False)
        self.pdf = pdf
        self.images = self.write_input(pdf, IMAGES_SCHEMA, "images")
        self.truth_set = truth_pairs(truth, "image_id")

    def unit(self, i: int) -> int:
        wh = self.path(f"wh_{i}")
        DedupPipeline(self.spark, wh, self.cfg).run(self.images)
        self.last_wh = wh
        return self.n

    def outputs(self, i: int) -> dict:
        wh = Warehouse(self.spark, self.path(f"wh_{i}"))
        man = wh.manifest()["stages"]
        labels = wh.read("labels").toPandas()
        comp = dict(zip(labels["id"], labels["component"]))
        found = {p for p in self.truth_set if comp.get(p[0]) == comp.get(p[1])}
        sigs = wh.read("minhash_signatures").toPandas()
        mh_edges = wh.read("minhash_edges").toPandas()
        out = {
            "record": {
                "minhash_edges": man["minhash_edges"]["rows"],
                "simhash_edges": man["simhash_edges"]["rows"],
                "substring_edges": man["substring_edges"]["rows"],
                "edges": man["edges"]["rows"],
                "components": int(labels["component"].nunique()),
            },
            "recall": pair_recall(self.truth_set, found),
            "false_positives": minhash_pairs_failing(sigs, mh_edges, self.cfg.minhash.threshold),
        }
        # the last warehouse is kept for counters()
        if i > 0:
            shutil.rmtree(self.path(f"wh_{i - 1}"), ignore_errors=True)
        return out

    def counters(self) -> dict:
        wh = Warehouse(self.spark, self.last_wh)
        skew = wh.read("metrics_band_skew").agg(
            F.sum("n_hot"), F.sum("n_dropped")).collect()[0]
        iters = sum(1 for d in os.listdir(wh.path) if d.startswith("labels_iter_"))
        man = wh.manifest()["stages"]
        return {
            "buckets.hot": int(skew[0] or 0),
            "buckets.dropped": int(skew[1] or 0),
            "cc.iterations": iters,
            "cc.edges_in": man["edges"]["rows"],
            "warehouse.files": wh_files(wh.path),
            **{f"stage.{k}.rows": v["rows"] for k, v in man.items() if "rows" in v},
        }


class ImagesStream(Workload):
    """One client calling `StreamingDedup.process_batch` on a fixed number
    of micro-batches against a warehouse index seeded during set-up. An
    untraced run times one batch; a traced run ingests two more, traces the
    second, which compacts, and takes its neighbours as the untraced
    reference."""

    name = "images_stream"
    repeats = False
    # batches a traced run ingests; an untraced run ingests the first
    n_batches = 3

    def __init__(self, *a):
        super().__init__(*a)
        self.batch = self.size = a[-1] or 100
        self.compact_every = 8
        # the index is batch 0; streamed ids start two short of the
        # compaction period, so the second batch compacts the four stream
        # tables
        self.batch_ids = [self.compact_every - 2 + k for k in range(self.n_batches)]
        self.n_total = 2 * self.batch * self.n_batches

    def setup(self, rep: int) -> None:
        pdf, truth = make_images_pdf(self.n_total, seed=self.seed, dup_frac=0.2, with_bytes=False)
        self.pdf = pdf
        # every planted family has its first member in the index and the
        # rest arriving later, so each true pair is found by a probe of the
        # index or inside one micro-batch, never needing an index-only edge
        sizes = truth.groupby("group_id")["image_id"].transform("size")
        first = ~truth.duplicated("group_id")
        rng = np.random.default_rng(self.seed)
        in_index = (first & (sizes > 1)).to_numpy()
        n_stream = self.batch * self.n_batches
        singles = rng.permutation(np.flatnonzero((sizes == 1).to_numpy()))
        in_index[singles[: max(0, len(pdf) - n_stream - int(in_index.sum()))]] = True
        self.index_pdf = pdf[in_index]
        rest = pdf[~in_index]
        self.stream_pdf = rest.iloc[rng.permutation(len(rest))].reset_index(drop=True)
        self.truth_set = truth_pairs(truth, "image_id")

        wh_path = self.path("stream_wh")
        shutil.rmtree(wh_path, ignore_errors=True)
        self.wh = Warehouse(self.spark, wh_path)
        self.sd = StreamingDedup(self.spark, self.wh, compact_every=self.compact_every)
        lsh, bid = self.sd.lsh, F.lit(0)
        index = self.spark.createDataFrame(self.index_pdf, schema=IMAGES_SCHEMA)
        self.wh.overwrite_partitions(
            lsh.signatures(index, "image_id", "caption", phash_col="phash").withColumn("batch_id", bid),
            "stream_signatures", ["batch_id"])
        sigs = self.wh.read("stream_signatures").where(F.col("batch_id") == 0)
        self.wh.overwrite_partitions(
            lsh.sid_bands(sigs.select("id", "sig")).withColumn("batch_id", bid),
            "stream_bands", ["batch_id"])
        self.wh.overwrite_partitions(
            sigs.select("id", F.col("id").alias("component"), "batch_id"),
            "stream_labels", ["batch_id"])

    def plan(self, trace: bool) -> list[str]:
        return ["ref", "trace", "ref"] if trace else ["time"]

    def prepare(self, i: int) -> None:
        part = self.stream_pdf.iloc[i * self.batch: (i + 1) * self.batch]
        self.batch_df = self.spark.createDataFrame(part, schema=IMAGES_SCHEMA)
        self.batch_rows = len(part)

    def unit(self, i: int) -> int:
        self.sd.process_batch(self.batch_df, self.batch_ids[i])
        return self.batch_rows

    def outputs(self, i: int) -> dict:
        bid = self.batch_ids[i]
        n = self.wh.read("stream_edges").where(F.col("batch_id") == bid).count()
        return {"record": {f"batch_{bid}_edges": n}}

    def final_outputs(self) -> dict:
        """Recall of the whole ingest, on the components of every streamed
        edge (the exact reconciliation of the incremental labels)."""
        edges = self.wh.read("stream_edges").select("src", "dst")
        nodes = self.wh.read("stream_signatures").select("id")
        labels = cluster.connected_components(edges, nodes=nodes).toPandas()
        comp = dict(zip(labels["id"], labels["component"]))
        truth = {p for p in self.truth_set if p[0] in comp and p[1] in comp}
        found = {p for p in truth if comp[p[0]] == comp[p[1]]}
        sigs = self.wh.read("stream_signatures").select("id", "sig").toPandas()
        e = edges.toPandas()
        e = pd.DataFrame({"src": e[["src", "dst"]].min(axis=1), "dst": e[["src", "dst"]].max(axis=1)})
        return {
            "recall": pair_recall(truth, found),
            "false_positives": minhash_pairs_failing(sigs, e, self.sd.cfg.threshold),
            "record": {"components": int(labels["component"].nunique())},
        }

    def counters(self) -> dict:
        return {
            "stream.index_rows": self.wh.read("stream_signatures").count(),
            "stream.index_files": self.wh.file_count("stream_signatures")
            + self.wh.file_count("stream_bands"),
            "warehouse.files": wh_files(self.wh.path),
        }


WORKLOADS = {w.name: w for w in (ImagesPipeline, ImagesStream)}
