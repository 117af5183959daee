"""Structured-Streaming incremental near-duplicate detection.

The reference's `insert` (W1) is an in-memory mutation; the streaming
analogue is an append-only signatures table maintained by foreachBatch:

  new images -> signature UDF -> (a) every edge of the micro-batch, from
  one MinHashLSH.query of the batch against the signatures table plus the
  batch itself (a micro-batch that fits one broadcast is matched in one
  numpy pass; the batch's own pairs come back in both directions and are
  kept once as (least, greatest)), then
  (b) incremental labels: a new id adopts the smallest component among its
  matched neighbors (or itself) — the streaming approximation of label
  propagation (exact for star-shaped arrivals; a periodic batch
  connected-components pass reconciles chains, same as any incremental CC).

foreachBatch is the right tool (vs. stateful operators) because the "state"
is the warehouse signatures table itself — shared with the batch pipeline,
resumable, and unbounded-size (executor state stores are not designed for
10^12 rows of signatures; a join against a table is).

Checkpointing: Spark's streaming checkpointLocation gives exactly-once
batch ids, and every warehouse write here is keyed by that batch id: the
three stream tables (signatures, edges, labels) are partitioned by
batch_id and written with dynamic partition overwrite, so a foreachBatch
replay (Spark re-runs the same batch_id after a mid-batch failure)
rewrites its own partition instead of double-appending — idempotent by
construction.

The signatures table is the only maintained index: the probe bands the
index rows as it reads them (the broadcast route in its kernel, the JVM
route of a batch over the broadcast bound in one Arrow pass), so no band
table has to be kept in step with it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gaoya_spark.config import MinHashConfig
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.sources.warehouse import Warehouse


class StreamingDedup:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        cfg: MinHashConfig | None = None,
        id_col: str = "image_id",
        text_col: str = "caption",
        phash_col: str | None = "phash",
        compact_every: int | None = 8,
    ):
        self.spark = spark
        self.wh = warehouse
        self.cfg = cfg or MinHashConfig()
        self.lsh = MinHashLSH(self.cfg)
        self.id_col, self.text_col, self.phash_col = id_col, text_col, phash_col
        # every K batches the three stream tables are compacted to one file
        # per batch_id partition (Warehouse.compact): each micro-batch
        # write lands shuffle-partition-many small files, so an
        # uncompacted index probe after thousands of triggers would pay
        # thousands of file opens (guide §6). None disables.
        self.compact_every = compact_every

    # ---------------------------------------------------------- batch logic
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body — also callable directly for unit tests."""
        new_sigs = self.lsh.signatures(
            batch_df, self.id_col, self.text_col, phash_col=self.phash_col
        ).localCheckpoint(eager=True)

        index = new_sigs
        if self.wh.exists("stream_signatures"):
            # exclude this batch's own partition: on a foreachBatch replay
            # the previous attempt's output is already in the table, and
            # reading it back would make the replay see different state
            # than the original run (the batch twice in the index, its
            # bucket counts doubled against the cap)
            index = (
                self.wh.read("stream_signatures")
                .where(F.col("batch_id") != batch_id)
                .select("id", "sig")
                .unionByName(new_sigs)
            )
        # one probe finds every edge: the batch against the standing index
        # and against itself. query routes by the batch's size, so a
        # micro-batch that fits one broadcast is matched in one numpy pass
        # over index + batch. A pair inside the batch comes back in both
        # directions and every row matches itself, so drop self-matches
        # and keep each pair once as (least, greatest)
        edges = (
            self.lsh.query(index, new_sigs, keep_sim=False)
            .where(F.col("qid") != F.col("id"))
            .select(
                F.least("qid", "id").alias("src"),
                F.greatest("qid", "id").alias("dst"),
            )
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )

        # incremental labels: new id -> min(existing neighbor component,
        # new neighbor id, own id)
        if self.wh.exists("stream_labels"):
            labels = self.wh.read("stream_labels").where(
                F.col("batch_id") != batch_id
            )
        else:
            labels = self.spark.createDataFrame(
                [], "id string, component string"
            ) if dict(new_sigs.dtypes)["id"] == "string" else self.spark.createDataFrame(
                [], "id long, component long"
            )
        # symmetrize for the neighbor-min step: a pair (a, b) must update
        # BOTH endpoints (the stored edge list keeps one direction)
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nbr = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst", "left")
            .groupBy("src")
            .agg(
                F.min(F.coalesce(F.col("component"), F.col("dst"))).alias("nbr_comp")
            )
            .withColumnRenamed("src", "id")
        )
        new_labels = (
            new_sigs.select("id")
            .join(nbr, "id", "left")
            .select("id", F.least(F.col("id"), F.coalesce("nbr_comp", "id")).alias("component"))
        )

        # batch_id-keyed dynamic partition overwrite: a replayed batch
        # replaces its own partition (idempotent), never double-appends
        bid = F.lit(batch_id)
        self.wh.overwrite_partitions(
            new_sigs.withColumn("batch_id", bid), "stream_signatures", ["batch_id"]
        )
        self.wh.overwrite_partitions(
            edges.withColumn("batch_id", bid), "stream_edges", ["batch_id"]
        )
        self.wh.overwrite_partitions(
            new_labels.withColumn("batch_id", bid), "stream_labels", ["batch_id"]
        )

        if self.compact_every and (batch_id + 1) % self.compact_every == 0:
            # safe vs replay: compaction preserves the batch_id partition
            # dirs, so a replayed batch still overwrites exactly its own
            # partition; older batches never replay once their streaming
            # checkpoint is committed
            for t in ("stream_signatures", "stream_edges", "stream_labels"):
                if self.wh.exists(t):
                    self.wh.compact(t, partition_by=["batch_id"])

    # ------------------------------------------------------------- streaming
    def start(self, stream_df: DataFrame, checkpoint_dir: str, trigger_once: bool = True):
        """Attach to a streaming DataFrame (file source, Kafka, rate...)."""
        writer = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def reconcile(self) -> DataFrame:
        """Periodic exact pass: rerun connected components over all streamed
        edges to fix chains the incremental rule can't see; overwrites
        stream_labels."""
        from gaoya_spark.operators.cluster import connected_components

        edges = self.wh.read("stream_edges").select("src", "dst")
        nodes = self.wh.read("stream_signatures").select("id")
        labels = connected_components(edges, nodes=nodes)
        self.wh.write(labels, "stream_labels_reconciled")
        return self.wh.read("stream_labels_reconciled")
