"""Stage-checkpointed table warehouse.

The north rule requires every pipeline stage (signatures, candidate edges,
label iterations, clusters, metrics) to land in a table so a 10^12-row run
is resumable mid-pipeline. With an Iceberg runtime jar on the classpath the
warehouse uses Iceberg tables (snapshots give atomic commits, MERGE/DELETE
give W3/W8 semantics); this sandbox has no Iceberg jar (verified, SURVEY.md
§7.1), so the fallback is a parquet directory per table plus a JSON stage
manifest — the same table names and resume semantics, minus snapshot
time-travel.

Write path notes for scale: every writer takes `partition_by` so huge
tables (band buckets, edges) can be partitioned for pruned reads; stage
completion is recorded only after the write finishes, so a killed run
re-executes the interrupted stage instead of trusting partial output
(parquet writes are directory-atomic enough via _SUCCESS markers; Iceberg
makes this fully atomic).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


# DDL/DML templates used when an Iceberg runtime jar is on the classpath
# (none in this sandbox — SURVEY.md §7.1). Table layout decisions for 10^12
# rows: signatures partitioned by bucket(id) so the verify join can prune;
# edges partitioned by bucket(src); snapshot retention covers resume windows.
ICEBERG_TABLE_DDL = {
    "signatures": (
        "CREATE TABLE IF NOT EXISTS {catalog}.{db}.signatures "
        "(id STRING, sig ARRAY<INT>) USING iceberg "
        "PARTITIONED BY (bucket(512, id)) "
        "TBLPROPERTIES ('write.distribution-mode'='hash', "
        "'history.expire.max-snapshot-age-ms'='604800000')"
    ),
    "candidate_edges": (
        "CREATE TABLE IF NOT EXISTS {catalog}.{db}.candidate_edges "
        "(src STRING, dst STRING) USING iceberg "
        "PARTITIONED BY (bucket(512, src))"
    ),
    "cluster_labels": (
        "CREATE TABLE IF NOT EXISTS {catalog}.{db}.cluster_labels "
        "(id STRING, component STRING) USING iceberg "
        "PARTITIONED BY (bucket(512, id))"
    ),
}

# W3 removal and W8 idempotent upsert as Iceberg DML (merge-on-read delete
# files make these metadata-cheap at scale)
ICEBERG_DELETE = "DELETE FROM {table} WHERE id IN (SELECT id FROM {ids_view})"
ICEBERG_UPSERT = (
    "MERGE INTO {table} t USING {updates_view} u ON t.id = u.id "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
)


def render_iceberg_ddl(catalog: str, db: str) -> dict[str, str]:
    """Render the stage-table DDL for a catalog/database. Parquet-fallback
    parity contract: the Warehouse exposes the SAME table names, writer
    methods, and stage-resume semantics either way — Iceberg adds snapshot
    atomicity and time travel, the parquet fallback substitutes _SUCCESS
    markers + the JSON stage manifest; pipelines never branch on which
    backend is active."""
    return {
        name: ddl.format(catalog=catalog, db=db)
        for name, ddl in ICEBERG_TABLE_DDL.items()
    }


def render_iceberg_delete(table: str, ids_view: str) -> str:
    """W3 bulk removal as Iceberg DML."""
    return ICEBERG_DELETE.format(table=table, ids_view=ids_view)


def render_iceberg_upsert(table: str, updates_view: str) -> str:
    """W8 idempotent upsert as Iceberg MERGE."""
    return ICEBERG_UPSERT.format(table=table, updates_view=updates_view)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class Warehouse:
    def __init__(self, spark: SparkSession, path: str, use_iceberg: bool | None = None):
        self.spark = spark
        self.path = path.rstrip("/")
        os.makedirs(self.path, exist_ok=True)
        self.iceberg = (
            iceberg_available(spark) if use_iceberg is None else use_iceberg
        )
        self._manifest_path = os.path.join(self.path, "_stage_manifest.json")

    # ---------------------------------------------------------------- tables
    def table_path(self, name: str) -> str:
        return os.path.join(self.path, name)

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.table_path(name))

    def overwrite_partitions(self, df: DataFrame, name: str,
                             partition_by: list[str]) -> None:
        """Dynamic partition overwrite: replaces exactly the partitions
        present in df, leaving others intact — the idempotent-append
        primitive for replayable writers (a foreachBatch retry rewrites its
        own batch_id partition instead of double-appending). Iceberg's
        INSERT OVERWRITE has the same semantics when a runtime jar exists."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.table_path(name))
        )

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """The table's rows. With schema, the parquet files are read with
        it instead of inferring one, which also reads a table that holds
        no data file (an empty partitioned write leaves only _SUCCESS)."""
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(self.table_path(name))

    def exists(self, name: str) -> bool:
        p = self.table_path(name)
        if not os.path.isdir(p):
            return False
        entries = os.listdir(p)
        return (
            "_SUCCESS" in entries
            or any(f.endswith(".parquet") for f in entries)
            # partitioned layout (key=value dirs; dynamic partition
            # overwrite does not leave a root _SUCCESS marker)
            or any("=" in f and os.path.isdir(os.path.join(p, f)) for f in entries)
        )

    def drop(self, name: str) -> None:
        shutil.rmtree(self.table_path(name), ignore_errors=True)

    def compact(self, name: str, partition_by: list[str]) -> int:
        """Rewrite a partitioned table to one file per partition,
        preserving rows and the partition layout. A maintained index
        table accretes one directory of shuffle-partition-many small files
        per micro-batch; after thousands of triggers every index probe
        pays thousands of file opens (guide §6 small-files problem). Rows
        are hash-clustered by the partition columns first so each
        partition value lands in exactly one write task.

        Parquet-fallback atomicity: the rewrite lands in a temp dir first
        and is swapped in with rename; the rm+rename window is the
        documented non-atomic residue (Iceberg's rewrite_data_files does
        this atomically — same operation, snapshot-committed). Returns the
        file count after compaction."""
        df = self.read(name)
        tmp = self.table_path(name) + "._compact_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (
            df.repartition(*[df[c] for c in partition_by])
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(tmp)
        )
        dst = self.table_path(name)
        shutil.rmtree(dst)
        os.replace(tmp, dst)
        return sum(
            1
            for _, _, files in os.walk(dst)
            for f in files
            if f.endswith(".parquet")
        )

    def file_count(self, name: str) -> int:
        """Data-file count of a table (compaction health metric)."""
        return sum(
            1
            for _, _, files in os.walk(self.table_path(name))
            for f in files
            if f.endswith(".parquet")
        )

    # -------------------------------------------------------------- manifest
    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"stages": {}}

    def _save_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self._manifest_path)

    def stage_done(self, stage: str) -> bool:
        return self._load_manifest()["stages"].get(stage, {}).get("status") == "done"

    def mark_stage(self, stage: str, **info) -> None:
        m = self._load_manifest()
        m["stages"][stage] = {"status": "done", "ts": time.time(), **info}
        self._save_manifest(m)

    def reset_stage(self, stage: str) -> None:
        m = self._load_manifest()
        m["stages"].pop(stage, None)
        self._save_manifest(m)

    def run_stage(
        self,
        stage: str,
        table: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        force: bool = False,
    ) -> DataFrame:
        """Execute a stage with resume: if the manifest marks it done and the
        table exists, read it back instead of recomputing. Returns the stage
        output DataFrame (always read from storage, so downstream stages cut
        lineage — the checkpoint IS the plan barrier). The manifest's row
        count is summed from the written files' parquet footers, so it
        costs no Spark job. The manifest also records the built frame's
        schema, and both the fresh and the resumed read use it, so a stage
        that yielded no rows reads back as an empty table with its
        columns."""
        import pyarrow.dataset as pads

        if not force and self.stage_done(stage) and self.exists(table):
            schema = self._load_manifest()["stages"][stage].get("schema")
            return self.read(
                table, StructType.fromJson(schema) if schema else None
            )
        t0 = time.time()
        df = build()
        self.write(df, table, partition_by=partition_by)
        rows = pads.dataset(self.table_path(table), format="parquet").count_rows()
        out = self.read(table, df.schema)
        wall = time.time() - t0
        self.mark_stage(
            stage,
            table=table,
            schema=df.schema.jsonValue(),
            rows=rows,
            wall_sec=round(wall, 3),
            rows_per_sec=round(rows / wall, 1) if wall > 0 else None,
        )
        return out

    def manifest(self) -> dict:
        return self._load_manifest()
