"""S1-S3: text-file loading with sequential ids + index build, and the
warehouse table layer."""

import os

from gaoya_spark.config import MinHashConfig, TokenizerSpec
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.sources.text_source import load_and_index, load_lines
from gaoya_spark.sources.warehouse import Warehouse


def test_load_lines_sequential_ids(spark, tmp_path):
    p = tmp_path / "corpus.txt"
    lines = [f"line number {i} with some words" for i in range(25)]
    p.write_text("\n".join(lines))
    df = load_lines(spark, str(p))
    rows = {r["id"]: r["text"] for r in df.collect()}
    assert rows == {i: lines[i] for i in range(25)}


def test_load_and_index_counts(spark, tmp_path):
    p = tmp_path / "c.txt"
    p.write_text("\n".join(["aaa bbb ccc", "aaa bbb ccc", "xxx yyy zzz"]))
    lsh = MinHashLSH(MinHashConfig(tokenizer=TokenizerSpec(kind="word", n_from=1, n_to=1)))
    corpus, sigs = load_and_index(spark, str(p), lsh)
    assert corpus.count() == sigs.count() == 3
    s = {r["id"]: tuple(r["sig"]) for r in sigs.collect()}
    assert s[0] == s[1] != s[2]


def test_warehouse_roundtrip_and_manifest(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "w"))
    df = spark.range(10).withColumnRenamed("id", "x")
    out = wh.run_stage("s1", "t1", lambda: df)
    assert out.count() == 10
    assert wh.stage_done("s1")
    m = wh.manifest()["stages"]["s1"]
    assert m["rows"] == 10 and m["rows_per_sec"] > 0
    # resume: build fn must NOT be called again
    def boom():
        raise AssertionError("stage rebuilt despite manifest")
    assert wh.run_stage("s1", "t1", boom).count() == 10
    wh.reset_stage("s1")
    assert not wh.stage_done("s1")


def test_run_stage_manifest_rows_match_count(spark, tmp_path):
    """run_stage records the row count from the written files' parquet
    footers: it must equal count() of the table read back, unpartitioned,
    partitioned and empty. An empty partitioned stage writes no data
    file, so its table reads back through the schema the manifest
    records, both when run and when resumed."""
    wh = Warehouse(spark, str(tmp_path / "w"))
    df = spark.range(37).selectExpr("id", "id % 5 AS part")
    cases = {
        "flat": (df, None),
        "parted": (df, ["part"]),
        "empty": (df.where("id < 0"), None),
        "empty_parted": (df.where("id < 0"), ["part"]),
    }
    columns = {}
    for name, (d, part) in cases.items():
        out = wh.run_stage(name, name, lambda d=d: d, partition_by=part)
        assert wh.manifest()["stages"][name]["rows"] == out.count(), name
        assert sorted(out.columns) == ["id", "part"], name
        columns[name] = out.columns
    assert wh.manifest()["stages"]["parted"]["rows"] == 37
    assert wh.manifest()["stages"]["empty"]["rows"] == 0
    assert wh.manifest()["stages"]["empty_parted"]["rows"] == 0

    def boom():
        raise AssertionError("stage rebuilt despite manifest")

    for name, (_, part) in cases.items():
        resumed = wh.run_stage(name, name, boom, partition_by=part)
        assert resumed.count() == wh.manifest()["stages"][name]["rows"], name
        assert resumed.columns == columns[name], name


def test_iceberg_templates_render_and_gate(spark, tmp_path):
    """The Iceberg DDL/DML templates are untestable end-to-end in this
    sandbox (no runtime jar — SURVEY.md §7.1), so pin what IS testable:
    template rendering is complete and well-formed, the availability gate
    correctly reports the jar's absence, and the Warehouse therefore runs
    the parquet fallback with the same table/stage contract."""
    from gaoya_spark.sources.warehouse import (
        Warehouse,
        iceberg_available,
        render_iceberg_ddl,
        render_iceberg_delete,
        render_iceberg_upsert,
    )

    ddl = render_iceberg_ddl("cat", "db")
    assert set(ddl) == {"signatures", "candidate_edges", "cluster_labels"}
    for name, stmt in ddl.items():
        assert f"cat.db.{name}" in stmt
        assert "USING iceberg" in stmt
        assert "bucket(512" in stmt  # pruned-join table layout
        assert "{" not in stmt  # every placeholder substituted
    d = render_iceberg_delete("cat.db.signatures", "ids_v")
    assert d == "DELETE FROM cat.db.signatures WHERE id IN (SELECT id FROM ids_v)"
    u = render_iceberg_upsert("cat.db.signatures", "upd_v")
    assert u.startswith("MERGE INTO cat.db.signatures t USING upd_v u ON t.id = u.id")
    assert "WHEN MATCHED THEN UPDATE SET *" in u

    # the gate: no Iceberg jar here, so auto-detection must choose parquet
    assert iceberg_available(spark) is False
    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert wh.iceberg is False
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    out = wh.run_stage("s1", "t1", lambda: df)
    assert out.count() == 1 and wh.stage_done("s1")


def test_iceberg_runtime_roundtrip_when_available(spark, tmp_path):
    """Executes the rendered Iceberg DDL/DELETE/MERGE end-to-end —
    create/append/delete/merge round-trip — whenever a runtime jar IS on
    the classpath (skipped in this sandbox, which has none; the templates
    themselves are pinned by test_iceberg_templates_render_and_gate). A
    cluster image with iceberg-spark-runtime exercises this for real."""
    import pytest

    from gaoya_spark.sources.warehouse import (
        iceberg_available,
        render_iceberg_ddl,
        render_iceberg_delete,
        render_iceberg_upsert,
    )

    if not iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar on the classpath")

    cat = "ice_test"
    spark.conf.set(
        f"spark.sql.catalog.{cat}", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set(f"spark.sql.catalog.{cat}.type", "hadoop")
    spark.conf.set(
        f"spark.sql.catalog.{cat}.warehouse", str(tmp_path / "icewh")
    )
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {cat}.db")
    ddl = render_iceberg_ddl(cat, "db")
    spark.sql(ddl["signatures"])
    tbl = f"{cat}.db.signatures"
    spark.createDataFrame(
        [("a", [1, 2]), ("b", [3, 4]), ("c", [5, 6])], "id string, sig array<int>"
    ).writeTo(tbl).append()
    assert spark.table(tbl).count() == 3

    spark.createDataFrame([("b",)], "id string").createOrReplaceTempView("rm_ids")
    spark.sql(render_iceberg_delete(tbl, "rm_ids"))
    assert {r["id"] for r in spark.table(tbl).collect()} == {"a", "c"}

    spark.createDataFrame(
        [("a", [9, 9]), ("d", [7, 7])], "id string, sig array<int>"
    ).createOrReplaceTempView("upd")
    spark.sql(render_iceberg_upsert(tbl, "upd"))
    rows = {r["id"]: list(r["sig"]) for r in spark.table(tbl).collect()}
    assert rows == {"a": [9, 9], "c": [5, 6], "d": [7, 7]}
    spark.sql(f"DROP TABLE {tbl}")
