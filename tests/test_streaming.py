"""Streaming incremental dedup: micro-batch logic, file-source stream via
availableNow trigger, reconciliation pass."""

import os

import pytest
from pyspark.sql import functions as F

from gaoya_spark.config import MinHashConfig, TokenizerSpec
from gaoya_spark.sources.warehouse import Warehouse
from gaoya_spark.streaming.stream_dedup import StreamingDedup

WORD = TokenizerSpec(kind="word", n_from=1, n_to=1, lowercase=True)
CFG = MinHashConfig(num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD)


def _img_rows(ids_texts):
    return [(i, t, 0) for i, t in ids_texts]


SCHEMA = "image_id long, caption string, phash long"


def test_process_batch_incremental(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sd = StreamingDedup(spark, wh, CFG)

    b0 = spark.createDataFrame(
        _img_rows([(1, "the quick brown fox jumps over the lazy dog"),
                   (2, "totally unrelated text about database engines")]),
        SCHEMA,
    )
    sd.process_batch(b0, 0)
    assert wh.read("stream_signatures").count() == 2
    labels0 = {r["id"]: r["component"] for r in wh.read("stream_labels").collect()}
    assert labels0 == {1: 1, 2: 2}

    # batch 1: near-dup of id 1 arrives -> adopts component 1
    b1 = spark.createDataFrame(
        _img_rows([(3, "the quick brown fox jumps over the lazy cat")]), SCHEMA
    )
    sd.process_batch(b1, 1)
    labels = {r["id"]: r["component"] for r in wh.read("stream_labels").collect()}
    assert labels[3] == 1
    assert wh.read("stream_signatures").count() == 3


def test_process_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch retry semantics: Spark re-runs the same batch_id after
    a mid-batch failure; replaying a batch must not double-append
    signatures/edges/labels (batch_id-partition dynamic overwrite)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sd = StreamingDedup(spark, wh, CFG)
    b0 = spark.createDataFrame(
        _img_rows([(1, "the quick brown fox jumps over the lazy dog"),
                   (2, "the quick brown fox jumps over the lazy cat")]),
        SCHEMA,
    )
    sd.process_batch(b0, 0)
    sigs_once = wh.read("stream_signatures").count()
    edges_once = wh.read("stream_edges").count()
    labels_once = sorted(
        (r["id"], r["component"]) for r in wh.read("stream_labels").collect()
    )
    sd.process_batch(b0, 0)  # replay
    assert wh.read("stream_signatures").count() == sigs_once
    assert wh.read("stream_edges").count() == edges_once
    assert sorted(
        (r["id"], r["component"]) for r in wh.read("stream_labels").collect()
    ) == labels_once


def test_file_stream_available_now(spark, tmp_path):
    src = tmp_path / "incoming"
    os.makedirs(src)
    spark.createDataFrame(
        _img_rows([(10, "alpha beta gamma delta epsilon zeta"),
                   (11, "alpha beta gamma delta epsilon eta")]),
        SCHEMA,
    ).write.parquet(str(src / "f0"))

    wh = Warehouse(spark, str(tmp_path / "wh"))
    sd = StreamingDedup(spark, wh, CFG)
    stream = spark.readStream.schema(SCHEMA).parquet(str(src) + "/*")
    q = sd.start(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    labels = {r["id"]: r["component"] for r in wh.read("stream_labels").collect()}
    assert labels == {10: 10, 11: 10}


def test_reconcile_fixes_chains(spark, tmp_path):
    """Incremental labels can split a chain across batches; reconcile
    (batch connected components over streamed edges) must merge it."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sd = StreamingDedup(spark, wh, CFG)
    sd.process_batch(
        spark.createDataFrame(
            _img_rows([(5, "one two three four five six seven eight")]), SCHEMA
        ),
        0,
    )
    sd.process_batch(
        spark.createDataFrame(
            _img_rows([(4, "one two three four five six seven nine")]), SCHEMA
        ),
        1,
    )
    # incremental rule: 4 matched 5 but min(4, comp(5)=5) = 4; 5 keeps 5 —
    # split! reconcile must co-cluster them
    labels = {r["id"]: r["component"] for r in sd.reconcile().collect()}
    assert labels[4] == labels[5] == 4


def test_stateful_first_seen_across_restarts(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: duplicates inside a batch
    and ACROSS separately-triggered runs are dropped — the second
    availableNow run restores group state from the checkpoint."""
    from gaoya_spark.streaming.stateful import first_seen_stream

    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ck"
    os.makedirs(src)
    spark.createDataFrame(
        _img_rows([(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta")]),
        SCHEMA,
    ).write.parquet(str(src / "f0"))

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(str(src) + "/*")
        q = (
            first_seen_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {(r["image_id"], r["caption"]) for r in spark.read.parquet(str(out)).collect()}
    assert {c for _, c in got} == {"alpha beta", "gamma delta"}
    assert len(got) == 2  # in-batch duplicate (id 2) dropped

    # second file: one replay of a seen caption + one new caption
    spark.createDataFrame(
        _img_rows([(4, "alpha beta"), (5, "epsilon zeta")]), SCHEMA
    ).write.parquet(str(src / "f1"))
    run_once()
    got2 = {(r["image_id"], r["caption"]) for r in spark.read.parquet(str(out)).collect()}
    assert {c for _, c in got2} == {"alpha beta", "gamma delta", "epsilon zeta"}
    assert len(got2) == 3  # id 4's duplicate dropped via RESTORED state


def test_stateful_first_seen_ttl_eviction(spark, tmp_path):
    """TTL horizon: a bucket idle past ttl_minutes is evicted from the
    state store (GroupStateTimeout processing-time timeout), so a
    duplicate arriving after the horizon is re-admitted — and without the
    idle gap the same replay is still dropped."""
    import time as _time

    from gaoya_spark.streaming.stateful import first_seen_stream

    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ck"
    os.makedirs(src)

    def run_once(expect_out: int, wait_state_empty: bool = False):
        # a query with ProcessingTimeTimeout configured NEVER
        # self-terminates under availableNow on this Spark version — once
        # all data is processed it keeps scheduling empty timeout batches
        # forever (observed via lastProgress: batchId climbing with
        # numInputRows=0 and state already empty), so awaitTermination /
        # processAllAvailable both block until their timeout. A bare
        # awaitTermination(120) burned its full 120s FIVE times per suite
        # run (621s measured for this test, ~20s of real work). Instead:
        # poll the sink for the expected row count (data processed) and
        # optionally for the state store to drain to 0 rows (the 100ms
        # TTL evicts EVERY idle bucket, so empty state is the
        # deterministic endpoint proving the expired bucket is gone),
        # then stop the query explicitly.
        stream = spark.readStream.schema(SCHEMA).parquet(str(src) + "/*")
        q = (
            first_seen_stream(stream, ttl_minutes=0.1 / 60)  # 100ms horizon
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        deadline = _time.time() + 90

        def state_rows():
            p = q.lastProgress
            ops = (p or {}).get("stateOperators") or [{}]
            return ops[0].get("numRowsTotal")

        def ready():
            try:
                if spark.read.parquet(str(out)).count() < expect_out:
                    return False
            except Exception:
                return False  # sink dir not created yet
            return not wait_state_empty or state_rows() == 0

        while _time.time() < deadline and not ready():
            _time.sleep(0.3)
        assert ready(), (
            f"timed out: sink={spark.read.parquet(str(out)).count() if os.path.exists(out) else 'missing'} "
            f"(want {expect_out}), state_rows={state_rows()} "
            f"(wait_state_empty={wait_state_empty})"
        )
        try:
            q.stop()
            q.awaitTermination(60)
        except Exception:
            # stopping can race the planning of the next (empty, timeout-
            # only) batch and surface a spurious internal error; the
            # polled conditions above are the actual assertions
            pass

    spark.createDataFrame(_img_rows([(1, "alpha beta")]), SCHEMA).write.parquet(
        str(src / "f0")
    )
    run_once(expect_out=1)
    _time.sleep(1.0)  # let the 100ms TTL lapse while the bucket is idle
    # a trigger with data for a DIFFERENT bucket fires the timeout path
    # for the expired one (timed-out keys are invoked with hasTimedOut);
    # expect_state=1 waits until the eviction batch has actually dropped
    # the expired bucket (leaving only gamma-delta's)
    spark.createDataFrame(_img_rows([(2, "gamma delta")]), SCHEMA).write.parquet(
        str(src / "f1")
    )
    run_once(expect_out=2, wait_state_empty=True)
    # replay of the evicted caption: re-admitted
    spark.createDataFrame(_img_rows([(3, "alpha beta")]), SCHEMA).write.parquet(
        str(src / "f2")
    )
    run_once(expect_out=3)
    got = [(r["image_id"], r["caption"]) for r in spark.read.parquet(str(out)).collect()]
    assert sorted(got) == [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")]
    # with a TTL comfortably above the trigger cadence, cross-run replay
    # is still deduped (same contract as the no-TTL restart test)
    src2, out2, ckpt2 = tmp_path / "in2", tmp_path / "out2", tmp_path / "ck2"
    os.makedirs(src2)

    def run_long_ttl(expect_files: int):
        # same never-terminating trigger (see run_once); here only the
        # data batches matter, so poll for the sink rows then stop. The
        # dedup drops id 4, so poll on PROCESSED input (lastProgress sees
        # the batch) rather than emitted rows for the second run.
        stream = spark.readStream.schema(SCHEMA).parquet(str(src2) + "/*")
        q = (
            first_seen_stream(stream, ttl_minutes=60)
            .writeStream.format("parquet")
            .option("path", str(out2))
            .option("checkpointLocation", str(ckpt2))
            .trigger(availableNow=True)
            .start()
        )
        deadline = _time.time() + 90

        def files_seen():
            rp = q.recentProgress or []
            return sum(int(p.get("numInputRows") or 0) for p in rp)

        while _time.time() < deadline and files_seen() < expect_files:
            _time.sleep(0.3)
        assert files_seen() >= expect_files, q.recentProgress
        q.stop()
        q.awaitTermination(60)

    spark.createDataFrame(_img_rows([(1, "alpha beta")]), SCHEMA).write.parquet(
        str(src2 / "f0")
    )
    run_long_ttl(expect_files=1)
    spark.createDataFrame(_img_rows([(4, "alpha beta")]), SCHEMA).write.parquet(
        str(src2 / "f1")
    )
    run_long_ttl(expect_files=1)
    got2 = {r["image_id"] for r in spark.read.parquet(str(out2)).collect()}
    assert got2 == {1}


def test_compaction_preserves_index_and_bounds_files(spark, tmp_path):
    """Warehouse.compact rewrites each of the three stream tables to one
    file per batch_id partition: rows identical, query results over the
    signatures identical before/after, and the file count is bounded by
    the batch count instead of batches x shuffle partitions."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sd = StreamingDedup(spark, wh, CFG, compact_every=None)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different text about database engines",
        "another unrelated caption mentioning volcanoes",
    ]
    for b in range(4):
        df = spark.createDataFrame(
            _img_rows([(10 * b + j, texts[(b + j) % len(texts)]) for j in range(2)]),
            SCHEMA,
        )
        sd.process_batch(df, b)

    def matches():
        sigs = wh.read("stream_signatures").select("id", "sig")
        return {(r["qid"], r["id"]) for r in sd.lsh.query(sigs, sigs).collect()}

    before = matches()
    tables = ("stream_signatures", "stream_edges", "stream_labels")
    rows_before = {t: wh.read(t).count() for t in tables}
    files_before = {t: wh.file_count(t) for t in tables}

    for t in tables:
        wh.compact(t, partition_by=["batch_id"])

    for t in tables:
        assert wh.read(t).count() == rows_before[t], t
        assert wh.file_count(t) <= 4, t  # one file per batch partition
    assert sum(wh.file_count(t) for t in tables) < sum(files_before.values())
    assert not wh.exists("stream_bands")
    assert matches() == before and before

    # and the next batch still processes correctly on the compacted tables
    df = spark.createDataFrame(
        _img_rows([(100, texts[0])]), SCHEMA
    )
    sd.process_batch(df, 4)
    labels = {r["id"]: r["component"] for r in wh.read("stream_labels").collect()}
    assert labels[100] == min(
        i for i, t in labels.items() if i != 100 and t == labels[100]
    ) or labels[100] == 100


PARITY_BATCHES = [
    [(1, "the quick brown fox jumps over the lazy dog"),
     (2, "the quick brown fox jumps over the lazy cat"),
     (3, "columnar storage engines scan compressed pages fast"),
     (4, "totally unrelated words about mountain weather")],
    [(5, "the quick brown fox leaps over the lazy dog"),
     (6, "columnar storage engines scan compressed pages quickly"),
     (7, "columnar storage engines scan compressed pages fast"),
     (8, "a recipe for sourdough bread with rye flour")],
    [(9, "a recipe for sourdough bread with rye flour and salt"),
     (10, "the quick brown fox jumps over the lazy dog"),
     (11, "the quick brown fox jumps over the lazy dog"),
     (12, "nothing here resembles any earlier caption at all")],
]


def _brute_stream_edges(sigs_by_batch, threshold):
    """Each batch's edges by brute force over the stored signatures: every
    row of the batch against the earlier rows of the batch and every row of
    the earlier batches, eq/k >= threshold, as (least, greatest) pairs."""
    import numpy as np

    seen, out = [], []
    for rows in sigs_by_batch:
        got = set()
        for i, (a, sa) in enumerate(rows):
            for b, sb in seen + rows[:i]:
                if np.mean(np.asarray(sa) == np.asarray(sb)) >= threshold:
                    got.add((min(a, b), max(a, b)))
        out.append(got)
        seen += rows
    return out


@pytest.mark.parametrize("route", ["broadcast_probe", "jvm"])
@pytest.mark.parametrize("id_type", ["long", "string"])
def test_stream_edges_match_brute_force(spark, tmp_path, route, id_type):
    """One probe per micro-batch finds the batch's edges against itself
    and the earlier batches: each batch's stream_edges equal a brute force
    over the signatures, on the broadcast probe and on the JVM route."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sd = StreamingDedup(spark, wh, CFG)
    if route == "jvm":
        sd.lsh._BROADCAST_BYTES = -1
    conv = str if id_type == "string" else int
    schema = f"image_id {id_type}, caption string, phash long"
    for b, rows in enumerate(PARITY_BATCHES):
        sd.process_batch(
            spark.createDataFrame(_img_rows([(conv(i), t) for i, t in rows]), schema),
            b,
        )
        assert sd.lsh.last_route[0] == route

    sigs = wh.read("stream_signatures").collect()
    by_batch = [
        [(r["id"], list(r["sig"])) for r in sigs if r["batch_id"] == b]
        for b in range(len(PARITY_BATCHES))
    ]
    want = _brute_stream_edges(by_batch, CFG.threshold)
    edges = wh.read("stream_edges").collect()
    for b in range(len(PARITY_BATCHES)):
        got = [(r["src"], r["dst"]) for r in edges if r["batch_id"] == b]
        assert len(got) == len(set(got)), b
        assert set(got) == want[b], b
    assert all(want)


@pytest.mark.parametrize("route", ["broadcast_probe", "jvm"])
def test_stream_edges_bucket_cap_counts_index_and_batch(spark, tmp_path, route):
    """The batch's edges obey query's bucket cap, counted over the index
    plus the batch: a text held by more rows than _BUCKET_CAP yields no
    edge, on either route."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sd = StreamingDedup(spark, wh, CFG)
    sd.lsh._BUCKET_CAP = 2
    if route == "jvm":
        sd.lsh._BROADCAST_BYTES = -1
    common = "the quick brown fox jumps over the lazy dog"
    other = "columnar storage engines scan compressed pages fast"
    sd.process_batch(
        spark.createDataFrame(_img_rows([(1, common), (2, common)]), SCHEMA), 0
    )
    # batch 1: `common` is now held by 3 rows (2 in the index + 1 new),
    # over the cap; `other` by 2, within it
    sd.process_batch(
        spark.createDataFrame(_img_rows([(3, common), (4, other), (5, other)]), SCHEMA),
        1,
    )
    assert sd.lsh.last_route[0] == route
    edges = {(r["batch_id"], r["src"], r["dst"]) for r in wh.read("stream_edges").collect()}
    assert edges == {(0, 1, 2), (1, 4, 5)}
