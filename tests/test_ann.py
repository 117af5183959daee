"""ANN over embeddings: brute-force exactness, RP-LSH recall vs brute
force, cosine dedup pairs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gaoya_spark.operators import ann
from gaoya_spark.operators.ann import (
    rp_bucket_stats,
    brute_force_topk,
    cosine_dedup_pairs,
    ivf_topk,
    rp_lsh_topk,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    d = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    d.count()
    return d


def test_brute_force_matches_numpy(spark, emb):
    pdf = emb.toPandas()
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    # numpy oracle for 3 probes
    norms = np.linalg.norm(vecs, axis=1)
    probes = emb.where(F.col("vec_id").isin([0, 1, 2]))
    got = brute_force_topk(emb, k=3, probes=probes).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["id"], r["cosine"]))
    for q in [0, 1, 2]:
        qi = np.where(ids == q)[0][0]
        cos = (vecs @ vecs[qi]) / (norms * norms[qi])
        cos[qi] = -2
        order = np.argsort(np.round(-cos, 12), kind="stable")
        top = [int(ids[i]) for i in order[:3]]
        assert [i for i, _ in by_q[q]] == top


def test_rp_lsh_finds_planted_near_duplicates(spark):
    """RP-LSH is the high-cosine near-duplicate path: every planted near-dup
    (cosine ~0.99+) must surface as its base's top-1 via the LSH buckets."""
    rng = np.random.default_rng(41)
    rows = []
    for i in range(60):
        base = rng.standard_normal(64)
        rows.append((2 * i, base.tolist()))
        near = base + rng.standard_normal(64) * 0.02
        rows.append((2 * i + 1, near.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.where("vec_id % 2 = 0")
    got = {r["qid"]: r["id"] for r in rp_lsh_topk(df, k=1, probes=probes).collect()}
    hits = sum(1 for q, i in got.items() if i == q + 1)
    assert hits >= 58, f"near-dup top-1 hits {hits}/60"


def test_ivf_topk_recall_vs_brute_force(spark, emb):
    """IVF is the generic top-k scale path: top-1 agreement with brute
    force must be high on the (clustered) embeddings table."""
    probes = emb.limit(40)
    bf = {r["qid"]: r["id"] for r in brute_force_topk(emb, k=1, probes=probes).collect()}
    # the synthetic embeddings are weakly clustered (top-1 cosine ~0.3-0.45)
    # so IVF needs a decent probe fraction; real clustered corpora do better
    ivf = {r["qid"]: r["id"] for r in
           ivf_topk(emb, k=1, probes=probes, n_cells=8, nprobe=3).collect()}
    hits = sum(1 for q in bf if ivf.get(q) == bf[q])
    assert hits / len(bf) >= 0.8, f"IVF top-1 recall {hits}/{len(bf)}"
    # probing every cell must recover brute force exactly
    full = {r["qid"]: r["id"] for r in
            ivf_topk(emb, k=1, probes=probes, n_cells=8, nprobe=8).collect()}
    assert all(full[q] == bf[q] for q in bf)


def test_ivf_centroid_fit_unbiased_on_sorted_input(spark):
    """The centroid fit must randomly sample, not take first partitions:
    on an input SORTED so that early partitions contain only one tight
    cluster, a limit()-based fit would place every centroid in that
    cluster and recall for the other clusters would collapse."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((6, 32)) * 4
    rows = []
    vid = 0
    for c in range(6):  # cluster-major order = worst case for limit()
        for _ in range(120):
            rows.append((vid, (centers[c] + rng.standard_normal(32) * 0.1).tolist()))
            vid += 1
    df = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .repartition(8, "vec_id")  # then re-sort within a coalesced layout
        .sortWithinPartitions("vec_id")
    )
    probes = df.where("vec_id % 40 = 0")
    bf = {r["qid"]: r["id"] for r in brute_force_topk(df, k=1, probes=probes).collect()}
    ivf = {r["qid"]: r["id"] for r in
           ivf_topk(df, k=1, probes=probes, n_cells=6, nprobe=2,
                    sample_limit=200).collect()}
    hits = sum(1 for q in bf if ivf.get(q) == bf[q])
    assert hits / len(bf) >= 0.9, f"IVF top-1 recall on sorted input {hits}/{len(bf)}"


def test_cosine_dedup_pairs_planted(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    near = base + rng.standard_normal(64) * 0.01
    far = rng.standard_normal(64)
    df = spark.createDataFrame(
        [(0, base.tolist()), (1, near.tolist()), (2, far.tolist())],
        "vec_id long, embedding array<double>",
    )
    pairs = cosine_dedup_pairs(df, threshold=0.95, use_lsh=False).collect()
    assert {(r["src"], r["dst"]) for r in pairs} == {(0, 1)}
    # LSH path finds the same planted pair
    pairs_lsh = cosine_dedup_pairs(df, threshold=0.95, use_lsh=True).collect()
    assert {(r["src"], r["dst"]) for r in pairs_lsh} == {(0, 1)}


def test_rp_lsh_hot_bucket_capped_and_recorded(spark, monkeypatch):
    """A constant embedding repeated 600x hashes every copy to one sign
    pattern in every table — the web-scale hot bucket. With the bucket
    cap (ann._BUCKET_CAP, pinned to 500) below the bucket size the candidate join must stay
    bounded (no quadratic pair blowup from the constant cluster), normal
    planted near-dups must still be found, and rp_bucket_stats must record
    the hot buckets (never silent)."""
    monkeypatch.setattr(ann, "_ARRAY_LIMIT", 64)
    monkeypatch.setattr(ann, "_BUCKET_CAP", 500)
    rng = np.random.default_rng(43)
    rows = []
    const = np.ones(64)
    for i in range(600):
        rows.append((10_000 + i, const.tolist()))
    for i in range(40):
        base = rng.standard_normal(64)
        rows.append((2 * i, base.tolist()))
        rows.append((2 * i + 1, (base + rng.standard_normal(64) * 0.02).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.where("vec_id < 10000 and vec_id % 2 = 0")
    got = {
        r["qid"]: r["id"]
        for r in rp_lsh_topk(
            df, k=1, probes=probes
        ).collect()
    }
    hits = sum(1 for q, i in got.items() if i == q + 1)
    assert hits >= 38, f"near-dup top-1 hits {hits}/40 with hot bucket planted"
    # probing ALL constants (600 probes x 600 index members — the
    # quadratic product the cap exists for) hits the hot branch and the
    # bucket (index side 600 > _BUCKET_CAP=500) is excluded: zero
    # matches instead of a 360k-pair blowup.
    const_probe = df.where("vec_id >= 10000")
    got_const = rp_lsh_topk(df, k=1, probes=const_probe).count()
    assert got_const == 0
    # ...and the skew metric records it: every table has >= 1 hot bucket
    stats = rp_bucket_stats(df).collect()
    assert len(stats) > 0
    assert all(r["n_dropped"] >= 1 for r in stats)


# the ANN operators that join sid candidates (or a cross join) back to
# their rows, as df (vec_id, embedding) -> (qid, id, ...) or (src, dst, ...)
ANN_OPERATORS = {
    "rp_lsh_topk": lambda df: rp_lsh_topk(df, k=2),
    "cosine_dedup_pairs.lsh": lambda df: cosine_dedup_pairs(df, threshold=0.95),
    "cosine_dedup_pairs.cross": lambda df: cosine_dedup_pairs(
        df, threshold=0.95, use_lsh=False
    ),
}


@pytest.mark.parametrize("op", sorted(ANN_OPERATORS))
def test_ann_id_types_and_null_ids(spark, op):
    """Long and string ids give the same rows, and a null id is in no
    pair or match: the null-id row holds a copy of the planted base
    vector, so without the drop it would pair with the base and its near
    copy. The string names order differently from the numeric ids."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    near = base + rng.standard_normal(64) * 0.01
    nums = [30, 4, 200, None]
    vecs = [base, near, rng.standard_normal(64), base]
    results = {}
    for dtype, to_id in (("long", int), ("string", lambda n: f"v{n}")):
        df = spark.createDataFrame(
            [(None if n is None else to_id(n), v.tolist()) for n, v in zip(nums, vecs)],
            f"vec_id {dtype}, embedding array<double>",
        )
        out = ANN_OPERATORS[op](df)
        rows = [tuple(r) for r in out.collect()]
        assert all(None not in r[:2] for r in rows), rows
        back = {to_id(n): n for n in nums if n is not None}
        got = []
        for r in rows:
            ns = (back[r[0]], back[r[1]])
            if out.columns[0] == "src":  # a pair, canonical in its own id type
                assert r[0] < r[1]
                ns = tuple(sorted(ns))
            got.append(ns + r[2:])
        results[dtype] = sorted(got)
    assert results["long"] == results["string"]
    assert (4, 30) in {r[:2] for r in results["long"]}
