"""Property tests for the shared bucket->pairs machinery: the candidate
set and the matching-bucket count m must equal a naive per-bucket
enumeration for random memberships, across the array path, the triangle
hot path, and the drop cap."""

import itertools
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from gaoya_spark.operators._bucket_pairs import (
    sid_cross_pairs_from_buckets,
    sid_pairs_from_buckets,
)


def _expected(members, drop_cap):
    by_bk = {}
    for bk, sid in members:
        by_bk.setdefault(bk, set()).add(sid)
    m = Counter()
    for bk, sids in by_bk.items():
        if len(sids) > drop_cap:
            continue
        for a, b in itertools.combinations(sorted(sids), 2):
            m[(a, b)] += 1
    return dict(m)


# medium_bucket_limit routes the size-20/30 buckets into all three tiers:
# 1024 -> medium (collapse + array), 12 -> mixed, 8 -> triangle-only
@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("medium", [8, 12, 1024])
def test_sid_pairs_match_naive_enumeration(spark, seed, medium):
    rng = np.random.default_rng(seed)
    n_buckets, n_sids = 30, 40
    members = set()
    for bk in range(n_buckets):
        size = int(rng.integers(0, 12))
        for sid in rng.choice(n_sids, size=size, replace=False):
            members.add((bk, int(sid)))
    # a guaranteed-hot bucket and a guaranteed-dropped bucket
    for sid in range(20):
        members.add((100, sid))
    for sid in range(30):
        members.add((101, sid))
    members = sorted(members)
    df = spark.createDataFrame(members, "bk long, sid long")
    got = {
        (r["src"], r["dst"]): r["m"]
        for r in sid_pairs_from_buckets(
            df, array_bucket_limit=8, drop_cap=25, block_groups=4,
            medium_bucket_limit=medium,
        ).collect()
    }
    assert got == _expected(members, drop_cap=25)


def test_sid_pairs_drop_cap_below_array_limit(spark):
    """drop_cap binds in every tier: with drop_cap under
    array_bucket_limit, a bucket between the two is excluded too."""
    members = sorted({(0, s) for s in range(6)} | {(1, 0), (1, 1)})
    df = spark.createDataFrame(members, "bk long, sid long")
    got = {
        (r["src"], r["dst"]): r["m"]
        for r in sid_pairs_from_buckets(
            df, array_bucket_limit=8, drop_cap=4, block_groups=4
        ).collect()
    }
    assert got == _expected(members, drop_cap=4) == {(0, 1): 1}


def _expected_cross(probes, index, drop_cap, limit_sq):
    by_bk_p, by_bk_i = {}, {}
    for bk, sid in probes:
        by_bk_p.setdefault(bk, set()).add(sid)
    for bk, sid in index:
        by_bk_i.setdefault(bk, set()).add(sid)
    m = Counter()
    for bk in by_bk_p.keys() & by_bk_i.keys():
        qs, is_ = by_bk_p[bk], by_bk_i[bk]
        if len(qs) * len(is_) > limit_sq and len(is_) > drop_cap:
            continue
        for q in qs:
            for i in is_:
                m[(q, i)] += 1
    return dict(m)


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("medium", [4, 1024])
def test_sid_cross_pairs_match_naive_enumeration(spark, seed, medium):
    """Bipartite variant across all three tiers (small product, collapsed
    medium, block-joined hot) + the index-side drop cap."""
    rng = np.random.default_rng(seed)
    probes, index = set(), set()
    for bk in range(20):
        for sid in rng.choice(30, size=int(rng.integers(0, 5)), replace=False):
            probes.add((bk, int(sid)))
        for sid in rng.choice(30, size=int(rng.integers(0, 8)), replace=False):
            index.add((bk, int(sid)))
    # hot product bucket (5 probes x 12 index = 60 > 4^2) and a dropped one
    for sid in range(5):
        probes.add((100, sid))
        probes.add((101, sid))
    for sid in range(12):
        index.add((100, sid))
    for sid in range(20):
        index.add((101, sid))
    pdf = spark.createDataFrame(sorted(probes), "bk long, sid long")
    idf = spark.createDataFrame(sorted(index), "bk long, sid long")
    got = {
        (r["qid"], r["id"]): r["m"]
        for r in sid_cross_pairs_from_buckets(
            pdf, idf, array_bucket_limit=4, drop_cap=15, block_groups=4,
            medium_bucket_limit=medium,
        ).collect()
    }
    assert got == _expected_cross(probes, index, drop_cap=15, limit_sq=16)


def test_band_stats_hot_dropped_counts(spark):
    """n_hot / n_dropped count exactly the buckets above each threshold."""
    from gaoya_spark.config import MinHashConfig, TokenizerSpec
    from gaoya_spark.operators.minhash_lsh import MinHashLSH

    cfg = MinHashConfig(
        num_bands=4, band_width=2, threshold=0.5,
        tokenizer=TokenizerSpec(kind="word", n_from=1, n_to=1),
    )
    lsh = MinHashLSH(cfg)
    # 40 identical docs -> every band has exactly one bucket of size 40
    df = spark.createDataFrame(
        [(i, "same text here") for i in range(40)], "id long, text string"
    )
    stats = lsh.band_stats(
        lsh.bands(lsh.signatures(df, "id", "text")),
        max_bucket_size=8, bucket_cap_hard=50,
    ).collect()
    assert len(stats) == 4
    for r in stats:
        assert r["n_hot"] == 1 and r["n_dropped"] == 0 and r["max_bucket"] == 40
    stats2 = lsh.band_stats(
        lsh.bands(lsh.signatures(df, "id", "text")),
        max_bucket_size=8, bucket_cap_hard=30,
    ).collect()
    assert all(r["n_dropped"] == 1 for r in stats2)


def test_gram_stats_dropped(spark):
    from gaoya_spark.operators.substring import gram_stats

    df = spark.createDataFrame(
        [(i, "x" * 30) for i in range(5)] + [(9, "y" * 40)],
        "id long, text string",
    )
    r = gram_stats(df, "id", "text", min_len=24, max_gram_bucket=3).collect()[0]
    # "x"*30 has one DISTINCT 24-gram ("x"*24), shared by 5 docs (> 3) ->
    # dropped; the y-gram stays (single doc)
    assert r["n_dropped"] == 1
    assert r["max_docs_per_gram"] == 5
