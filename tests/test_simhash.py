"""SimHash LSH: Hamming-ball recall vs brute force (F6 fixture, mirrors
/root/reference/gaoya/src/simhash/sim_hash_index.rs:257-298), strict-<
filter semantics (Q8), centroid majority vote (P20)."""

import numpy as np
import pytest

from gaoya_spark import hashing
from gaoya_spark.config import SimHashConfig, TokenizerSpec
from gaoya_spark.fixtures import perturbed_docs_pdf
from gaoya_spark.operators import _bucket_pairs
from gaoya_spark.operators.simhash_lsh import SimHashLSH, _block_masks

WORD = TokenizerSpec(kind="word", n_from=1, n_to=1, lowercase=True)


def _pin_triangle_tier(monkeypatch):
    """Send every SimHash bucket over 2 members to the triangle block
    join, spread over 3 block groups."""
    monkeypatch.setattr(SimHashLSH, "_ARRAY_LIMIT", 2)
    monkeypatch.setattr(_bucket_pairs, "_BLOCK_GROUPS", 3)


def test_block_masks_cover_all_bits():
    masks = _block_masks(64, 6, 5)
    assert len(masks) == 6  # C(6,1)
    full = _block_masks(64, 6, 0)
    assert len(full) == 1 and full[0] == (1 << 64) - 1
    # every bit belongs to exactly C(q-1, keep-1) masks
    masks = _block_masks(64, 8, 2)  # C(8,6)=28 masks
    assert len(masks) == 28
    import math
    per_bit = math.comb(7, 5)
    for bit in range(64):
        assert sum(1 for m in masks if m >> bit & 1) == per_bit


@pytest.fixture(scope="module")
def perturbed(spark):
    cfg = SimHashConfig(nbits=64, num_blocks=8, max_distance=6)
    lsh = SimHashLSH(cfg)
    pdf = perturbed_docs_pdf()
    df = spark.createDataFrame(pdf, schema="id long, tokens array<long>")
    sigs = lsh.signatures(df, "id", tokens_col="tokens").cache()
    sigs.count()
    return lsh, sigs, pdf


def test_index_matches_brute_force_minimum(spark, perturbed):
    """query_one over the index finds the same minimal hamming distance as
    a brute-force scan (the reference's acceptance test for the index)."""
    lsh, sigs, pdf = perturbed
    probe = sigs.where("id = 0")
    row = lsh.query_one(sigs.where("id > 0"), probe).collect()[0]

    all_sigs = {r["id"]: r["sig"] for r in sigs.collect()}
    base = np.array([all_sigs[0]])
    brute = min(
        int(hashing.hamming_distance(base, np.array([s]))[0])
        for i, s in all_sigs.items()
        if i > 0
    )
    assert row["dist"] == brute


def test_strict_distance_filter(spark, perturbed):
    """Q8: filter is strictly '<' max_distance (sim_hash_index.rs:57)."""
    lsh, sigs, _ = perturbed
    res = lsh.query(sigs, sigs.where("id = 0"), keep_distance=True)
    dists = [r["dist"] for r in res.collect()]
    assert all(d < lsh.cfg.max_distance for d in dists)


def test_dedup_pairs_symmetric_and_canonical(spark, perturbed):
    lsh, sigs, _ = perturbed
    pairs = lsh.dedup_pairs(sigs).collect()
    assert all(r["src"] < r["dst"] for r in pairs)
    assert len(pairs) > 0


def test_candidate_recall_within_ball_is_total(spark, monkeypatch):
    """Pigeonhole guarantee: every pair within hamming distance d shares at
    least one of the C(q, q-d) block masks — candidate recall 1.0, also
    when an array limit of 2 sends the buckets to the triangle block
    join."""
    cfg = SimHashConfig(nbits=64, num_blocks=6, max_distance=3)
    lsh = SimHashLSH(cfg)
    rng = np.random.default_rng(5)
    base = int(rng.integers(0, 1 << 63))
    rows = [(0, base)]
    for i in range(1, 30):
        v = base
        for b in rng.choice(64, size=int(rng.integers(0, 3)), replace=False):
            v ^= 1 << int(b)
        if v >= 1 << 63:
            v -= 1 << 64
        rows.append((i, v))
    sigs = spark.createDataFrame(rows, "id long, sig long")
    pairs = lsh.dedup_pairs(sigs)
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    # brute force
    import itertools
    want = set()
    for (i, a), (j, b) in itertools.combinations(rows, 2):
        d = int(hashing.hamming_distance(np.array([a]), np.array([b]))[0])
        if d < 3:
            want.add((min(i, j), max(i, j)))
    assert got == want
    _pin_triangle_tier(monkeypatch)
    tri = lsh.dedup_pairs(sigs)
    assert {(r["src"], r["dst"]) for r in tri.collect()} == want


def test_simhash_centroid_majority(spark):
    cfg = SimHashConfig(nbits=64, num_blocks=6, max_distance=5)
    lsh = SimHashLSH(cfg)
    # 3 sigs: bits 0,1 set in two of them -> centroid = bits 0,1
    rows = [(1, 0b011, "g"), (2, 0b011, "g"), (3, 0b100, "g")]
    df = spark.createDataFrame(rows, "id long, sig long, grp string")
    c = lsh.centroid(df, "grp").collect()[0]["centroid"]
    assert c == 0b011


def test_simhash_centroid_sign_bit(spark):
    neg = -(1 << 63)  # only bit 63 set
    df = spark.createDataFrame(
        [(1, neg, "g"), (2, neg, "g"), (3, 0, "g")], "id long, sig long, grp string"
    )
    lsh = SimHashLSH(SimHashConfig())
    c = lsh.centroid(df, "grp").collect()[0]["centroid"]
    assert c == neg


def test_text_simhash_near_duplicates(spark):
    cfg = SimHashConfig(nbits=64, num_blocks=10, max_distance=8, tokenizer=WORD)
    lsh = SimHashLSH(cfg)
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "the quick brown fox jumps over the lazy cat near the river bank today"),
            (3, "completely unrelated text about quantum chromodynamics lattice simulations"),
        ],
        "id long, text string",
    )
    sigs = lsh.signatures(docs, "id", "text")
    pairs = {(r["src"], r["dst"]) for r in lsh.dedup_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def _u128_to_words(v: int) -> list[int]:
    lo = v & ((1 << 64) - 1)
    hi = v >> 64
    if lo >= 1 << 63:
        lo -= 1 << 64
    if hi >= 1 << 63:
        hi -= 1 << 64
    return [lo, hi]


def test_u128_brute_force_parity(spark, monkeypatch):
    """128-bit SimHash (the reference's own benchmark config family:
    lsh_bench.rs:73-110 — u128, 12 blocks, d=9): the banded index returns
    exactly the brute-force Hamming-ball pair set, through the array
    tier and through the triangle block join alike."""
    import itertools

    cfg = SimHashConfig(nbits=128, num_blocks=12, max_distance=9)
    lsh = SimHashLSH(cfg)
    rng = np.random.default_rng(7)
    base = int(rng.integers(0, 1 << 62)) | (int(rng.integers(0, 1 << 62)) << 64)
    vals = [base]
    for _ in range(1, 40):
        v = base
        for b in rng.choice(128, size=int(rng.integers(0, 12)), replace=False):
            v ^= 1 << int(b)
        vals.append(v)
    rows = [(i, _u128_to_words(v)) for i, v in enumerate(vals)]
    sigs = spark.createDataFrame(rows, "id long, sig array<long>")
    got = {(r["src"], r["dst"], r["dist"]) for r in lsh.dedup_pairs(sigs).collect()}
    want = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(vals), 2):
        d = bin(a ^ b).count("1")
        if d < 9:
            want.add((min(i, j), max(i, j), d))
    assert got == want
    _pin_triangle_tier(monkeypatch)
    tri = lsh.dedup_pairs(sigs)
    assert {(r["src"], r["dst"], r["dist"]) for r in tri.collect()} == want


def test_u128_text_signatures_and_query(spark):
    """128-bit end-to-end over text: near-dup caught, unrelated not; the
    signature is a 2-word array; query_one agrees with full-scan argmin."""
    cfg = SimHashConfig(nbits=128, num_blocks=12, max_distance=9, tokenizer=WORD)
    lsh = SimHashLSH(cfg)
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "the quick brown fox jumps over the lazy cat near the river bank today"),
            (3, "completely unrelated text about quantum chromodynamics lattice simulations"),
        ],
        "id long, text string",
    )
    sigs = lsh.signatures(docs, "id", "text").cache()
    s = {r["id"]: r["sig"] for r in sigs.collect()}
    assert all(len(v) == 2 for v in s.values())
    pairs = {(r["src"], r["dst"]) for r in lsh.dedup_pairs(sigs).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_u128_centroid_words(spark):
    cfg = SimHashConfig(nbits=128, num_blocks=12, max_distance=9)
    lsh = SimHashLSH(cfg)
    neg = -(1 << 63)  # bit 63 of each word
    rows = [(1, [0b011, neg], "g"), (2, [0b011, neg], "g"), (3, [0b100, 0], "g")]
    df = spark.createDataFrame(rows, "id long, sig array<long>, grp string")
    c = lsh.centroid(df, "grp").collect()[0]["centroid"]
    assert list(c) == [0b011, neg]


def test_query_sorted_and_top_k(spark):
    """Q8/Q9 sorted return (sim_hash_index.rs:203 sorts matches by distance
    ascending) and its truncated per-probe form query_top_k."""
    from pyspark.sql import functions as F

    from gaoya_spark.config import SimHashConfig, TokenizerSpec
    from gaoya_spark.operators.simhash_lsh import SimHashLSH

    cfg = SimHashConfig(
        nbits=64, num_blocks=11, max_distance=10,
        tokenizer=TokenizerSpec(kind="word", n_from=1, n_to=1),
    )
    lsh = SimHashLSH(cfg)
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base + " today"),
            (2, base + " yesterday evening"),
            (3, "completely different words about spark clusters and shuffles"),
        ],
        "id long, text string",
    )
    sigs = lsh.signatures(docs, "id", "text").cache()
    probe = sigs.where("id = 0")
    rows = lsh.query(sigs, probe, sorted_by_distance=True).collect()
    assert [r["dist"] for r in rows] == sorted(r["dist"] for r in rows)
    assert rows[0]["id"] == 0 and rows[0]["dist"] == 0  # self-match first
    top2 = lsh.query_top_k(sigs, probe, k=2).collect()
    assert len(top2) == 2
    assert [r["id"] for r in top2] == [r["id"] for r in rows[:2]]


def test_hamming_angle_col(spark):
    """P16 hamming_angle (simhash/mod.rs:77-80): d * pi / bitlen."""
    import math

    from pyspark.sql import functions as F

    from gaoya_spark.functions.similarity import hamming_angle_col

    df = spark.createDataFrame([(0b1011, 0b0011), (7, 7)], "a long, b long")
    got = df.select(hamming_angle_col("a", "b", 64).alias("ang")).collect()
    assert abs(got[0]["ang"] - math.pi / 64) < 1e-12
    assert got[1]["ang"] == 0.0


def test_dedup_pairs_rejects_tier_keywords(spark):
    """The bucket tiers are fixed policy: a former tier keyword is an
    unexpected argument, not silently ignored."""
    lsh = SimHashLSH(SimHashConfig(nbits=64, num_blocks=6, max_distance=3))
    sigs = spark.createDataFrame([(0, 1), (1, 3)], "id long, sig long")
    with pytest.raises(TypeError, match="block_groups"):
        lsh.dedup_pairs(sigs, block_groups=3)
