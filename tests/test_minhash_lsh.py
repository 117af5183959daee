"""End-to-end MinHash LSH over DataFrames: corpus5 semantics, query
variants, removal, the F4 clone-with-changes recall gate, centroid."""

import pytest
from pyspark.sql import functions as F

from gaoya_spark.config import MinHashConfig, TokenizerSpec
from gaoya_spark.fixtures import corpus5_df, token_vectors_pdf
from gaoya_spark.operators import _bucket_pairs
from gaoya_spark.operators._bucket_pairs import sid_pairs_from_buckets
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.params import calculate_b_and_r

WORD = TokenizerSpec(kind="word", n_from=1, n_to=1, lowercase=True)


@pytest.fixture(scope="module")
def corpus5(spark):
    cfg = MinHashConfig(num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    sigs = lsh.signatures(corpus5_df(spark), "id", "text").cache()
    sigs.count()
    return lsh, sigs


# Every dedup_pairs(keep_sim=False) route as (options, route name). Options
# are dedup_pairs keywords; a leading "_" names a constant pinned for the
# call, of MinHashLSH or else of _bucket_pairs. In order: the forced JVM
# shuffle verify, the band-sharded broadcast kernel (the size-routed
# default at test sizes), the same kernel flushing after every bucket
# member's pairs, the forced JVM route with its medium and triangle tiers
# forced, and the guarded JVM fallback (the row bound trips).
ROUTES = [
    ({"numpy_verify": False}, "jvm"),
    ({}, "broadcast"),
    ({"_FLUSH_PAIRS": 1}, "broadcast"),
    ({"numpy_verify": False, "_ARRAY_LIMIT": 2, "_MEDIUM_LIMIT": 3}, "jvm"),
    ({"_NUMPY_MAX_ROWS": 1}, "jvm"),
]


@pytest.fixture(params=ROUTES)
def strategy(request):
    return request.param


def _dedup(lsh, sigs, opts, monkeypatch, **kw):
    """lsh.dedup_pairs(sigs, keep_sim=False) on the route that opts names
    (a ROUTES entry's options), plus extra dedup_pairs keywords. The route
    is chosen inside the call, so the pins are undone on return."""
    opts = dict(opts, **kw)
    with monkeypatch.context() as mp:
        for name in [o for o in opts if o.startswith("_")]:
            owner = MinHashLSH if hasattr(MinHashLSH, name) else _bucket_pairs
            mp.setattr(owner, name, opts.pop(name))
        return lsh.dedup_pairs(sigs, keep_sim=False, **opts)


def _pair_set(df):
    return {(r["src"], r["dst"]) for r in df.collect()}


def _matches(df, qid):
    return sorted(r["id"] for r in df.where(F.col("qid") == qid).collect())


def test_corpus5_query_groups(spark, corpus5):
    """The canonical 5-doc corpus (minhash_index.rs:892-917, README):
    docs 0-3 mutually match; doc 4 matches only itself."""
    lsh, sigs = corpus5
    res = lsh.query(sigs, sigs)  # self-probe
    for qid in range(4):
        assert _matches(res, qid) == [0, 1, 2, 3]
    assert _matches(res, 4) == [4]


def test_corpus5_remove(spark, corpus5):
    """After removing ids 0 and 4: query(doc1) = {1,2,3}, query(doc4) = {}
    (reference test behavior incl. bucket cleanup, W3)."""
    lsh, sigs = corpus5
    remaining = lsh.remove(sigs, spark.createDataFrame([(0,), (4,)], "id long"))
    res = lsh.query(remaining, sigs)
    assert _matches(res, 1) == [1, 2, 3]
    assert _matches(res, 4) == []


def test_corpus5_dedup_pairs(spark, corpus5):
    lsh, sigs = corpus5
    pairs = lsh.dedup_pairs(sigs)
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    expected = {(a, b) for a in range(4) for b in range(4) if a < b}
    assert got == expected


def test_dedup_pairs_numpy_verify_identical(spark, corpus5, monkeypatch):
    """Every route — the numpy broadcast kernels (exact same eq-count
    semantics as the packed JVM verify), the forced JVM route and the
    guarded fallback — returns the verified keep_sim=True pair set, and
    last_route names the route that ran."""
    lsh, sigs = corpus5
    base = _pair_set(lsh.dedup_pairs(sigs, numpy_verify=False))
    for opts, route in ROUTES:
        assert _pair_set(_dedup(lsh, sigs, opts, monkeypatch)) == base, opts
        assert lsh.last_route[0] == route


def test_dedup_pairs_numpy_verify_nonascii_ids(spark, monkeypatch):
    """The numpy kernels order each output pair by comparing original ids
    in Python (code-point order), claiming equality with Spark's binary
    UTF8 least/greatest — UTF-8 is order-preserving, so the claim must
    hold beyond ASCII. Clone docs carry ids mixing accents, CJK, and
    astral-plane emoji (surrogate-pair territory in UTF-16, where naive
    orderings diverge), and every route's pair set must equal the forced
    JVM keep_sim=True path's exactly."""
    ids = ["zz~ascii", "é-accent", "中文-cjk", "\U0001f600-emoji", "Zupper"]
    rows = [(i, "common shared near duplicate text body here") for i in ids]
    df = spark.createDataFrame(rows, "id string, text string")
    cfg = MinHashConfig(num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    sigs = lsh.signatures(df, "id", "text").cache()
    base = _pair_set(lsh.dedup_pairs(sigs, numpy_verify=False))
    assert len(base) == 10  # all 5 clones pair up
    for opts, _ in ROUTES:
        assert _pair_set(_dedup(lsh, sigs, opts, monkeypatch)) == base, opts


def _chain_rows(seed: int, n: int = 80) -> list[tuple[int, str]]:
    """(id, text) rows of a seeded mutation chain over a 60-word
    vocabulary: every third doc is fresh, each other one replaces 1-6 of
    the previous doc's 12 words, so overlaps hover near the threshold."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    rows: list[tuple[int, str]] = []
    for i in range(n):
        if i % 3 == 0 or not rows:
            words = rng.sample(vocab, 12)
        else:
            base = rows[-1][1].split()
            k = rng.randint(1, 6)
            words = base[: 12 - k] + rng.sample(vocab, k)
        rows.append((i, " ".join(words)))
    return rows


# (hash_size, num_bands): 42 bands (off a multiple of the session's 8
# tasks) at both hash sizes keep the bare hash-size ids; then one band,
# fewer bands than tasks, and one and two bands a task
@pytest.mark.parametrize("hash_size,num_bands", [
    (32, 42), (64, 42), (32, 1), (64, 4), (32, 8), (64, 16),
], ids=["32", "64", "32-b1", "64-b4", "32-b8", "64-b16"])
def test_dedup_pairs_numpy_verify_random_corpus(
    spark, hash_size, num_bands, monkeypatch
):
    """Seeded random corpus equivalence: every route must produce the
    forced JVM keep_sim=True path's exact pair set for BOTH matrix dtypes —
    hash_size<64 runs the int32 branch, hash_size=64 the int64 branch
    (the 2^61-1 MinHasher64V1 formula, values above 2^32) — and for
    long (non-string) ids, over a graph with partial overlaps around
    the threshold rather than clean clone groups. The band count decides
    how the broadcast kernel shards: min(8, num_bands) tasks, each with
    one band or several. Every route returns each pair once, and the
    default keep_sim=True call (the broadcast kernel) returns the forced
    JVM route's (src, dst, sim) rows, sims equal as doubles."""
    df = spark.createDataFrame(_chain_rows(97 + hash_size), "id long, text string")
    cfg = MinHashConfig(
        num_bands=num_bands, band_width=3, threshold=0.5, hash_size=hash_size,
        tokenizer=WORD,
    )
    lsh = MinHashLSH(cfg)
    sigs = lsh.signatures(df, "id", "text").cache()
    jvm = _sorted_rows(lsh.dedup_pairs(sigs, numpy_verify=False))
    base = {r[:2] for r in jvm}
    assert base  # the mutation chain must create some near-dup pairs
    assert _sorted_rows(lsh.dedup_pairs(sigs)) == jvm
    assert lsh.last_route == ("broadcast", "fits broadcast")
    for opts, _ in ROUTES:
        rows = [tuple(r) for r in _dedup(lsh, sigs, opts, monkeypatch).collect()]
        assert set(rows) == base and len(rows) == len(base), opts


def test_null_ids_in_no_pair(spark, strategy, monkeypatch):
    """A row with a null id names no document, so it is in no pair on any
    route, for long and string ids alike: three identical texts, one with
    a null id, give exactly the one pair of the other two. (xxhash64 maps
    every null to one sid; least/greatest skip nulls, so the JVM route
    would emit self-pairs, and the numpy kernels would compare ids with
    None.)"""
    opts, _ = strategy
    cfg = MinHashConfig(num_bands=8, band_width=2, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    text = "the same caption text for all three rows"
    for ids, dtype in (((1, None, 2), "long"), (("a", None, "b"), "string")):
        df = spark.createDataFrame(
            [(i, text) for i in ids], f"id {dtype}, text string"
        )
        sigs = lsh.signatures(df, "id", "text").cache()
        want = {(ids[0], ids[2])}
        assert _pair_set(_dedup(lsh, sigs, opts, monkeypatch)) == want, dtype
        assert _pair_set(lsh.dedup_pairs(sigs).select("src", "dst")) == want
        sigs.unpersist()


def test_dedup_pairs_rejects_unknown_keywords(spark, corpus5, strategy, monkeypatch):
    """dedup_pairs takes threshold, keep_sim and numpy_verify only: a
    misspelled keyword, or an option this operator no longer has (the
    bucket limits are class constants), raises TypeError on every route
    instead of being silently ignored."""
    lsh, sigs = corpus5
    opts, _ = strategy
    for bad in ({"max_bucket_sise": 8}, {"raw_candidates": True},
                {"sketch_prefilter": True}, {"gate": True},
                {"block_groups": 4}, {"medium_bucket_size": 64},
                {"persist": False}, {"max_bucket_size": 2},
                {"bucket_cap_hard": 5}):
        with pytest.raises(TypeError, match=next(iter(bad))):
            _dedup(lsh, sigs, opts, monkeypatch, **bad)
        with pytest.raises(TypeError, match=next(iter(bad))):
            lsh.dedup_pairs(sigs, **bad)


def test_upsert_overwrites(spark, corpus5):
    """W8: re-inserting an id replaces its signature cleanly (documented
    divergence from the reference's stale-band-entry behavior, test #19)."""
    lsh, sigs = corpus5
    new_doc = spark.createDataFrame(
        [(0, "completely different text about zebras and xylophones")],
        "id long, text string",
    )
    new_sigs = lsh.signatures(new_doc, "id", "text")
    updated = lsh.upsert(sigs, new_sigs)
    assert updated.count() == 5
    res = lsh.query(updated, updated)
    assert _matches(res, 1) == [1, 2, 3]
    assert _matches(res, 0) == [0]


@pytest.fixture(scope="module")
def vectors(spark):
    """F4: 300 token vectors, 3 groups of 100 (base + 99 clones with
    100/50/10 of 1000 positions mutated)."""
    b, r = calculate_b_and_r(0.5, 128)
    cfg = MinHashConfig(num_bands=b, band_width=r, threshold=0.5)
    lsh = MinHashLSH(cfg)
    pdf = token_vectors_pdf()
    df = spark.createDataFrame(pdf, schema="id long, tokens array<long>")
    sigs = lsh.signatures(df, "id", text_col=None, tokens_col="tokens").cache()
    sigs.count()
    return lsh, sigs


def test_recall_vectors_query_groups(spark, vectors):
    """Recall gate ported from minhash_index.rs:1033-1083: querying each
    base vector returns exactly its own group of 100."""
    lsh, sigs = vectors
    probes = sigs.where(F.col("id").isin([0, 100, 200]))
    res = lsh.query(sigs, probes)
    assert _matches(res, 0) == list(range(0, 100))
    assert _matches(res, 100) == list(range(100, 200))
    assert _matches(res, 200) == list(range(200, 300))


def test_recall_vectors_top_k(spark, vectors):
    lsh, sigs = vectors
    probes = sigs.where(F.col("id") == 0)
    res = lsh.query_top_k(sigs, probes, 10)
    rows = res.collect()
    assert len(rows) == 10
    assert all(0 <= r["id"] < 100 for r in rows)
    # the exact-match base must rank first
    assert sorted(rows, key=lambda r: -r["sim"])[0]["id"] == 0


def test_recall_vectors_bulk_remove(spark, vectors):
    """bulk-removing the even ids of group 1 halves it (reference test)."""
    lsh, sigs = vectors
    evens = spark.createDataFrame([(i,) for i in range(0, 100, 2)], "id long")
    remaining = lsh.remove(sigs, evens)
    probes = sigs.where(F.col("id") == 0)
    res = lsh.query(remaining, probes)
    assert _matches(res, 0) == list(range(1, 100, 2))


def test_query_one_argmax(spark, vectors):
    lsh, sigs = vectors
    probes = sigs.where(F.col("id") == 100)
    row = lsh.query_one(sigs, probes).collect()[0]
    assert row["id"] == 100 and row["sim"] == 1.0


def test_minhash_centroid_recovers_group_signature(spark, vectors):
    """P18: the per-position mode over a group of noisy clones should be
    close to the base vector's signature (most positions agree)."""
    lsh, sigs = vectors
    grouped = sigs.withColumn("grp", (F.col("id") / 100).cast("int"))
    cent = lsh.minhash_centroid(grouped.where("grp = 2"), "grp")
    c = cent.collect()[0]["centroid"]
    base = sigs.where("id = 200").collect()[0]["sig"]
    agree = sum(1 for x, y in zip(c, base) if x == y)
    assert agree / len(base) > 0.9


def test_query_by_id(spark, corpus5):
    """Q7: probe by id — group members match the group, the singleton only
    itself, unknown ids return nothing (minhash_index.rs:565-578)."""
    lsh, sigs = corpus5
    ids = spark.createDataFrame([(0,), (4,), (99,)], "id long")
    res = lsh.query_by_id(sigs, ids)
    assert _matches(res, 0) == [0, 1, 2, 3]
    assert _matches(res, 4) == [4]
    assert _matches(res, 99) == []


def test_minhash_band_centroid_known_vectors(spark):
    """P19 (mod.rs:188-214): per-band most frequent SLICE, concatenated.
    b=2, r=2: band0 slices [1,2],[1,2],[9,9] -> [1,2]; band1 slices
    [3,4],[30,40],[30,40] -> [30,40]; centroid = [1,2,30,40]."""
    cfg = MinHashConfig(num_bands=2, band_width=2, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    rows = [
        ("g", [1, 2, 3, 4]),
        ("g", [1, 2, 30, 40]),
        ("g", [9, 9, 30, 40]),
    ]
    sigs = spark.createDataFrame(rows, "grp string, sig array<int>")
    c = lsh.minhash_band_centroid(sigs, "grp").collect()[0]["centroid"]
    assert list(c) == [1, 2, 30, 40]


def test_minhash_band_centroid_beats_pointwise_recall(spark, vectors):
    """The property calculate_centroid optimizes (minhash_index.rs:746-753):
    the band centroid co-buckets with every group member in at least one
    band (its slices are, per band, the group's most popular bucket)."""
    lsh, sigs = vectors
    grouped = sigs.withColumn("grp", (F.col("id") / 100).cast("int")).where("grp = 2")
    cent = lsh.minhash_band_centroid(grouped, "grp").select(
        F.lit(-1).cast("long").alias("id"), F.col("centroid").alias("sig")
    )
    hits = lsh.query(grouped.select("id", "sig"), cent, threshold=0.0).count()
    assert hits >= grouped.count() * 0.9


def test_band_stats_shape(spark, corpus5):
    lsh, sigs = corpus5
    stats = lsh.band_stats(sigs).collect()
    assert len(stats) == 42
    assert all(r["max_bucket"] <= 5 for r in stats)


def test_hot_bucket_blocking_exact(spark, monkeypatch):
    """Triangle blocking must produce exactly the same pair set as the
    naive self-join when a bucket exceeds the array tier (and, pinned
    here, _bucket_pairs' medium limit)."""
    monkeypatch.setattr(MinHashLSH, "_ARRAY_LIMIT", 8)
    monkeypatch.setattr(_bucket_pairs, "_MEDIUM_LIMIT", 8)
    monkeypatch.setattr(_bucket_pairs, "_BLOCK_GROUPS", 4)
    cfg = MinHashConfig(num_bands=4, band_width=2, threshold=0.0, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    # 40 identical docs -> every band bucket has 40 members
    df = spark.createDataFrame([(i, "same text here") for i in range(40)], "id long, text string")
    sigs = lsh.signatures(df, "id", "text")
    pairs_blocked = lsh.candidate_pairs(sigs)
    got = {(r["src"], r["dst"]) for r in pairs_blocked.collect()}
    expected = {(a, b) for a in range(40) for b in range(40) if a < b}
    assert got == expected


def test_corpus5_with_superminhash_scheme(spark):
    """P10 end-to-end: the SuperMinHash scheme plugs into the same banded
    LSH and reproduces the canonical corpus5 query groups."""
    cfg = MinHashConfig(
        num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD,
        scheme="superminhash",
    )
    lsh = MinHashLSH(cfg)
    sigs = lsh.signatures(corpus5_df(spark), "id", "text")
    res = lsh.query(sigs, sigs)
    assert _matches(res, 0) == [0, 1, 2, 3]
    assert _matches(res, 4) == [4]


def test_dedup_pairs_keep_sim_false_same_pairs(spark):
    """On the JVM route keep_sim=False (m-band prefilter: m*r disjoint
    equal positions => sim >= m*r/k skips the equal count) returns exactly
    the keep_sim=True pair set, minus the sim column, and both equal the
    broadcast kernel's, which verifies every candidate. The caption
    fixture has both near-identical pairs (clear the m bound) and
    borderline ones."""
    from gaoya_spark.fixtures import make_images_pdf

    cfg = MinHashConfig(
        num_bands=16, band_width=2, threshold=0.5,
        tokenizer=TokenizerSpec(kind="char", n_from=3, n_to=3, lowercase=True),
    )
    lsh = MinHashLSH(cfg)
    pdf, _ = make_images_pdf(400, seed=9, dup_frac=0.4, with_bytes=False)
    docs = spark.createDataFrame(pdf[["image_id", "caption"]])
    sigs = lsh.signatures(docs, "image_id", "caption").cache()
    with_sim = _pair_set(lsh.dedup_pairs(sigs, numpy_verify=False))
    fast = lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False)
    assert fast.columns == ["src", "dst"]
    assert _pair_set(fast) == with_sim == _pair_set(lsh.dedup_pairs(sigs))
    assert lsh.last_route == ("broadcast", "fits broadcast")
    assert len(with_sim) > 0


def test_query_sorted_by_similarity(spark, corpus5):
    """Q4's similarity-descending return (minhash_index.rs:637) as an
    explicit orderBy."""
    lsh, sigs = corpus5
    probe = sigs.where("id = 0")
    rows = lsh.query(sigs, probe, sorted_by_similarity=True).collect()
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert rows[0]["id"] == 0 and rows[0]["sim"] == 1.0


def test_packed_verify_matches_unpacked(spark):
    """pack_signature_col + minhash_eq_count_packed must count exactly the
    same equal positions as the unpacked zip_with expression — including
    odd k (phantom tail half) and u32 values with the high bit set (stored
    as negative int32)."""
    import numpy as np
    from pyspark.sql import functions as F

    from gaoya_spark.functions.similarity import (
        minhash_eq_count_packed,
        minhash_similarity_col,
        pack_signature_col,
    )

    rng = np.random.default_rng(5)
    # 1031 exceeds _FLAT_KERNEL_MAX_WORDS (516 words) — exercises the
    # aggregate-fold fallback incl. its odd-k phantom-half correction
    for k in (7, 8, 200, 201, 1031):
        # u32 range incl. > 2^31 (negative as int32); force some equalities
        a = rng.integers(0, 2**32, size=k, dtype=np.uint64)
        b = a.copy()
        flip = rng.random(k) < 0.5
        b[flip] = rng.integers(0, 2**32, size=int(flip.sum()), dtype=np.uint64)
        expected = int((a == b).sum())
        to_i32 = lambda v: [int(x) - (1 << 32) if x >= 1 << 31 else int(x) for x in v]
        df = spark.createDataFrame(
            [(to_i32(a), to_i32(b))], "sa array<int>, sb array<int>"
        )
        row = df.select(
            minhash_eq_count_packed(
                pack_signature_col(F.col("sa"), k),
                pack_signature_col(F.col("sb"), k),
                k,
            ).alias("packed"),
            (minhash_similarity_col("sa", "sb", k) * k).cast("int").alias("unpacked"),
        ).collect()[0]
        assert row["packed"] == expected == row["unpacked"], (k, row, expected)


def test_packed_verify_hash_size_64_full_width(spark):
    """hash_size=64 signatures (values up to 2^61-1) cannot share a long:
    pack_signature_col must keep one position per word and the eq-count
    must compare FULL words. Regression: the u32 two-per-long packing
    truncated each position to its low 32 bits, so positions agreeing in
    the low half but differing above (here: differing ONLY in bits
    32-60) counted as equal. Covers both the flat tree and the
    beyond-_FLAT_KERNEL_MAX_WORDS fallback."""
    from pyspark.sql import functions as F

    from gaoya_spark.functions.similarity import (
        minhash_eq_count_packed,
        pack_signature_col,
    )

    for k in (4, 600):
        base = [(7 << 35) + i for i in range(k)]
        b = list(base)
        b[0] += 1 << 36          # differs above bit 32, low 32 bits equal
        b[1] = (b[1] + 1) & ((1 << 61) - 1)  # differs in low bits too
        expected = k - 2
        df = spark.createDataFrame([(base, b)], "sa array<long>, sb array<long>")
        got = df.select(
            minhash_eq_count_packed(
                pack_signature_col(F.col("sa"), k, 64),
                pack_signature_col(F.col("sb"), k, 64),
                k,
                64,
            ).alias("eq")
        ).collect()[0]["eq"]
        assert got == expected, (k, got, expected)


def test_min_eq_count_float_boundaries():
    """need = smallest e with e/k >= t under double division. ceil(t*k)
    alone over-requires at thresholds whose product rounds up in binary
    (0.07*100 = 7.000000000000001): a pair with exactly 7/100 equal
    positions DOES satisfy the JVM's 7/100 >= 0.07."""
    from gaoya_spark.operators.minhash_lsh import _min_eq_count

    for t, k, want in [(0.07, 100, 7), (0.5, 200, 100), (0.14, 100, 14),
                       (0.33, 3, 1), (1.0, 10, 10), (0.0, 10, 0)]:
        got = _min_eq_count(t, k)
        assert got == want, (t, k, got, want)
        # definitional check: got passes, got-1 does not
        assert got / k >= t
        assert got == 0 or (got - 1) / k < t


def test_numpy_verify_guards_fall_back_to_jvm(spark):
    """A duplicated id: the numpy kernels name rows by index, so they
    would pair the id with itself and score each of its rows on its own;
    the duplicate-id guard sends the table to the JVM shuffle verify,
    which joins every row of the id, and the default route returns
    exactly the forced JVM route's rows. No route pairs id 1 with itself.
    Every returned pair, with or without keep_sim, has a row pair that
    clears the threshold: id 1's last row shares no word with id 2, and
    the bands the sid pair (1, 2) shares through id 1's other rows must
    not pass it. Two of id 1's rows clear the threshold against id 2
    (sims 0.625 and 1.0): the pair comes back once, with the larger
    sim."""
    cfg = MinHashConfig(num_bands=8, band_width=2, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    rows = [(1, "a quick brown fox jumps over the lazy dog"),
            (1, "a quick brown fox jumps over the lazy cat"),
            (1, "seven pale herons waded past some muddy reeds"),
            (2, "a quick brown fox jumps over the lazy dog")]
    sigs = lsh.signatures(
        spark.createDataFrame(rows, "id long, text string"), "id", "text"
    ).cache()
    by_id = {}
    for r in sigs.collect():
        by_id.setdefault(r["id"], []).append(list(r["sig"]))
    k = cfg.num_hashes

    def supported(a, b):
        return sum(
            sum(x == y for x, y in zip(sa, sb)) / k >= 0.5
            for sa in by_id[a] for sb in by_id[b]
        )

    jvm_rows = _sorted_rows(lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False))
    auto_rows = _sorted_rows(lsh.dedup_pairs(sigs, keep_sim=False))
    assert lsh.last_route == ("jvm", "duplicate id")
    assert supported(1, 2) == 2
    assert auto_rows == jvm_rows == [(1, 2)]
    jvm_sim = _sorted_rows(lsh.dedup_pairs(sigs, numpy_verify=False))
    auto_sim = _sorted_rows(lsh.dedup_pairs(sigs))
    assert lsh.last_route == ("jvm", "duplicate id")
    assert auto_sim == jvm_sim == [(1, 2, 1.0)]
    sigs.unpersist()


def test_arrow_bands_jvm_bands_same_pairs(spark, corpus5):
    """The Arrow band kernel (splitmix64 fold) and the JVM reference
    banding (xxhash64 of slices) use different key functions but identical
    semantics: equal slices in the same band collide. Candidate sets —
    and therefore verified pair sets AND m multiplicities — must agree
    (a divergence would mean a key collision, ~2^-64)."""
    lsh, sigs = corpus5
    arrow = {
        (r["src"], r["dst"], r["m"])
        for r in lsh.sid_candidates(sigs).collect()
    }
    jvm = {
        (r["src"], r["dst"], r["m"])
        for r in sid_pairs_from_buckets(lsh._sid_bands(sigs)).collect()
    }
    assert arrow == jvm and arrow


def test_dedup_strategies_empty_and_singleton(spark, strategy, monkeypatch):
    """Every dedup route must return an empty (src, dst) frame — with
    the id-typed schema — on an empty corpus and on a single-doc corpus
    (no pair can exist), without erroring in broadcast build, banding,
    bucket kernels, or verify."""
    cfg = MinHashConfig(num_bands=8, band_width=2, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    empty = spark.createDataFrame([], "id string, text string")
    one = spark.createDataFrame([("a", "lone document text")], "id string, text string")
    for df in (empty, one):
        sigs = lsh.signatures(df, "id", "text")
        out = _dedup(lsh, sigs, strategy[0], monkeypatch)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields][:2] == ["src", "dst"]
        assert dict(out.dtypes)["src"] == "string"


# texts of the query route tests: an exact pair, a near-dup of it, a
# near-dup pair on another topic and a singleton
QUERY_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "the quick brown fox jumps over the lazy cat near the river bank today",
    "completely different words about database engines and query planners",
    "completely different words about database engines and query optimizers",
    "another unrelated caption describing a sunny beach with tall palm trees",
]
QUERY_IDS = [7, 30, 200, 1000, 45, 3]


def _query_sigs(spark, lsh, dtype="long", rows=None):
    rows = rows if rows is not None else list(zip(QUERY_IDS, QUERY_TEXTS))
    if dtype == "string":
        rows = [(None if i is None else f"doc-{i}", t) for i, t in rows]
    df = spark.createDataFrame(rows, f"id {dtype}, text string")
    return lsh.signatures(df, "id", "text")


def _probe_of(sigs):
    return sigs.orderBy("id").limit(3)


def _query_keep_sim(lsh, sigs):
    return lsh.query(sigs, _probe_of(sigs), keep_sim=True)


FITS = ("broadcast_probe", "fits broadcast")
WITH_NULL = [(None, QUERY_TEXTS[0])] + list(zip(QUERY_IDS, QUERY_TEXTS))

# name -> (id type, (id, text) rows or None for the default corpus,
# (lsh, sigs) -> a query-family result, the route it takes by default)
QUERY_CASES = {
    "long": ("long", None, _query_keep_sim, FITS),
    "int": ("int", None, _query_keep_sim, FITS),
    "string": ("string", None, _query_keep_sim, FITS),
    "no_sim": ("long", None, lambda lsh, s: lsh.query(s, _probe_of(s)), FITS),
    "null_ids": ("long", WITH_NULL, lambda lsh, s: lsh.query(s, s, keep_sim=True), FITS),
    "empty_probe": ("long", None, lambda lsh, s: lsh.query(s, s.limit(0), keep_sim=True), FITS),
    "empty_index": ("long", None, lambda lsh, s: lsh.query(s.limit(0), s, keep_sim=True), FITS),
    "query_one": ("long", None, lambda lsh, s: lsh.query_one(s, _probe_of(s)), FITS),
    "query_top_k": ("long", None, lambda lsh, s: lsh.query_top_k(s, _probe_of(s), 2), FITS),
    "query_by_id": ("string", None, lambda lsh, s: lsh.query_by_id(
        s, s.select("id").orderBy("id").limit(2), keep_sim=True), FITS),
    "dup_probe_id": ("long", None, lambda lsh, s: lsh.query(
        s, s.unionByName(s.where(F.col("id") == QUERY_IDS[2])), keep_sim=True,
    ), ("jvm", "duplicate id")),
}


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("case", sorted(QUERY_CASES))
def test_query_routes_identical(spark, case, monkeypatch):
    """query, query_one, query_top_k and query_by_id return the same rows
    (ids in their input types, sim doubles bit-equal) on the broadcast
    probe and on the JVM bucket dataflow, forced by a negative broadcast
    budget that fits no table. Covers int, long, string and null ids, an
    empty probe and index, and a duplicated probe id, which falls back to
    the JVM route."""
    dtype, rows, run, route = QUERY_CASES[case]
    lsh = MinHashLSH(
        MinHashConfig(num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD)
    )
    sigs = _query_sigs(spark, lsh, dtype, rows)
    out = run(lsh, sigs)
    assert lsh.last_route == route
    got = _sorted_rows(out)
    with monkeypatch.context() as mp:
        mp.setattr(MinHashLSH, "_BROADCAST_BYTES", -1)
        jvm_out = run(lsh, sigs)
        assert lsh.last_route[0] == "jvm"
    assert out.dtypes == jvm_out.dtypes
    assert got == _sorted_rows(jvm_out)
    assert all(None not in r[:2] for r in got)
    if case not in ("empty_probe", "empty_index"):
        assert got


def test_query_cap_excludes_bucket_on_both_routes(spark, monkeypatch):
    """_BUCKET_CAP is read by both query routes: pinned to 3, every
    band key of a text held by 5 index rows is excluded, so its exact
    copy matches nothing, while a key with 2 index rows still matches.
    Without the pin the copy matches all 5."""
    lsh = MinHashLSH(
        MinHashConfig(num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD)
    )
    a, b = QUERY_TEXTS[0], QUERY_TEXTS[3]
    index = _query_sigs(spark, lsh, rows=[(i, a) for i in range(1, 6)] + [(6, b), (7, b)])
    probe = _query_sigs(spark, lsh, rows=[(100, a), (101, b)])
    uncapped = {(r["qid"], r["id"]) for r in lsh.query(index, probe).collect()}
    assert uncapped == {(100, i) for i in range(1, 6)} | {(101, 6), (101, 7)}
    monkeypatch.setattr(MinHashLSH, "_BUCKET_CAP", 3)
    want = [(101, 6, 1.0), (101, 7, 1.0)]
    assert _sorted_rows(lsh.query(index, probe, keep_sim=True)) == want
    assert lsh.last_route == FITS
    monkeypatch.setattr(MinHashLSH, "_BROADCAST_BYTES", -1)
    assert _sorted_rows(lsh.query(index, probe, keep_sim=True)) == want
    assert lsh.last_route[0] == "jvm"


def test_broadcast_guard_boundary_identical_pairs(
    spark, corpus5, strategy, monkeypatch
):
    """Pin the broadcast row bound (_NUMPY_MAX_ROWS) below the corpus
    size: every route must fall back to (or stay on) the JVM shuffle
    verify and produce the IDENTICAL pair set — the silent-divergence
    class the guards exist to prevent."""
    lsh, sigs = corpus5
    opts, _ = strategy
    jvm = _pair_set(lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False))
    normal = _pair_set(_dedup(lsh, sigs, opts, monkeypatch))
    guarded = _pair_set(_dedup(lsh, sigs, opts, monkeypatch, _NUMPY_MAX_ROWS=1))
    assert lsh.last_route[0] == "jvm"
    assert guarded == normal == jvm and normal


def test_numpy_strategy_values_identical(spark, corpus5):
    """numpy_verify is a bool: True routes by size, False forces the JVM
    route, and both yield the exact keep_sim=True pair set. Anything else
    — such as a kernel name the option once took — raises."""
    lsh, sigs = corpus5
    base = _pair_set(lsh.dedup_pairs(sigs, numpy_verify=False))
    for nv in (True, False):
        got = _pair_set(lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=nv))
        assert got == base, nv
    for nv in (None, "fused", "agg"):
        with pytest.raises(TypeError, match="numpy_verify"):
            lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=nv)


def test_auto_route_by_size_falls_back_quietly(spark, corpus5, monkeypatch):
    """The default numpy_verify=True routes by size: a broadcast-fit
    table takes the band-sharded kernel; a table over the row bound
    (_NUMPY_MAX_ROWS) or far over the optimizer's size estimate takes the
    JVM shuffle verify. Every route returns the same pairs, and
    last_route names the route and the reason."""
    lsh, sigs = corpus5
    jvm = _pair_set(lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False))
    assert lsh.last_route == ("jvm", "requested")
    lsh.dedup_pairs(sigs)
    assert lsh.last_route == ("broadcast", "fits broadcast")
    auto = _pair_set(lsh.dedup_pairs(sigs, keep_sim=False))
    assert lsh.last_route == ("broadcast", "fits broadcast")
    with monkeypatch.context() as mp:
        mp.setattr(MinHashLSH, "_NUMPY_MAX_ROWS", 1)
        over_rows = _pair_set(lsh.dedup_pairs(sigs, keep_sim=False))
    assert lsh.last_route == ("jvm", "over row bound")
    # a byte budget far below the cached table's size estimate: the
    # estimate alone routes to the JVM verify, before any collect
    monkeypatch.setattr(MinHashLSH, "_BROADCAST_BYTES", 64)
    over_est = _pair_set(lsh.dedup_pairs(sigs, keep_sim=False))
    assert lsh.last_route == ("jvm", "over size estimate")
    assert auto == over_rows == over_est == jvm and jvm


def test_broadcast_dedup_plan_has_one_python_stage(spark, corpus5):
    """The band-sharded kernel emits id pairs itself: the optimized plan
    of dedup_pairs(keep_sim=False) on the broadcast route holds exactly
    one MapInPandas, and no second Python stage maps surrogates back to
    ids."""
    lsh, sigs = corpus5
    out = lsh.dedup_pairs(sigs, keep_sim=False)
    assert lsh.last_route == ("broadcast", "fits broadcast")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan


CHAIN = _chain_rows(7)
FAMILY_TEXT = "same boilerplate caption for every family member here"

# name -> ((id, text) rows, MinHashConfig overrides, MinHashLSH constants
# pinned for the case)
# of the keep_sim route-parity test; id types, null ids and 32-/64-bit
# signatures are covered by test_dedup_pairs_numpy_verify_random_corpus
# and the SURROGATE_OPERATORS tests of test_bucket_pairs.py
KEEP_SIM_CASES = {
    "t0.07_k100": (CHAIN, {"num_bands": 50, "band_width": 2, "threshold": 0.07}, {}),
    "empty": ([], {}, {}),
    "singleton": (CHAIN[:1], {}, {}),
    "cap_binds": (
        [(100 + i, FAMILY_TEXT) for i in range(10)] + CHAIN, {},
        {"_BUCKET_CAP": 5},
    ),
}


@pytest.mark.parametrize("case", sorted(KEEP_SIM_CASES))
def test_keep_sim_routes_identical(spark, case, monkeypatch):
    """keep_sim=True (the default) picks its route by size like
    keep_sim=False: a broadcast-fit table takes the band-sharded kernel,
    which carries each survivor's equal count, and returns exactly the
    forced JVM verify's (src, dst, sim) rows, sims equal as doubles. Covers
    the float boundary t=0.07 at k=100 (7/100 >= 0.07 holds in double
    arithmetic), an empty and a one-row table, and a _BUCKET_CAP that
    drops the buckets of a 10-doc family of identical texts."""
    rows, cfg_kw, pins = KEEP_SIM_CASES[case]
    for name, value in pins.items():
        monkeypatch.setattr(MinHashLSH, name, value)
    cfg = dict(num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(MinHashConfig(**dict(cfg, **cfg_kw)))
    df = spark.createDataFrame(rows, "id long, text string")
    sigs = lsh.signatures(df, "id", "text").cache()
    auto = lsh.dedup_pairs(sigs)
    assert lsh.last_route == ("broadcast", "fits broadcast")
    jvm = lsh.dedup_pairs(sigs, numpy_verify=False)
    assert lsh.last_route == ("jvm", "requested")
    assert auto.dtypes == jvm.dtypes == [("src", "bigint"), ("dst", "bigint"), ("sim", "double")]
    got = _sorted_rows(auto)
    assert got == _sorted_rows(jvm)
    assert len(set(got)) == len(got)
    assert all(r[0] < r[1] for r in got)
    assert bool(got) == (case not in ("empty", "singleton"))
    if case == "t0.07_k100":
        assert any(r[2] == 0.07 for r in got)
    if case == "cap_binds":
        assert not any(r[0] >= 100 for r in got)
    sigs.unpersist()


def test_replicated_drops_buckets_over_hard_cap(spark, monkeypatch):
    """_BUCKET_CAP parity: a family of 10 identical docs fills every
    band bucket with 10 members. With _BUCKET_CAP pinned to 5 (under
    _ARRAY_LIMIT, so the cap must bind in the JVM route's small tier
    too) the JVM and broadcast routes both drop those buckets
    — identical pair sets, the other pairs kept — and without the cap
    both return the family's 45 pairs. At 8 bands each of the session's
    8 tasks holds one band; at 42 bands a task holds 5 or 6, so it skips
    the family's bucket after verifying it once, and every other task
    verifies it again."""
    rows = [(i, "same boilerplate caption for every family member here")
            for i in range(10)]
    rows += [
        (100, "a quick brown fox jumps over the lazy dog"),
        (101, "a quick brown fox jumps over the lazy cat"),
        (102, "completely different words about database engines"),
    ]
    family = {(a, b) for a in range(10) for b in range(a + 1, 10)}
    for num_bands in (8, 42):
        cfg = MinHashConfig(
            num_bands=num_bands, band_width=2, threshold=0.5, tokenizer=WORD
        )
        lsh = MinHashLSH(cfg)
        sigs = lsh.signatures(
            spark.createDataFrame(rows, "id long, text string"), "id", "text"
        ).cache()
        for cap, want_family in ((5, set()), (100_000, family)):
            monkeypatch.setattr(MinHashLSH, "_BUCKET_CAP", cap)
            jvm = _pair_set(
                lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False)
            )
            auto = _pair_set(lsh.dedup_pairs(sigs, keep_sim=False))
            assert lsh.last_route == ("broadcast", "fits broadcast")
            assert auto == jvm, (num_bands, cap)
            assert (100, 101) in jvm
            assert {(a, b) for a, b in jvm if b < 10} == want_family
        sigs.unpersist()


def _counted_sigs(spark, sigs):
    """An UNCACHED copy of sigs whose sig column passes through a python
    UDF that counts its rows, so a test can see how often the signature
    table is computed."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf(returnType=sigs.schema["sig"].dataType)
    def touch(sig):
        acc.add(1)
        return sig

    rows = [(r["id"], list(r["sig"])) for r in sigs.collect()]
    base = spark.createDataFrame(rows, sigs.schema)
    return base.select("id", touch("sig").alias("sig")), acc


@pytest.mark.parametrize("strategy,route", [
    ({}, "broadcast"),
    ({"_FLUSH_PAIRS": 1}, "broadcast"),
    ({"numpy_verify": False}, "jvm"),
    ({"_NUMPY_MAX_ROWS": 1}, "jvm"),
])
def test_uncached_signatures_computed_once(
    spark, corpus5, strategy, route, monkeypatch
):
    """dedup_pairs on an uncached signature table computes each row's
    signature once on every route: the broadcast collect (and the row
    count before it, which runs because a python-computed table has no
    trusted size estimate) fills the cache that the guarded JVM route
    reads again, and the forced JVM route caches the table before its
    first read. The broadcast route reads only the broadcast and drops
    the cache."""
    lsh, sigs = corpus5
    n = sigs.count()
    counted, acc = _counted_sigs(spark, sigs)
    want = _pair_set(lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False))
    got = _pair_set(_dedup(lsh, counted, strategy, monkeypatch))
    assert lsh.last_route[0] == route
    assert got == want and want
    assert acc.value == n
    assert counted.storageLevel.useMemory == (route != "broadcast")
    counted.unpersist()


def test_size_estimate_trusted_only_where_it_measures(
    spark, corpus5, tmp_path, monkeypatch
):
    """The size estimate is used only where it measures the collected
    rows: every column of a filled cache or a file scan read through
    projections. A filter, an unread column or python-computed signatures
    give None, and so the row-count probe decides. An uncached scan over
    the budget routes on the estimate alone (dedup_pairs caches sig_df
    only after reading it)."""
    lsh, sigs = corpus5

    def est(df):
        return lsh._size_estimate(df.select("id", "sig"))

    sigs.write.parquet(str(tmp_path / "sigs"))
    sigs.withColumn("pad", F.lit("x")).write.parquet(str(tmp_path / "padded"))
    scan = spark.read.parquet(str(tmp_path / "sigs"))
    assert est(sigs) > 0
    assert est(scan) > 0
    assert est(spark.read.parquet(str(tmp_path / "padded"))) is None
    assert est(scan.where("id > 2")) is None
    assert est(_counted_sigs(spark, sigs)[0]) is None
    assert est(sigs.where("id > 2")) is None
    want = _pair_set(lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=False))
    monkeypatch.setattr(MinHashLSH, "_BROADCAST_BYTES", 64)
    got = _pair_set(lsh.dedup_pairs(scan, keep_sim=False))
    assert lsh.last_route == ("jvm", "over size estimate")
    assert got == want and want
    scan.unpersist()
