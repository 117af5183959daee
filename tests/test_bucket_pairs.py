"""Property tests for the shared bucket->pairs machinery: the candidate
set and the matching-bucket count m must equal a naive per-bucket
enumeration for random memberships, across the array path, the triangle
hot path, and the drop cap. The id surrogate (sid_rows / join_rows) is
checked through every operator that uses it: null ids are in no pair and
no match, a duplicated id gives each pair once, and int, long and string
ids give the same pairs."""

import itertools
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from gaoya_spark.config import MinHashConfig, SimHashConfig, TokenizerSpec
from gaoya_spark.operators import _bucket_pairs
from gaoya_spark.operators._bucket_pairs import (
    sid_cross_pairs_from_buckets,
    sid_pairs_from_buckets,
)
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.operators.simhash_lsh import SimHashLSH
from gaoya_spark.operators.substring import substring_pairs
from gaoya_spark.operators.text import ngram_jaccard_pairs


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


# _MEDIUM_LIMIT, pinned to `medium`, routes the size-20/30 buckets into
# all three tiers: 1024 -> medium (collapse + array), 12 -> mixed, 8 ->
# triangle-only; _BLOCK_GROUPS is pinned to 4 blocks
@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("medium", [8, 12, 1024])
def test_sid_pairs_match_naive_enumeration(spark, seed, medium, monkeypatch):
    monkeypatch.setattr(_bucket_pairs, "_BLOCK_GROUPS", 4)
    monkeypatch.setattr(_bucket_pairs, "_MEDIUM_LIMIT", medium)
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
            df, array_bucket_limit=8, drop_cap=25
        ).collect()
    }
    assert got == _expected(members, drop_cap=25)


def test_sid_pairs_drop_cap_below_array_limit(spark, monkeypatch):
    """drop_cap binds in every tier: with drop_cap under
    array_bucket_limit, a bucket between the two is excluded too."""
    monkeypatch.setattr(_bucket_pairs, "_BLOCK_GROUPS", 4)
    members = sorted({(0, s) for s in range(6)} | {(1, 0), (1, 1)})
    df = spark.createDataFrame(members, "bk long, sid long")
    got = {
        (r["src"], r["dst"]): r["m"]
        for r in sid_pairs_from_buckets(
            df, array_bucket_limit=8, drop_cap=4
        ).collect()
    }
    assert got == _expected(members, drop_cap=4) == {(0, 1): 1}


def _expected_cross(probes, index, drop_cap):
    by_bk_p, by_bk_i = {}, {}
    for bk, sid in probes:
        by_bk_p.setdefault(bk, set()).add(sid)
    for bk, sid in index:
        by_bk_i.setdefault(bk, set()).add(sid)
    m = Counter()
    for bk in by_bk_p.keys() & by_bk_i.keys():
        qs, is_ = by_bk_p[bk], by_bk_i[bk]
        if len(is_) > drop_cap:
            continue
        for q in qs:
            for i in is_:
                m[(q, i)] += 1
    return dict(m)


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("medium", [4, 1024])
def test_sid_cross_pairs_match_naive_enumeration(spark, seed, medium, monkeypatch):
    """Bipartite variant across all three tiers (small product, collapsed
    medium, block-joined hot; _MEDIUM_LIMIT pinned to `medium`,
    _BLOCK_GROUPS to 4) + the index-side drop cap, which binds in every
    tier: an over-cap bucket whose product fits the small tier is
    excluded too."""
    monkeypatch.setattr(_bucket_pairs, "_BLOCK_GROUPS", 4)
    monkeypatch.setattr(_bucket_pairs, "_MEDIUM_LIMIT", medium)
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
    # one probe x 16 index members: a small-tier product over the cap
    probes.add((102, 0))
    for sid in range(16):
        index.add((102, sid))
    pdf = spark.createDataFrame(sorted(probes), "bk long, sid long")
    idf = spark.createDataFrame(sorted(index), "bk long, sid long")
    got = {
        (r["qid"], r["id"]): r["m"]
        for r in sid_cross_pairs_from_buckets(
            pdf, idf, array_bucket_limit=4, drop_cap=15
        ).collect()
    }
    assert got == _expected_cross(probes, index, drop_cap=15)


def test_band_stats_hot_dropped_counts(spark, monkeypatch):
    """n_hot / n_dropped count exactly the buckets above MinHashLSH's
    _ARRAY_LIMIT / _BUCKET_CAP."""
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
    monkeypatch.setattr(MinHashLSH, "_ARRAY_LIMIT", 8)
    monkeypatch.setattr(MinHashLSH, "_BUCKET_CAP", 50)
    stats = lsh.band_stats(lsh.signatures(df, "id", "text")).collect()
    assert len(stats) == 4
    for r in stats:
        assert r["n_hot"] == 1 and r["n_dropped"] == 0 and r["max_bucket"] == 40
    monkeypatch.setattr(MinHashLSH, "_BUCKET_CAP", 30)
    stats2 = lsh.band_stats(lsh.signatures(df, "id", "text")).collect()
    assert all(r["n_dropped"] == 1 for r in stats2)


def test_gram_stats_dropped(spark, monkeypatch):
    from gaoya_spark.operators import substring
    from gaoya_spark.operators.substring import gram_stats

    monkeypatch.setattr(substring, "_BUCKET_CAP", 3)

    df = spark.createDataFrame(
        [(i, "x" * 30) for i in range(5)] + [(9, "y" * 40)],
        "id long, text string",
    )
    r = gram_stats(df, "id", "text", min_len=24).collect()[0]
    # "x"*30 has one DISTINCT 24-gram ("x"*24), shared by 5 docs (> 3) ->
    # dropped; the y-gram stays (single doc)
    assert r["n_dropped"] == 1
    assert r["max_docs_per_gram"] == 5


WORD = TokenizerSpec(kind="word", n_from=1, n_to=1, lowercase=True)


def _mh():
    return MinHashLSH(
        MinHashConfig(num_bands=8, band_width=2, threshold=0.5, tokenizer=WORD)
    )


def _sh():
    return SimHashLSH(SimHashConfig(tokenizer=WORD))


def _on_sigs(lsh, method, df, **kw):
    """lsh.<method> over df's signatures; a query probes the index with
    the index itself."""
    sigs = lsh.signatures(df, "id", "text")
    if method == "query":
        return lsh.query(sigs, sigs, **kw)
    return getattr(lsh, method)(sigs, **kw)


# Every operator that turns ids into surrogates and back, as df (id, text)
# -> (src, dst, ...) pairs or (qid, id, ...) query matches.
SURROGATE_OPERATORS = {
    "simhash.dedup_pairs": lambda df: _on_sigs(_sh(), "dedup_pairs", df),
    "simhash.candidate_pairs": lambda df: _on_sigs(_sh(), "candidate_pairs", df),
    "simhash.query": lambda df: _on_sigs(_sh(), "query", df, keep_distance=True),
    "substring_pairs": lambda df: substring_pairs(df, "id", "text"),
    "substring_pairs.grams": lambda df: substring_pairs(df, "id", "text", verify="grams"),
    "substring_pairs.lcs": lambda df: substring_pairs(df, "id", "text", verify="lcs"),
    "ngram_jaccard_pairs": lambda df: ngram_jaccard_pairs(df, "id", "text", threshold=0.5),
    "minhash.dedup_pairs": lambda df: _on_sigs(_mh(), "dedup_pairs", df, keep_sim=False),
    "minhash.dedup_pairs.keep_sim": lambda df: _on_sigs(_mh(), "dedup_pairs", df),
    "minhash.dedup_pairs.keep_sim.jvm": lambda df: _on_sigs(
        _mh(), "dedup_pairs", df, numpy_verify=False
    ),
    "minhash.candidate_pairs": lambda df: _on_sigs(_mh(), "candidate_pairs", df),
    "minhash.query": lambda df: _on_sigs(_mh(), "query", df, keep_sim=True),
}


def _id_rows(out):
    """Each output row as (first id, second id, *rest)."""
    return [tuple(r) for r in out.collect()]


@pytest.mark.parametrize(
    "dtype,ids", [("long", (1, 2)), ("string", ("a", "b"))], ids=["long", "string"]
)
@pytest.mark.parametrize("op", sorted(SURROGATE_OPERATORS))
def test_null_ids_in_no_pair_or_match(spark, op, dtype, ids):
    """Three identical texts, one with a null id: every operator returns
    only the pair of the two other ids (a query may also match each of
    them with itself). A null id names no document; without the drop it
    pairs as (None, x), as a self-pair (x, x), or matches as (x, None)."""
    text = "the same caption text for all three rows of this test"
    df = spark.createDataFrame(
        [(ids[0], text), (None, text), (ids[1], text)], f"id {dtype}, text string"
    )
    out = SURROGATE_OPERATORS[op](df)
    rows = {r[:2] for r in _id_rows(out)}
    assert all(None not in r for r in rows), rows
    if out.columns[0] == "src":
        assert rows == {ids}
    else:
        assert {r for r in rows if r[0] != r[1]} == {ids, ids[::-1]}
        assert {r for r in rows if r[0] == r[1]} <= {(i, i) for i in ids}


# the operators of SURROGATE_OPERATORS that return (src, dst, ...) pairs
PAIR_OPERATORS = sorted(op for op in SURROGATE_OPERATORS if not op.endswith(".query"))


@pytest.mark.parametrize(
    "dtype,ids", [("long", (1, 2)), ("string", ("a", "b"))], ids=["long", "string"]
)
@pytest.mark.parametrize("op", PAIR_OPERATORS)
def test_duplicated_id_no_self_pair(spark, op, dtype, ids):
    """Rows (x, t), (x, t), (y, t), then (x, t), (x, t'), (y, t) with t'
    one word off t: the rows of x share buckets, but a pair operator
    pairs an id with no copy of itself and returns each id pair once, so
    the only row is (x, y), for every id type. A bucket collects each
    surrogate once, SimHash drops a member pair whose two surrogates are
    equal, ids come back through a distinct (sid, id) map, and an
    operator that joins rows keeps one row per id pair."""
    text = "a quick brown fox jumps over the lazy dog"
    x, y = ids
    for other in (text, "a quick brown fox jumps over the lazy cat"):
        df = spark.createDataFrame(
            [(x, text), (x, other), (y, text)], f"id {dtype}, text string"
        )
        out = SURROGATE_OPERATORS[op](df)
        assert out.columns[0] == "src"
        assert [r[:2] for r in _id_rows(out)] == [(x, y)], (other, _id_rows(out))


@pytest.mark.parametrize("op", sorted(SURROGATE_OPERATORS))
def test_id_types_give_same_pairs(spark, op):
    """Integral ids are their own surrogates (cast to long and back);
    string ids are hashed and joined back. Over the same
    texts, int, long and string ids give the same pairs (with the same
    distances or similarities), each in (least, greatest) order of its own
    id type, and the output ids keep the input id type: int ids come back
    as int."""
    texts = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "the quick brown fox jumps over the lazy cat near the river bank today",
        "completely different words about database engines and query planners",
        "completely different words about database engines and query optimizers",
        "another unrelated caption describing a sunny beach with tall palm trees",
    ]
    # string order of the names differs from the numeric order of the ids
    nums = [7, 30, 200, 1000, 45, 3]
    results = {}
    for dtype, to_id in (("int", int), ("long", int), ("string", lambda n: f"doc-{n}")):
        df = spark.createDataFrame(
            [(to_id(n), t) for n, t in zip(nums, texts)], f"id {dtype}, text string"
        )
        out = SURROGATE_OPERATORS[op](df)
        a, b = out.columns[:2]
        assert dict(out.dtypes)[a] == dict(out.dtypes)[b] == dict(df.dtypes)["id"]
        rows = _id_rows(out)
        assert all(type(x) is type(to_id(0)) for r in rows for x in r[:2])
        back = {to_id(n): n for n in nums}
        got = set()
        for r in rows:
            ns = (back[r[0]], back[r[1]])
            if a == "src":  # a pair, canonical in its own id type
                assert r[0] < r[1]
                ns = tuple(sorted(ns))
            got.add(ns + r[2:])
        assert len(got) == len(rows)
        results[dtype] = got
    assert results["int"] == results["long"] == results["string"], results
    assert results["long"]


# Two texts with no word, 3-char shingle or 24-char gram in common
TEXT_A = "abc def ghi jkl mab cde fgh ijk lma bcd efg hij klm"
TEXT_B = "nop qrs tuv wxy zno pqr stu vwx yzn opq rst uvw xyz"
STATS_CAP = 3


def _grams(text, n):
    return {text[i : i + n] for i in range(len(text) - n + 1)}


def _minhash_stats_case(route):
    def case(spark, df, mp):
        mp.setattr(MinHashLSH, "_BUCKET_CAP", STATS_CAP)
        lsh = _mh()
        sigs = lsh.signatures(df, "id", "text")
        pairs = lsh.dedup_pairs(
            sigs, keep_sim=False, numpy_verify=(route == "broadcast")
        )
        assert lsh.last_route[0] == route
        return pairs, lsh.band_stats(sigs), lsh.cfg.num_bands

    return case


def _simhash_stats_case(spark, df, mp):
    # the array tier pairs without the cap, so it is pinned under the cap
    mp.setattr(SimHashLSH, "_ARRAY_LIMIT", STATS_CAP - 1)
    mp.setattr(SimHashLSH, "BUCKET_CAP", STATS_CAP)
    lsh = _sh()
    sigs = lsh.signatures(df, "id", "text")
    return lsh.dedup_pairs(sigs), lsh.bucket_stats(sigs), len(lsh.masks)


def _substring_stats_case(spark, df, mp):
    from gaoya_spark.operators import substring

    mp.setattr(substring, "_BUCKET_CAP", STATS_CAP)
    return (
        substring_pairs(df, "id", "text"),
        substring.gram_stats(df, "id", "text"),
        len(_grams(TEXT_A, 24)),
    )


def _ngram_stats_case(spark, df, mp):
    from gaoya_spark.operators import text

    mp.setattr(text, "_BUCKET_CAP", STATS_CAP)
    return (
        ngram_jaccard_pairs(df, "id", "text", threshold=0.5),
        text.ngram_shingle_stats(df, "id", "text"),
        len(_grams(TEXT_A, 3)),
    )


def _ann_stats_case(spark, df, mp):
    from gaoya_spark.operators import ann

    mp.setattr(ann, "_BUCKET_CAP", STATS_CAP)
    # opposite vectors have opposite sign patterns: no table key in common
    va = np.random.default_rng(5).standard_normal(64)
    vec = {TEXT_A: va, TEXT_B: -va}
    edf = spark.createDataFrame(
        [(r["id"], vec[r["text"]].tolist()) for r in df.collect()],
        "vec_id long, embedding array<double>",
    )
    pairs = ann.rp_lsh_topk(edf).where(F.col("qid") < F.col("id"))
    # rp_lsh_topk's default Hamming-ball tables: C(8 blocks, 4 kept)
    return pairs, ann.rp_bucket_stats(edf), len(SimHashLSH(
        SimHashConfig(nbits=64, num_blocks=8, max_distance=4)
    ).masks)


# name -> case(spark, df, monkeypatch) that pins the operator's cap to
# STATS_CAP and returns (pairs, stats, number of keys of TEXT_A)
STATS_CASES = {
    "minhash.broadcast": _minhash_stats_case("broadcast"),
    "minhash.jvm": _minhash_stats_case("jvm"),
    "simhash": _simhash_stats_case,
    "substring": _substring_stats_case,
    "ngram": _ngram_stats_case,
    "ann": _ann_stats_case,
}


@pytest.mark.parametrize("op", sorted(STATS_CASES))
def test_stats_count_what_pairs_drop(spark, op, monkeypatch):
    """Each stats helper counts, at its operator's own cap, exactly the
    buckets the operator's pair generator excludes. STATS_CAP + 1 rows
    hold TEXT_A, so each of its keys is a bucket just over the cap, which
    no pair comes from; STATS_CAP rows hold TEXT_B, a bucket at the cap,
    which is paired; and a null-id row holds TEXT_B too. The pair
    generators exclude null ids, so the stats must not count that row,
    or every TEXT_B bucket would read as dropped."""
    a_ids = list(range(1, STATS_CAP + 2))
    b_ids = list(range(11, 11 + STATS_CAP))
    rows = [(i, TEXT_A) for i in a_ids] + [(i, TEXT_B) for i in b_ids]
    df = spark.createDataFrame(rows + [(None, TEXT_B)], "id long, text string")
    pairs, stats, a_keys = STATS_CASES[op](spark, df, monkeypatch)
    got = [tuple(r[:2]) for r in pairs.collect()]
    assert sorted(got) == list(itertools.combinations(b_ids, 2))
    assert a_keys > 0
    assert sum(r["n_dropped"] for r in stats.collect()) == a_keys
