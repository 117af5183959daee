"""Exact shared-substring pass over captions (north rule; no reference
counterpart — SURVEY.md §2.6 / §7.2.7).

Semantics: emit (src, dst) when some length->=L substring of one caption
appears verbatim in the other. Key identity: a >=L-char shared substring
exists iff the two captions share at least one exact L-gram (any longer
match contains an L-length window). So the Spark-first scale path is:

  1. distinct L-grams per caption, JVM-side (transform over sequence +
     substring — whole-stage codegen, no Python);
  2. gram -> 128-bit fingerprint (two independent xxhash64 seeds) so the
     shuffle carries 16-byte keys instead of L-char strings. Two distinct
     grams collide on BOTH words with probability 2^-128: even a 10^15-gram
     corpus expects ~1e-9 false bucket merges — the same guarantee class as
     content-addressable storage, and why the default needs no re-check;
  3. candidate pairs via the shared bucket machinery (_bucket_pairs.py):
     one groupBy on the fingerprint + JVM array combinatorics, hot grams
     triangle-blocked, boilerplate grams beyond _BUCKET_CAP dropped and
     counted by gram_stats;
  4. optional verification for callers that want literal string equality:
     verify="grams" re-checks candidates with arrays_overlap on the TRUE
     L-gram string arrays (JVM, no Python); verify="lcs" attaches the exact
     shared-substring length via a suffix automaton (per-pair Python — the
     expensive path).

This replaces a distributed suffix array: sorting all suffixes groups
identical L-prefixes together, which is exactly what the hash-groupBy on
L-grams achieves with one shuffle and no global sort; the 128-bit
fingerprint (or the optional true-gram overlap re-check) provides the
exact-match guarantee a suffix array would.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from gaoya_spark.operators._bucket_pairs import join_rows, sid_pairs_from_buckets, sid_rows

# largest gram bucket candidate_gram_pairs pairs per bucket instance by
# array combinatorics; larger ones take _bucket_pairs' collapsed tiers
_ARRAY_LIMIT = 512

# largest gram bucket candidate_gram_pairs pairs at all: a gram shared by
# more docs (boilerplate at web scale) is dropped, and gram_stats counts it
_BUCKET_CAP = 10_000


def longest_common_substring_len(a: str, b: str) -> int:
    """LCS length via suffix automaton of `a` streamed over `b` — O(|a|+|b|)."""
    if not a or not b:
        return 0
    # build suffix automaton of a
    MAXN = 2 * len(a) + 5
    nxt: list[dict] = [dict() for _ in range(MAXN)]
    link = [0] * MAXN
    length = [0] * MAXN
    last, size = 0, 1
    link[0] = -1
    for ch in a:
        cur = size
        size += 1
        length[cur] = length[last] + 1
        p = last
        while p != -1 and ch not in nxt[p]:
            nxt[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = nxt[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = size
                size += 1
                length[clone] = length[p] + 1
                nxt[clone] = dict(nxt[q])
                link[clone] = link[q]
                while p != -1 and nxt[p].get(ch) == q:
                    nxt[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    # stream b
    v, cur_len, best = 0, 0, 0
    for ch in b:
        while v and ch not in nxt[v]:
            v = link[v]
            cur_len = length[v]
        if ch in nxt[v]:
            v = nxt[v][ch]
            cur_len += 1
            best = max(best, cur_len)
        else:
            v, cur_len = 0, 0
    return best


def _gram_strings(text_col, min_len: int):
    """Distinct L-gram strings of the column — JVM-side."""
    n_positions = F.length(text_col) - F.lit(min_len - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_positions, F.lit(1))),
        lambda i: text_col.substr(i, F.lit(min_len)),
    )
    # sequence(1, n) needs n >= 1 (it would count DOWN otherwise); short
    # texts produce an empty gram set instead.
    return F.when(n_positions >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _gram_fp128_sorted(text_col, min_len: int):
    """SORTED (duplicates kept) 128-bit L-gram fingerprints: struct of two
    independently seeded xxhash64 words — JVM-side. Callers dedupe with an
    adjacent-equality filter over a named column (see candidate_gram_pairs):
    array_distinct over non-primitive element types is pairwise O(n^2)
    equality, while sort + adjacent filter is O(n log n) — measured 6x on
    the ~280-gram sf0.1 documents (tools/exp_substr.py, members stage
    2.52s -> 0.42s MIN)."""
    n_positions = F.length(text_col) - F.lit(min_len - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_positions, F.lit(1))),
        lambda i: F.struct(
            F.xxhash64(text_col.substr(i, F.lit(min_len))).alias("h1"),
            F.xxhash64(text_col.substr(i, F.lit(min_len)), F.lit(1)).alias("h2"),
        ),
    )
    return F.when(n_positions >= 1, F.array_sort(grams)).otherwise(
        F.array().cast("array<struct<h1:bigint,h2:bigint>>")
    )


def _gram_members(df: DataFrame, id_col: str, text_col: str, min_len: int) -> DataFrame:
    """(sid, bk) bucket membership rows of the gram join: one row per
    distinct 128-bit L-gram fingerprint of each doc with a non-null id,
    next to the id surrogate (sid_rows). Texts shorter than min_len
    have no row."""
    # two-step select so the sorted gram array is a named column: the
    # adjacent-dedup filter references it twice (element and predecessor)
    # and a named projection guarantees single evaluation of the sort
    gs = sid_rows(
        df.where(F.length(text_col) >= min_len),
        _gram_fp128_sorted(F.col(text_col), min_len).alias("gs"),
        id_col=id_col,
    )
    dedup = F.filter(
        F.col("gs"),
        lambda x, i: (i == F.lit(0)) | ~(x == F.element_at(F.col("gs"), i)),
    )
    return gs.select("sid", F.explode(dedup).alias("bk"))


def _sid_gram_pairs(df: DataFrame, id_col: str, text_col: str, min_len: int) -> DataFrame:
    """(src, dst) sid pairs sharing >=1 128-bit gram fingerprint. Grams
    shared by more than _BUCKET_CAP docs (boilerplate at web scale) are
    dropped, and gram_stats counts them."""
    return sid_pairs_from_buckets(
        _gram_members(df, id_col, text_col, min_len),
        array_bucket_limit=_ARRAY_LIMIT, drop_cap=_BUCKET_CAP,
    ).select("src", "dst")


def candidate_gram_pairs(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 24,
) -> DataFrame:
    """(src, dst) id pairs sharing >=1 exact L-gram (by 128-bit gram
    fingerprint), each once. Docs travel as surrogates and join_rows puts
    the ids back: a cast for integral ids, otherwise two joins (at web
    scale, two shuffles of every candidate row). A hashed-surrogate
    collision (see _bucket_pairs.py) hands the merged surrogate's pairs to
    both ids with no check. Null-id docs are in no pair."""
    return join_rows(_sid_gram_pairs(df, id_col, text_col, min_len), df, id_col=id_col)


def substring_pairs(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 24,
    verify: str = "fp128",
) -> DataFrame:
    """(src, dst) pairs with an exact shared substring >= min_len.

    verify="fp128" (default): the 128-bit gram fingerprint IS the match
    criterion — no second pass (see module docstring for the collision
    math). verify="grams": additionally re-check candidates against the
    TRUE gram strings (arrays_overlap, JVM, no Python). verify="lcs":
    attach the exact shared-substring length as lcs_len via the suffix
    automaton (per-pair Python — the expensive path; only for callers that
    need the length).

    The verify modes bring the texts in the joins that restore the ids,
    one row per row pair, and return each id pair once: an id held by
    several rows is kept when any of its rows passes, with the longest
    lcs_len."""
    if verify == "fp128":
        return candidate_gram_pairs(df, id_col, text_col, min_len)
    if verify not in ("grams", "lcs"):
        raise ValueError(f"verify must be 'fp128' | 'grams' | 'lcs', got {verify!r}")
    joined = join_rows(
        _sid_gram_pairs(df, id_col, text_col, min_len),
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
        "text",
    )
    if verify == "grams":
        overlap = F.arrays_overlap(
            _gram_strings(F.col("text_a"), min_len),
            _gram_strings(F.col("text_b"), min_len),
        )
        return joined.where(overlap).select("src", "dst").distinct()

    id_type = df.schema[id_col].dataType
    schema = StructType([
        StructField("src", id_type, False),
        StructField("dst", id_type, False),
        StructField("lcs_len", IntegerType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lcs = [
                longest_common_substring_len(a, b)
                for a, b in zip(pdf["text_a"], pdf["text_b"])
            ]
            out = pdf[["src", "dst"]].copy()
            out["lcs_len"] = pd.array(lcs, dtype="int32")
            yield out

    return (
        joined.mapInPandas(run, schema)
        .where(F.col("lcs_len") >= min_len)
        .groupBy("src", "dst")
        .agg(F.max("lcs_len").alias("lcs_len"))
    )


def gram_stats(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 24,
) -> DataFrame:
    """Skew metrics for the gram join (analogue of LSH band stats): one
    row of (n_grams, avg_docs_per_gram, max_docs_per_gram, n_dropped),
    over the fingerprint buckets candidate_gram_pairs groups (_gram_members,
    null ids excluded). A bucket's size is its distinct docs; n_dropped
    counts the grams over _BUCKET_CAP that the candidate pass drops, so
    the cap is recorded, never silent."""
    n = F.col("n")
    return (
        _gram_members(df, id_col, text_col, min_len)
        .groupBy("bk")
        .agg(F.countDistinct("sid").alias("n"))
        .agg(
            F.count("*").alias("n_grams"),
            F.avg(n).alias("avg_docs_per_gram"),
            F.max(n).alias("max_docs_per_gram"),
            F.sum((n > _BUCKET_CAP).cast("long")).alias("n_dropped"),
        )
    )
