"""Text-analysis operators for training-data pipelines (brief extension —
no reference counterpart; these are first-class components alongside the
LSH operators). All hot paths are JVM-side column expressions (whole-stage
codegen); the only optional Python crossing is lang_id's pluggable model
hook (Arrow-batched pandas UDF).

Every function returns columns designed to be exactly reproducible in
ANSI SQL for the DuckDB oracle (integer-derived doubles, explicit rounding).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from gaoya_spark.operators._bucket_pairs import join_rows, sid_pairs_from_buckets, sid_rows

# largest shingle bucket ngram_jaccard_pairs pairs per bucket instance by
# array combinatorics; larger ones take _bucket_pairs' collapsed tiers
_ARRAY_LIMIT = 256

# largest shingle bucket ngram_jaccard_pairs pairs at all: a shingle shared
# by more docs is excluded, and ngram_shingle_stats counts it
_BUCKET_CAP = 50_000

# HEURISTIC PLACEHOLDER, not a production language identifier: 4 languages
# x 6 stopwords, chosen to be deterministic and expressible identically in
# SQL so the operator's Spark plumbing (the part that matters at 100 TB)
# is oracle-checked. A real deployment swaps LANG_STOPWORDS for a proper
# model (fastText/CLD3) behind the same lang_id() column contract.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "une"],
}


def tokens_col(text, sep: str = " ") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, sep), lambda t: t != "")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(
        "n_tokens", F.size(tokens_col(text_col)).cast("long")
    )


def bpe_token_estimate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token count for LLM-pipeline budgeting: alphanumeric runs
    count one token each, every other non-space character counts one (the
    way byte-pair vocabularies treat punctuation/symbols), plus a 0.3
    surcharge per long run (>8 chars, which real BPE splits into several
    subwords). Deterministic, pure codegen, and exactly expressible in
    ANSI SQL for the oracle — a calibration-free estimator, not a real
    tokenizer."""
    c = F.lower(F.col(text_col))
    runs = F.size(F.filter(F.split(c, r"[^a-z0-9]+"), lambda t: t != ""))
    long_runs = F.size(
        F.filter(F.split(c, r"[^a-z0-9]+"), lambda t: F.length(t) > 8)
    )
    other_chars = F.length(F.regexp_replace(c, r"[a-z0-9\s]+", ""))
    est = runs.cast("double") + 0.3 * long_runs.cast("double") + other_chars.cast("double")
    return df.select(
        *df.columns,
        runs.cast("long").alias("n_word_tokens"),
        other_chars.cast("long").alias("n_symbol_tokens"),
        F.round(est, 1).alias("bpe_token_estimate"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: token count, distinct-token ratio, mean
    word length, and a composite score. Deterministic integer ratios."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    chars = F.length(F.col(text_col))
    mean_wlen = F.when(
        n > 0, F.round((chars - (n - 1)).cast("double") / n, 6)
    ).otherwise(F.lit(0.0))
    distinct_ratio = F.when(
        n > 0, F.round(n_distinct.cast("double") / n, 6)
    ).otherwise(F.lit(0.0))
    score = F.round(
        F.least(n.cast("double") / F.lit(64.0), F.lit(1.0)) * distinct_ratio, 6
    )
    return df.select(
        *df.columns,
        n.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct_tokens"),
        mean_wlen.alias("mean_word_len"),
        distinct_ratio.alias("distinct_ratio"),
        score.alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text", model=None) -> DataFrame:
    """Stopword-ratio language ID: count hits against each language's
    stopword list over the first 64 tokens; argmax with deterministic
    tie-break by language code; 'und' when no hits.

    model: optional callable pandas.Series[str] -> pandas.Series[str] of
    language codes — the pluggable real-model hook (same idea as
    TokenizerSpec.analyzer): wrap fastText/CLD3 here and it runs as an
    Arrow-batched pandas UDF behind the SAME lang_pred column contract, so
    swapping the placeholder table touches no pipeline code. None keeps
    the deterministic stopword default (the SQL-expressible oracle path)."""
    if model is not None:

        @F.pandas_udf("string")
        def _pred(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for s in it:
                yield pd.Series(model(s), dtype="object")

        return df.withColumn("lang_pred", _pred(F.col(text_col)))
    toks = F.slice(tokens_col(text_col), 1, 64)
    hit_cols = []
    for lang in sorted(LANG_STOPWORDS):
        sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        hit_cols.append(hits.alias(f"hits_{lang}"))
    with_hits = df.select(*df.columns, *hit_cols)
    # argmax via greatest + chained when (deterministic order)
    langs = sorted(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{l}") for l in langs])
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when(
            (best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)
        ).otherwise(expr)
    return with_hits.withColumn("lang_pred", expr).drop(
        *[f"hits_{l}" for l in langs]
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text",
                    gram: int = 16, stride: int = 8) -> DataFrame:
    """Winnowing-lite rolling fingerprint: md5_60 of every `gram`-char
    window at `stride` offsets; fingerprint = (min, max) of window hashes.
    Cross-engine exact (md5-based)."""
    c = F.col(text_col)
    n_windows = F.floor((F.length(c) - gram) / stride) + 1
    hashes = F.transform(
        F.sequence(F.lit(0), F.greatest(n_windows - 1, F.lit(0))),
        lambda i: F.conv(
            F.substring(F.md5(c.substr(i * stride + 1, F.lit(gram))), 1, 15), 16, 10
        ).cast("long"),
    )
    valid = F.length(c) >= gram
    return df.select(
        *df.columns,
        F.when(valid, F.array_min(hashes)).alias("fp_min"),
        F.when(valid, F.array_max(hashes)).alias("fp_max"),
    )


def _ngram_shingle_docs(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh): per-doc distinct 64-bit shingle hashes (empty array for
    docs shorter than n)."""
    c = F.col(text_col)
    n_pos = F.length(c) - (n - 1)
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_pos, F.lit(1))),
            lambda i: F.xxhash64(c.substr(i, F.lit(n))),
        )
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.when(n_pos >= 1, shingles).otherwise(F.array().cast("array<bigint>")).alias("sh"),
    )


def _shingle_members(docs: DataFrame) -> DataFrame:
    """(sid, bk) bucket membership rows of ngram_jaccard_pairs: one row
    per distinct shingle of each row of _ngram_shingle_docs with a
    non-null id, next to the id surrogate (sid_rows)."""
    return sid_rows(docs, F.explode("sh").alias("bk"))


def ngram_shingle_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Skew report for ngram_jaccard_pairs' blocking key: one row of
    (n_shingles, max_docs_per_shingle, n_dropped) over the shingle
    buckets the pairing pass groups (_shingle_members, null ids
    excluded). A bucket's size is its distinct docs; n_dropped counts the
    shingles over _BUCKET_CAP that the pairing pass excludes. Pipelines
    record this next to band_stats / gram_stats so capped shingles are
    never silent."""
    cnt = F.col("cnt")
    return (
        _shingle_members(_ngram_shingle_docs(df, id_col, text_col, n))
        .groupBy("bk")
        .agg(F.countDistinct("sid").alias("cnt"))
        .agg(
            F.count("*").alias("n_shingles"),
            F.max(cnt).alias("max_docs_per_shingle"),
            F.sum((cnt > _BUCKET_CAP).cast("long")).alias("n_dropped"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact char-n-gram jaccard dedup (src, dst, jaccard >= threshold).

    Candidates and intersection counts both come from the shared tiered
    bucket machinery (operators/_bucket_pairs.py): each (shingle-hash, doc)
    membership row is a bucket member, and the returned multiplicity m —
    the number of buckets a pair co-occurs in — IS the exact intersection
    count, because shingles are distinct per doc. union = |A| + |B| - m.
    That inherits the three size tiers (JVM array combinatorics for small
    buckets, identical-set collapse + array for medium, triangle block join
    for hot), so one stopword-gram shared by 40k docs is spread across
    bounded reducers instead of expanding quadratically inside
    a raw shingle self-join. Shingles shared by more than
    _BUCKET_CAP docs are excluded from pairing entirely (recorded by
    ngram_shingle_stats, never silently); below that cap jaccard is exact.

    An id held by several rows is one doc whose shingle set is the union
    of its rows' shingles: the set m intersects, since a bucket holds a
    doc once. Its shingle count comes from one groupBy of the docs by id,
    and the pair comes back once, with jaccard <= 1.

    Docs travel as 8-byte surrogates (the id itself for integral ids,
    else xxhash64(id)); ids come back only to candidate pairs, in the
    join that brings each doc's shingle count. A hashed-surrogate
    collision (see _bucket_pairs.py) counts the two merged docs' shingles
    as one set's in m. Null-id docs are in no pair.
    """
    docs = _ngram_shingle_docs(df, id_col, text_col, n).persist()
    pairs = sid_pairs_from_buckets(
        _shingle_members(docs), array_bucket_limit=_ARRAY_LIMIT, drop_cap=_BUCKET_CAP
    )
    sizes = docs.groupBy("id").agg(
        F.size(F.array_distinct(F.flatten(F.collect_list("sh")))).alias("n_sh")
    )
    m, na, nb = F.col("m"), F.col("n_sh_a"), F.col("n_sh_b")
    return (
        join_rows(pairs, sizes, "n_sh")
        .withColumn("jaccard", F.round(m.cast("double") / (na + nb - m), 6))
        .where(F.col("jaccard") >= threshold)
        .select("src", "dst", "jaccard")
    )
