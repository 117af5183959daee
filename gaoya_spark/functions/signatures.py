"""Arrow-batched signature UDFs.

The JVM ships Arrow record batches to the Python worker; inside we
tokenize (per-row string ops) and hash/minimize (vectorized numpy across
the whole batch via minimum.reduceat). One boundary crossing per batch —
this is the idiomatic-Spark replacement for the reference's rayon
`par_bulk_insert_docs` row parallelism (/root/reference/gaoya/src/minhash/
minhash_index.rs:428-443): Spark's partition parallelism gives the same
multi-core shape, and each core runs the same vectorized kernel.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from gaoya_spark.config import MinHashConfig, SimHashConfig
from gaoya_spark import hashing
from gaoya_spark.tokenize import tokenize


def _merge_phash_features(
    hashes: np.ndarray, counts: np.ndarray, feats: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Append each doc's phash feature hashes to its token-hash segment
    (vectorized scatter; doc-major layout preserved)."""
    n, k = feats.shape
    new_counts = counts + k
    out = np.empty(hashes.size + n * k, dtype=np.uint64)
    ends_new = np.cumsum(new_counts)
    starts_new = ends_new - new_counts
    starts_old = np.cumsum(counts) - counts
    if hashes.size:
        shift = np.repeat(starts_new - starts_old, counts)
        out[np.arange(hashes.size) + shift] = hashes
    feat_pos = (starts_new + counts)[:, None] + np.arange(k)[None, :]
    out[feat_pos.ravel()] = feats.ravel()
    return out, new_counts


def _batch_tokens(texts: pd.Series, cfg, phash: pd.Series | None):
    """Tokenize+hash a batch -> (flat uint64 token-hash array, per-doc
    counts). Char-shingle FNV configs take the fully-vectorized numpy path
    (no per-shingle Python strings); other tokenizers fall back to the
    Python tokenizer with batch hashing. phash features (north rule) are
    numeric splitmix64 hashes, identical in both paths."""
    tk = cfg.tokenizer
    hashes = counts = None
    if tk.analyzer is None and cfg.token_hasher == "fnv1a":
        if tk.kind == "char":
            hashes, counts = hashing.fnv1a_char_shingles_batch(
                list(texts), tk.n_from, tk.n_to, tk.lowercase
            )
        elif tk.kind == "word" and tk.n_from == 1 and tk.n_to == 1:
            # vectorized word path (bit-identical to the Python tokenizer;
            # None = non-ASCII batch, fall through to the per-row path)
            res = hashing.fnv1a_word_tokens_batch(list(texts), tk.lowercase)
            if res is not None:
                hashes, counts = res
    if hashes is None:
        tok_lists = [tokenize(t, tk) for t in texts]
        counts = np.fromiter(
            (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
        )
        flat = [t for toks in tok_lists for t in toks]
        hashes = hashing.hash_tokens(flat, cfg.token_hasher)
    weight = getattr(cfg, "phash_token_weight", 0)
    if phash is not None and weight > 0:
        ph = phash.fillna(0).to_numpy(dtype=np.int64)
        feats = hashing.phash_feature_hashes(ph, weight)
        hashes, counts = _merge_phash_features(hashes, counts, feats)
    return hashes, counts


def _token_array_hashes(token_arrays: pd.Series):
    """(splitmix64 hashes of every row's integer tokens, flat; per-row
    token counts) of an array<long> column batch; a null array counts as
    no tokens."""
    counts = np.fromiter(
        (0 if v is None else len(v) for v in token_arrays),
        dtype=np.int64,
        count=len(token_arrays),
    )
    if not counts.sum():
        return np.empty(0, dtype=np.uint64), counts
    flat = np.concatenate(
        [np.asarray(v, dtype=np.int64) for v in token_arrays if v is not None and len(v)]
    )
    return hashing.splitmix64(flat), counts


def _signature_kernel(cfg: MinHashConfig):
    """Returns (hashes, counts) -> signature matrix for the configured
    scheme (affine reference formula or SuperMinHash)."""
    bits64 = cfg.hash_size == 64
    if cfg.scheme == "superminhash":
        def kernel(hashes, counts):
            return hashing.superminhash_signatures(hashes, counts, cfg.num_hashes)
        return kernel
    if cfg.scheme == "superminhash_v2":
        def kernel(hashes, counts):
            return hashing.superminhash_v2_signatures(hashes, counts, cfg.num_hashes)
        return kernel
    a, b = hashing.minhash_permutations(cfg.num_hashes, cfg.seed, bits64)

    def kernel(hashes, counts):
        return hashing.minhash_signatures(
            hashes, counts, a, b, cfg.hash_size, cfg.formula, bits64
        )
    return kernel


def make_minhash_udf(cfg: MinHashConfig, with_phash: bool = False):
    """pandas_udf (text[, phash]) -> array<int|long> minhash signature."""
    kernel = _signature_kernel(cfg)
    elem = LongType() if cfg.hash_size >= 64 else IntegerType()
    ret = ArrayType(elem, containsNull=False)

    def compute(texts: pd.Series, phash: pd.Series | None) -> pd.Series:
        hashes, counts = _batch_tokens(texts, cfg, phash)
        sig = kernel(hashes, counts)
        if cfg.hash_size < 64:
            sig = sig.astype(np.int32)
        return pd.Series(list(sig))

    if with_phash:
        @F.pandas_udf(ret)
        def minhash_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
            for texts, ph in it:
                yield compute(texts, ph)
    else:
        @F.pandas_udf(ret)
        def minhash_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for texts in it:
                yield compute(texts, None)

    return minhash_udf


def make_minhash_tokens_udf(cfg: MinHashConfig):
    """pandas_udf array<long> pre-tokenized integer features -> signature.

    Mirrors the reference's `insert_tokens` path where the analyzer output
    is supplied directly (/root/reference/py-gaoya/gaoya/minhash.py:193-198);
    integer tokens are mixed with splitmix64 before the min-hash kernel.
    """
    kernel = _signature_kernel(cfg)
    elem = LongType() if cfg.hash_size >= 64 else IntegerType()

    @F.pandas_udf(ArrayType(elem, containsNull=False))
    def minhash_tokens_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for token_arrays in it:
            hashes, counts = _token_array_hashes(token_arrays)
            sig = kernel(hashes, counts)
            if cfg.hash_size < 64:
                sig = sig.astype(np.int32)
            yield pd.Series(list(sig))

    return minhash_tokens_udf


def make_simhash_udf(cfg: SimHashConfig, with_phash: bool = False):
    """pandas_udf (text[, phash]) -> simhash signature: long (nbits<=64,
    two's complement) or array<long>[2] words (nbits=128)."""
    wide = cfg.nbits == 128

    def compute(texts: pd.Series, phash: pd.Series | None) -> pd.Series:
        tk = cfg.tokenizer
        ph = None
        if phash is not None and cfg.phash_vote_weight > 0:
            ph = phash.fillna(0).to_numpy(dtype=np.int64)
        if not wide:
            # vectorized word path (bit-identical; None = non-ASCII batch)
            hashes = counts = None
            if (
                tk.analyzer is None
                and cfg.token_hasher == "fnv1a"
                and tk.kind == "word"
                and tk.n_from == 1
                and tk.n_to == 1
            ):
                res = hashing.fnv1a_word_tokens_batch(list(texts), tk.lowercase)
                if res is not None:
                    hashes, counts = res
            if hashes is None:
                tok_lists = [tokenize(t, tk) for t in texts]
                counts = np.fromiter(
                    (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
                )
                hashes = hashing.hash_tokens(
                    [t for toks in tok_lists for t in toks], cfg.token_hasher
                )
            sig = hashing.simhash_signatures(
                hashes, counts, cfg.nbits, ph, cfg.phash_vote_weight
            )
            return pd.Series(sig)
        tok_lists = [tokenize(t, tk) for t in texts]
        counts = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
        flat = [t for toks in tok_lists for t in toks]
        lo_h, hi_h = hashing.hash_tokens_128(flat, cfg.token_hasher)
        lo, hi = hashing.simhash_signatures128(
            lo_h, hi_h, counts, ph, cfg.phash_vote_weight
        )
        return pd.Series([[int(a), int(b)] for a, b in zip(lo, hi)])

    ret = ArrayType(LongType(), containsNull=False) if wide else LongType()
    if with_phash:
        @F.pandas_udf(ret)
        def simhash_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
            for texts, ph in it:
                yield compute(texts, ph)
    else:
        @F.pandas_udf(ret)
        def simhash_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for texts in it:
                yield compute(texts, None)

    return simhash_udf


def make_simhash_tokens_udf(cfg: SimHashConfig):
    """pandas_udf array<long> integer features -> long simhash."""

    @F.pandas_udf(LongType())
    def simhash_tokens_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for token_arrays in it:
            hashes, counts = _token_array_hashes(token_arrays)
            yield pd.Series(
                hashing.simhash_signatures(hashes, counts, cfg.nbits)
            )

    return simhash_tokens_udf
