"""JVM-side similarity expressions (whole-stage codegen; no Python).

These are the verify-path kernels — they run on every candidate pair, so
they must stay inside Tungsten codegen:

- minhash_similarity_col: fraction of equal signature positions
  (/root/reference/gaoya/src/minhash/mod.rs:118-130). Expressed as
  aggregate(zip_with(a, b, equality), +) / k.
- hamming_distance_col: bit_count(a XOR b)
  (/root/reference/gaoya/src/simhash/mod.rs:49-54).
- jaccard_col: exact jaccard of two token arrays
  (/root/reference/gaoya/src/minhash/mod.rs:86-95).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def minhash_similarity_col(a, b, num_hashes: int) -> Column:
    # size(filter(zip_with(equality))) measures ~4x faster than an
    # aggregate() fold on the same pairs (higher-order aggregate is
    # interpreted per element; size/filter vectorize better)
    eq = F.zip_with(a, b, lambda x, y: x == y)
    matches = F.size(F.filter(eq, lambda m: m))
    return matches.cast("double") / F.lit(float(num_hashes))


def pack_signature_col(sig, num_hashes: int, hash_size: int = 32) -> Column:
    """Pack an array<int> minhash signature (u32 values) into
    ceil(k/2) longs — two positions per word, position 2i in the high
    half. Halves the verify kernel's element count AND the broadcast
    build size; equal-position counting stays exact via per-half XOR
    tests (minhash_eq_count_packed). For odd k the last word carries the
    tail position in its high half and 0 in the low half — a constant
    always-equal half that the count function subtracts back out.
    Measured 1.6x faster end-to-end than the unpacked verify on the
    59M-candidate 300k-image workload.

    hash_size > 32 (the 2^61-1 MinHasher64V1 formula): two positions
    cannot share a long, so "packing" is the identity (one position per
    word) and minhash_eq_count_packed counts whole-word equality —
    truncating to halves here would let positions that collide in their
    low 32 bits count as equal."""
    if hash_size > 32:
        return sig.cast("array<long>")
    n_words = (num_hashes + 1) // 2
    idx = F.sequence(F.lit(0), F.lit(n_words - 1))

    def word(i):
        hi = F.shiftleft(F.element_at(sig, i * 2 + 1).cast("long"), 32)
        if num_hashes % 2 == 1:
            # odd k: index i*2+2 on the last word is past the array end
            # (ANSI element_at would throw) — clamp it and zero the
            # phantom low half
            clamped = F.element_at(
                sig, F.least(i * 2 + 2, F.lit(num_hashes))
            ).cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
            lo = F.when(i * 2 + 2 > num_hashes, F.lit(0).cast("long")).otherwise(clamped)
        else:
            lo = (
                F.element_at(sig, i * 2 + 2).cast("long")
                .bitwiseAND(F.lit(0xFFFFFFFF))
            )
        return hi.bitwiseOR(lo)

    return F.transform(idx, word)


_FLAT_KERNEL_MAX_WORDS = 512


def _balanced_sum(terms: list[Column]) -> Column:
    """Balanced addition tree (codegen nesting depth log n, not n)."""
    while len(terms) > 1:
        terms = [
            terms[j] + terms[j + 1] if j + 1 < len(terms) else terms[j]
            for j in range(0, len(terms), 2)
        ]
    return terms[0]


def minhash_eq_count_packed(
    pa, pb, num_hashes: int, hash_size: int = 32
) -> Column:
    """Exact equal-position count from two packed signatures: XOR each
    word; a zero high (low) half means the corresponding position pair is
    equal. Odd k over-counts by exactly one (the always-equal phantom low
    half of the tail word), subtracted here. For hash_size > 32 the
    signature is unpacked (one position per word, see pack_signature_col)
    and the count is whole-word equality.

    The count is a FLAT balanced addition tree of per-word inline
    expressions, not a higher-order aggregate() fold: Spark evaluates
    higher-order functions interpreted per element, while the flat tree
    stays inside whole-stage codegen — measured 1.6-1.9x faster on the
    6.6-7.4M-candidate bench verifies (EXPERIMENTS.md ledger; balanced
    rather than left-leaning so codegen nesting depth is log n). Beyond
    _FLAT_KERNEL_MAX_WORDS words the expression tree would strain codegen
    method limits, so huge-k configs fall back to the aggregate fold."""
    # boolean->int casts instead of when/otherwise: identical values
    # (true casts to 1), but ~half the generated bytecode per word —
    # headroom that keeps big fused stages (broadcast-join plans chain
    # this tree after the m-agg) under janino's
    # 64KB method limit where the when/otherwise form overflowed (r6).
    if hash_size > 32:
        if num_hashes > _FLAT_KERNEL_MAX_WORDS:
            eq = F.zip_with(pa, pb, lambda a, b: a == b)
            return F.size(F.filter(eq, lambda m: m))
        return _balanced_sum([
            (F.element_at(pa, i) == F.element_at(pb, i)).cast("int")
            for i in range(1, num_hashes + 1)
        ])
    n_words = (num_hashes + 1) // 2
    if n_words > _FLAT_KERNEL_MAX_WORDS:
        x = F.zip_with(pa, pb, lambda a, b: a.bitwiseXOR(b))
        cnt = F.aggregate(
            x,
            F.lit(0),
            lambda acc, w: acc
            + (F.shiftrightunsigned(w, 32) == 0).cast("int")
            + (w.bitwiseAND(F.lit(0xFFFFFFFF)) == 0).cast("int"),
        )
        return cnt - F.lit(1) if num_hashes % 2 == 1 else cnt
    terms = []
    for i in range(1, n_words + 1):
        x = F.element_at(pa, i).bitwiseXOR(F.element_at(pb, i))
        terms.append(
            (F.shiftrightunsigned(x, 32) == 0).cast("int")
            + (x.bitwiseAND(F.lit(0xFFFFFFFF)) == 0).cast("int")
        )
    cnt = _balanced_sum(terms)
    return cnt - F.lit(1) if num_hashes % 2 == 1 else cnt


def minhash_similarity_packed(
    pa, pb, num_hashes: int, hash_size: int = 32
) -> Column:
    return minhash_eq_count_packed(pa, pb, num_hashes, hash_size).cast(
        "double"
    ) / F.lit(float(num_hashes))


def hamming_distance_col(a, b) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def hamming_angle_col(a, b, nbits: int = 64) -> Column:
    """P16 hamming_angle (gaoya/src/simhash/mod.rs:77-80): the angle
    estimate d * pi / bitlen implied by the sign-random-projection LSH."""
    import math

    return hamming_distance_col(a, b).cast("double") * F.lit(math.pi / nbits)


def jaccard_col(tokens_a, tokens_b) -> Column:
    inter = F.size(F.array_intersect(tokens_a, tokens_b)).cast("double")
    union = F.size(F.array_union(tokens_a, tokens_b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))
