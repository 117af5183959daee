"""Vectorized NumPy hashing kernels.

These run inside Arrow-batched pandas UDFs — all hot loops are over the
(short) max token length or the hash count, never over rows/tokens in
Python.

Semantics mirrored from the reference (behavioral parity, SURVEY.md §7.2.1):
- token hash: FNV-1a 64-bit over UTF-8 bytes, truncated to u32 for MinHash
  (reference default hasher, /root/reference/gaoya/src/minhash/hashers.rs:17-38;
  truncation at min_hasher.rs:76).
- minhash "gaoya" formula: sig_i = min over tokens of
  ((h *u32 a_i) +u32 b_i) % (2^31 - 1)  — u32 wrapping arithmetic
  (/root/reference/gaoya/src/minhash/min_hasher.rs:85-94).
- 64-bit variant: u64 wrapping arithmetic mod 2^61 - 1
  (/root/reference/gaoya/src/minhash/min_hasher64.rs:92-119).
- empty token stream -> all-zero signature
  (/root/reference/gaoya/src/minhash/min_hasher.rs:96).
- simhash: per-token hash; bit position votes +1 if the bit is 0 else -1;
  result bit set iff the vote count is > 0 (reference's inverted-vote
  convention, /root/reference/gaoya/src/simhash/sim_hash.rs:30-55).
"""

from __future__ import annotations

import hashlib

import numpy as np

from gaoya_spark.config import MERSENNE_PRIME_31, MERSENNE_PRIME_61

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)

# the affine+mod+min inner loop makes ~7 passes over its (tokens x hashes)
# matrix; tiles must stay cache-resident or concurrent UDF workers saturate
# DRAM bandwidth and stop scaling with cores. ~4k tokens x 64 hashes x 4B
# = 1MB per tile.
_TOKENS_PER_CHUNK = 4096
_K_TILE = 64


def fnv1a_u64(tokens: list[bytes]) -> np.ndarray:
    """FNV-1a 64-bit over each byte string, vectorized across tokens.

    Builds a padded (n, maxlen) byte matrix and folds columns, so the only
    Python-level loop is over maxlen (token length), not token count.
    """
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n)
    maxlen = int(lens.max(initial=0))
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    if maxlen == 0:
        return h
    joined = np.frombuffer(b"".join(tokens), dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    col = np.arange(maxlen, dtype=np.int64)
    idx = np.minimum(starts[:, None] + col[None, :], len(joined) - 1)
    mat = joined[idx]  # (n, maxlen)
    mask = col[None, :] < lens[:, None]
    with np.errstate(over="ignore"):
        for j in range(maxlen):
            m = mask[:, j]
            if not m.any():
                break
            h[m] = (h[m] ^ mat[m, j].astype(np.uint64)) * _FNV_PRIME
    return h


def fnv1a_char_shingles_batch(
    texts: list, n_from: int, n_to: int, lowercase: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Fully-vectorized char-shingle tokenize+hash for a batch of texts.

    Returns (token_hashes concatenated doc-major, per-doc counts). Avoids
    materializing shingle strings entirely: texts are decoded once to a
    UTF-32 codepoint array; the FNV-1a fold runs over sliding windows of
    the concatenated array (4 bytes per codepoint, LE), and windows that
    cross document boundaries are masked out. Hash values are a stable
    uniform family (FNV over UTF-32LE bytes) — not byte-identical to the
    UTF-8 path, which is irrelevant for behavioral parity (SURVEY.md
    §7.2.1) but ~30x faster than per-shingle Python slicing.

    Within a doc, hashes are grouped by shingle size (all n_from-grams,
    then n_from+1, ...). MinHash (min) and SimHash (sum) are order-
    invariant, so only counts matter.
    """
    n_docs = len(texts)
    counts = np.zeros(n_docs, dtype=np.int64)
    if n_docs == 0:
        return np.empty(0, dtype=np.uint64), counts
    clean = [
        ("" if t is None else (t.lower() if lowercase else t)) for t in texts
    ]
    lens = np.fromiter((len(t) for t in clean), dtype=np.int64, count=n_docs)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint64), counts
    joined = "".join(clean)
    cp = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)

    cp64 = cp.astype(np.uint64)

    sizes = list(range(n_from, n_to + 1))
    counts_by_n = [np.maximum(lens - n + 1, 0) for n in sizes]
    counts = np.sum(counts_by_n, axis=0).astype(np.int64)
    grand_total = int(counts.sum())
    out = np.empty(grand_total, dtype=np.uint64)
    # per-doc output base + running offset as the n-runs land
    doc_base = np.cumsum(counts) - counts
    run_offset = doc_base.copy()

    with np.errstate(over="ignore"):
        for n, cnt_n in zip(sizes, counts_by_n):
            if total < n:
                continue
            n_windows = total - n + 1
            # codepoint-level FNV-1a-style fold: one xor+mult per codepoint
            # (a stable uniform family; byte-exactness is not a parity
            # requirement, speed of this pass is)
            h = np.full(n_windows, _FNV_OFFSET, dtype=np.uint64)
            for j in range(n):
                h ^= cp64[j : j + n_windows]
                h *= _FNV_PRIME
            # windows fully inside one doc: start and end share the doc
            valid = doc_of[:n_windows] == doc_of[n - 1 :]
            hv = h[valid]
            # valid windows are already doc-major; place each doc's n-run
            # analytically (no sort): rank-within-run + current offset
            total_n = int(cnt_n.sum())
            if total_n == 0:
                continue
            run_starts = np.cumsum(cnt_n) - cnt_n
            rank = np.arange(total_n, dtype=np.int64) - np.repeat(run_starts, cnt_n)
            idx = np.repeat(run_offset, cnt_n) + rank
            out[idx] = hv
            run_offset += cnt_n
    return out, counts


_WORD_DELIM_TABLE: np.ndarray | None = None


def _word_delim_table() -> np.ndarray:
    """256-entry bool lookup: True for byte values the word tokenizer
    splits on. Built by testing every ASCII char against the ACTUAL
    tokenizer regex (tokenize._SPLIT_RE), so the vectorized path can never
    drift from the per-row Python tokenizer; non-ASCII bytes never reach
    this table (the fast path bails out on non-ASCII batches)."""
    global _WORD_DELIM_TABLE
    if _WORD_DELIM_TABLE is None:
        from gaoya_spark.tokenize import _SPLIT_RE

        t = np.zeros(256, dtype=bool)
        for c in range(128):
            if _SPLIT_RE.match(chr(c)):
                t[c] = True
        _WORD_DELIM_TABLE = t
    return _WORD_DELIM_TABLE


def fnv1a_word_tokens_batch(
    texts: list, lowercase: bool = False
) -> tuple[np.ndarray, np.ndarray] | None:
    """Fully-vectorized word tokenize+hash for an all-ASCII batch.

    Returns (token_hashes concatenated doc-major, per-doc counts),
    BIT-IDENTICAL to hash_tokens(whitespace_split(text), "fnv1a") per doc:
    tokens are maximal runs of non-delimiter bytes (delimiter set = the
    exact _SPLIT_RE class, see _word_delim_table) and each token is FNV-1a
    folded over its UTF-8 (== ASCII) bytes — the same fold fnv1a_u64
    performs. No per-token Python string is ever materialized.

    Returns None when the batch contains any non-ASCII text: multi-byte
    delimiter detection at byte level is not worth the complexity, so the
    caller falls back to the per-row Python tokenizer (identical results,
    slower)."""
    n_docs = len(texts)
    counts = np.zeros(n_docs, dtype=np.int64)
    if n_docs == 0:
        return np.empty(0, dtype=np.uint64), counts
    clean = [
        ("" if t is None else (t.lower() if lowercase else t)) for t in texts
    ]
    # single-space separators double as doc boundaries (space is a
    # delimiter, so no token can span two docs)
    joined = " ".join(clean)
    if not joined.isascii():
        return None
    if not joined:
        return np.empty(0, dtype=np.uint64), counts
    lens = np.fromiter((len(t) for t in clean), dtype=np.int64, count=n_docs)
    doc_starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=doc_starts[1:])
    buf = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
    delim = _word_delim_table()[buf]
    nd = ~delim
    if not nd.any():
        return np.empty(0, dtype=np.uint64), counts
    start_mask = nd.copy()
    start_mask[1:] &= delim[:-1]
    end_mask = nd.copy()
    end_mask[:-1] &= delim[1:]
    tstarts = np.nonzero(start_mask)[0]
    tlens = np.nonzero(end_mask)[0] - tstarts + 1
    doc_of = np.searchsorted(doc_starts, tstarts, side="right") - 1
    counts = np.bincount(doc_of, minlength=n_docs).astype(np.int64)
    b64 = buf.astype(np.uint64)
    h = np.full(len(tstarts), _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(int(tlens.max())):
            m = tlens > j
            if m.all():
                h = (h ^ b64[tstarts + j]) * _FNV_PRIME
            else:
                h[m] = (h[m] ^ b64[tstarts[m] + j]) * _FNV_PRIME
    return h, counts


def phash_feature_hashes(phash: np.ndarray, weight: int = 1) -> np.ndarray:
    """(n_docs, 8*weight) u64 feature hashes for the 8 bytes of a 64-bit
    perceptual hash (north rule: phash features fold into the minhash token
    set). Numeric (splitmix64 of byte|position) so the vectorized and
    Python tokenizer paths produce identical signatures."""
    u = phash.astype(np.int64).view(np.uint64)
    bytes_ = np.stack(
        [(u >> np.uint64(8 * i)) & np.uint64(0xFF) for i in range(8)], axis=1
    )
    pos = np.arange(8, dtype=np.uint64)[None, :]
    feats = splitmix64(bytes_ | (pos << np.uint64(8)) | np.uint64(0xA5A5 << 16))
    if weight > 1:
        feats = np.repeat(feats, weight, axis=1)
    return feats


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Stable 64-bit mix for integer tokens (pre-tokenized array<long> input)."""
    z = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        z += np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z


def _rotl64(x: np.ndarray, b: int) -> np.ndarray:
    return (x << np.uint64(b)) | (x >> np.uint64(64 - b))


def _sipround(v0, v1, v2, v3):
    with np.errstate(over="ignore"):
        v0 = v0 + v1
        v1 = _rotl64(v1, 13) ^ v0
        v0 = _rotl64(v0, 32)
        v2 = v2 + v3
        v3 = _rotl64(v3, 16) ^ v2
        v0 = v0 + v3
        v3 = _rotl64(v3, 21) ^ v0
        v2 = v2 + v1
        v1 = _rotl64(v1, 17) ^ v2
        v2 = _rotl64(v2, 32)
    return v0, v1, v2, v3


def _sip_compress(msgs: list[bytes], k0: int, k1: int, v1_xor: int):
    """SipHash-2-4 state (v0, v1, v2, v3) after compressing each message,
    vectorized across the batch; v1_xor is XORed into v1 at init (0 for
    the 64-bit variant, 0xee for the 128-bit one).

    Little-endian 8-byte words, zero-padded final block whose top byte is
    len % 256; 2 compression rounds per word. Messages are processed
    word-index-major with an activity mask, so the per-word loop runs
    max(len)//8+1 times regardless of batch size."""
    n = len(msgs)
    lens = np.fromiter((len(m) for m in msgs), dtype=np.int64, count=n)
    n_words = lens // 8 + 1
    max_words = int(n_words.max()) if n else 0
    # pack padded little-endian words: (n, max_words) uint64
    buf = np.zeros((n, max_words * 8), dtype=np.uint8)
    for i, m in enumerate(msgs):
        buf[i, : len(m)] = np.frombuffer(m, dtype=np.uint8)
        buf[i, n_words[i] * 8 - 1] = len(m) & 0xFF
    words = buf.view("<u8").reshape(n, max_words).astype(np.uint64)

    k0_ = np.uint64(k0)
    k1_ = np.uint64(k1)
    v0 = np.full(n, 0x736F6D6570736575, dtype=np.uint64) ^ k0_
    v1 = np.full(n, 0x646F72616E646F6D, dtype=np.uint64) ^ k1_ ^ np.uint64(v1_xor)
    v2 = np.full(n, 0x6C7967656E657261, dtype=np.uint64) ^ k0_
    v3 = np.full(n, 0x7465646279746573, dtype=np.uint64) ^ k1_
    for w in range(max_words):
        active = w < n_words
        m = np.where(active, words[:, w], np.uint64(0))
        t0, t1, t2, t3 = _sipround(v0, v1, v2, v3 ^ m)
        t0, t1, t2, t3 = _sipround(t0, t1, t2, t3)
        t0 = t0 ^ m
        v0 = np.where(active, t0, v0)
        v1 = np.where(active, t1, v1)
        v2 = np.where(active, t2, v2)
        v3 = np.where(active, t3, v3)
    return v0, v1, v2, v3


def siphash24_batch(msgs: list[bytes], k0: int, k1: int) -> np.ndarray:
    """SipHash-2-4 (64-bit) of each message, vectorized across the batch.

    Classic SipHash per the Aumasson/Bernstein spec (_sip_compress), then
    4 finalization rounds. Matches the `siphasher` crate the reference
    uses (sim_hasher.rs:1,36-38)."""
    v0, v1, v2, v3 = _sip_compress(msgs, k0, k1, 0)
    v2 = v2 ^ np.uint64(0xFF)
    for _ in range(4):
        v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
    return v0 ^ v1 ^ v2 ^ v3


def siphash24_128_batch(
    msgs: list[bytes], k0: int, k1: int
) -> tuple[np.ndarray, np.ndarray]:
    """SipHash-2-4 with 128-bit output (lo, hi uint64 words), vectorized.

    Exactly the `siphasher::sip128::SipHasher` the reference aliases as
    SipHasher128 (sim_hasher.rs:2,78-90): vs the 64-bit variant, v1 is
    XORed with 0xee at init, finalization XORs v2 with 0xee (not 0xff) for
    the first word, then XORs v1 with 0xdd and runs 4 more rounds for the
    second; `finish128().as_u128()` puts h1 in the low 64 bits. Verified
    against the official veorq/SipHash vectors_sip128 (test_hashing)."""
    v0, v1, v2, v3 = _sip_compress(msgs, k0, k1, 0xEE)
    v2 = v2 ^ np.uint64(0xEE)
    for _ in range(4):
        v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
    h1 = v0 ^ v1 ^ v2 ^ v3
    v1 = v1 ^ np.uint64(0xDD)
    for _ in range(4):
        v0, v1, v2, v3 = _sipround(v0, v1, v2, v3)
    h2 = v0 ^ v1 ^ v2 ^ v3
    return h1, h2


def siphash24_128_many(
    tokens: list[str], k0: int = 5, k1: int = 6
) -> tuple[np.ndarray, np.ndarray]:
    """128-bit SipHash-2-4 of string tokens with the reference's Rust
    `Hash for str` framing (UTF-8 bytes + 0xff terminator), keys (5, 6) as
    in SimSipHasher128::new(5, 6) (py-gaoya/src/sim_hash.rs:189)."""
    return siphash24_128_batch(
        [t.encode("utf-8") + b"\xff" for t in tokens], k0, k1
    )


def siphash24_many(tokens: list[str], k0: int = 5, k1: int = 6) -> np.ndarray:
    """SipHash-2-4 of string tokens with the reference's framing: Rust's
    `Hash for str` feeds the UTF-8 bytes plus a 0xff terminator
    (SimSipHasher64::new(5, 6), py-gaoya/src/sim_hash.rs:171 and
    sim_hash_index.rs:259)."""
    return siphash24_batch([t.encode("utf-8") + b"\xff" for t in tokens], k0, k1)


def md5_60(token: str) -> int:
    """Cross-engine deterministic 60-bit hash: first 15 hex chars of md5.

    Identical to Spark  cast(conv(substr(md5(x),1,15),16,10) as bigint)
    and DuckDB          ('0x'||substr(md5(x),1,15))::bigint.
    Slow path (per-token hashlib) — used only by oracle-parity configs.
    """
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16)


def md5_60_many(tokens: list[str]) -> np.ndarray:
    return np.fromiter(
        (md5_60(t) for t in tokens), dtype=np.uint64, count=len(tokens)
    )


def hash_tokens(tokens: list, hasher: str) -> np.ndarray:
    """Hash a flat token list to uint64 with the configured scheme."""
    if hasher == "fnv1a":
        return fnv1a_u64([t.encode("utf-8") for t in tokens])
    if hasher == "md5_60":
        return md5_60_many(tokens)
    if hasher == "siphash24":
        return siphash24_many(tokens)
    if hasher == "sha1":
        return sha1_64_many(tokens)
    raise ValueError(f"unknown token hasher {hasher}")


def sha1_64(token: str) -> int:
    """The reference's Sha1Hasher (gaoya/src/minhash/hashers.rs:17-38):
    first 8 bytes of the SHA-1 digest as a big-endian u64, fed the Rust
    Hash-for-str framing (UTF-8 bytes + 0xff terminator)."""
    d = hashlib.sha1(token.encode("utf-8") + b"\xff").digest()
    return int.from_bytes(d[:8], "big")


def sha1_64_many(tokens: list[str]) -> np.ndarray:
    return np.fromiter(
        (sha1_64(t) for t in tokens), dtype=np.uint64, count=len(tokens)
    )


def md5_60_hi(token: str) -> int:
    """Second independent 60-bit word from the same md5 digest (hex chars
    16-30) — cross-engine: DuckDB ('0x'||substr(md5(x),16,15))::bigint,
    Spark conv(substr(md5(x),16,15),16,10)."""
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[15:30], 16)


def hash_tokens_128(tokens: list, hasher: str) -> tuple[np.ndarray, np.ndarray]:
    """128-bit token hash as two uint64 words (lo = bits 0-63 of the
    conceptual 128-bit value).

    - "siphash24": exact SipHasher128 parity with the reference's
      SimSipHasher128 (gaoya/src/simhash/sim_hasher.rs:64-90) — two
      independent 64-bit words from SipHash-2-4-128 with keys (5, 6).
    - "md5_60": two disjoint 60-bit md5 digest windows (SQL-expressible
      for oracles) — independent words.
    - other hashers (fnv1a, sha1): BEHAVIORAL-ONLY 128-bit mode — the hi
      word is splitmix64(lo), a deterministic function of the low word, so
      these carry 64 bits of token-hash entropy (a lo collision is a full
      128-bit collision). Fine for LSH bucketing behavior; use siphash24
      for genuine 128-bit collision resistance / reference parity."""
    if hasher == "siphash24":
        return siphash24_128_many(tokens)
    lo = hash_tokens(tokens, hasher)
    if hasher == "md5_60":
        hi = np.fromiter(
            (md5_60_hi(t) for t in tokens), dtype=np.uint64, count=len(tokens)
        )
    else:
        hi = splitmix64(lo.view(np.int64))
    return lo, hi


def minhash_permutations(
    num_hashes: int, seed: int, bits64: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Seeded affine coefficients (a, b).

    The reference draws from StdRng::seed_from_u64(3) Uniform streams
    (/root/reference/gaoya/src/minhash/min_hasher.rs:41-55); bit-parity with
    the Rust PRNG stream is deliberately not chased (SURVEY.md §7.2.1) — we
    fix our own documented stream from numpy's default_rng.
    """
    rng = np.random.default_rng(seed)
    if bits64:
        a = rng.integers(1, MERSENNE_PRIME_61, size=num_hashes, dtype=np.uint64)
        b = rng.integers(0, MERSENNE_PRIME_61, size=num_hashes, dtype=np.uint64)
    else:
        a = rng.integers(1, MERSENNE_PRIME_31, size=num_hashes, dtype=np.uint64)
        b = rng.integers(0, MERSENNE_PRIME_31, size=num_hashes, dtype=np.uint64)
    return a, b


def _reduceat_min(mat: np.ndarray, starts: np.ndarray, counts: np.ndarray):
    """Per-doc min with empty docs zeroed (P9). reduceat runs over the
    non-empty docs only: their starts are strictly increasing and < len(mat),
    and consecutive non-empty segments tile the matrix exactly — clamping
    an empty doc's start instead would truncate the previous doc's segment."""
    out = np.zeros((len(counts), mat.shape[1]), dtype=mat.dtype)
    nonempty = counts > 0
    if nonempty.any():
        out[nonempty] = np.minimum.reduceat(mat, starts[nonempty], axis=0)
    return out


def _reduceat_min_t(mat_t: np.ndarray, starts: np.ndarray, counts: np.ndarray):
    """_reduceat_min for a TRANSPOSED (k_tile, tokens) C-contiguous tile:
    reduceat along axis=1 reduces contiguous per-doc segments, measured
    ~9x faster than the axis=0 row-strided reduction (0.04ms vs 0.36ms
    per 4096x64 tile) — the doc-min was ~40% of the signature kernel.
    Returns (n_docs, k_tile) with empty docs zeroed (P9)."""
    out = np.zeros((len(counts), mat_t.shape[0]), dtype=mat_t.dtype)
    nonempty = counts > 0
    if nonempty.any():
        out[nonempty] = np.minimum.reduceat(mat_t, starts[nonempty], axis=1).T
    return out


def _mod_mersenne31_inplace(m: np.ndarray) -> np.ndarray:
    """x % (2^31 - 1) for uint32 x, in place, without integer division:
    x = hi*2^31 + lo with hi in {0,1}  =>  x mod P = (lo + hi) mod P."""
    P = np.uint32(MERSENNE_PRIME_31)
    hi = m >> np.uint32(31)
    m &= P
    m += hi
    np.subtract(m, P, out=m, where=m >= P)
    return m


def _mod_mersenne61_inplace_u64(m: np.ndarray) -> np.ndarray:
    """x % (2^61 - 1) for uint64 x, in place, via Mersenne folding
    (integer division is the slowest vector op): one fold brings
    x = hi*2^61 + lo to (lo + hi) <= (2^61-1) + 7, one conditional
    subtract finishes."""
    P = np.uint64(MERSENNE_PRIME_61)
    hi = m >> np.uint64(61)
    m &= P
    m += hi
    np.subtract(m, P, out=m, where=m >= P)
    return m


def minhash_signatures(
    token_hashes: np.ndarray,
    doc_token_counts: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    hash_size: int = 32,
    formula: str = "gaoya",
    bits64: bool = False,
) -> np.ndarray:
    """Signature matrix (n_docs, num_hashes) from concatenated token hashes.

    token_hashes: uint64 array, all docs' token hashes concatenated.
    doc_token_counts: int64 array of per-doc token counts (sums to len).
    """
    n_docs = len(doc_token_counts)
    k = len(a)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(doc_token_counts[:-1], out=starts[1:])
    total = len(token_hashes)
    if total == 0:
        return _truncate(np.zeros((n_docs, k), dtype=np.uint64), hash_size, formula)

    fast32 = formula == "gaoya" and not bits64
    if fast32:
        out = np.empty((n_docs, k), dtype=np.uint32)
        h_all = (token_hashes & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        a_c, b_c = a.astype(np.uint32), b.astype(np.uint32)
    else:
        out = np.empty((n_docs, k), dtype=np.uint64)
        if formula == "modp":
            h_all = token_hashes % np.uint64(MERSENNE_PRIME_31)
        else:
            h_all = token_hashes
        a_c, b_c = a, b

    # chunk docs to ~_TOKENS_PER_CHUNK tokens each so every (tokens x
    # K_TILE) tile stays cache-resident
    per_doc = max(int(doc_token_counts.mean()), 1)
    docs_per_chunk = max(_TOKENS_PER_CHUNK // per_doc, 1)
    with np.errstate(over="ignore"):
        for lo in range(0, n_docs, docs_per_chunk):
            hi = min(lo + docs_per_chunk, n_docs)
            t0 = int(starts[lo])
            t1 = int(starts[hi]) if hi < n_docs else total
            h = h_all[t0:t1]
            if len(h) == 0:
                out[lo:hi] = 0
                continue
            # tiles are computed TRANSPOSED — (k_tile, tokens) C-contiguous —
            # so the per-doc min reduces contiguous segments (axis=1):
            # measured ~9x faster than the axis=0 reduction and ~1.5x on
            # the whole kernel (EXPERIMENTS.md ledger). Arithmetic is
            # orientation-independent and bit-identical.
            hrow = h[None, :]
            rel_starts = starts[lo:hi] - t0
            cnts = doc_token_counts[lo:hi]
            for kt in range(0, k, _K_TILE):
                ke = min(kt + _K_TILE, k)
                if fast32:
                    # u32 wrapping mul/add then mod 2^31-1 — exactly the
                    # reference formula; Mersenne reduction via shift/mask
                    # (integer % is the slowest op here)
                    m = np.multiply(a_c[kt:ke, None], hrow, out=None)
                    m += b_c[kt:ke, None]
                    _mod_mersenne31_inplace(m)
                elif formula == "gaoya":
                    m = (a_c[kt:ke, None] * hrow) + b_c[kt:ke, None]
                    _mod_mersenne61_inplace_u64(m)
                else:
                    # u64 % stays: the two-fold Mersenne-31 reduction on
                    # u64 measured SLOWER than hardware division (1.12 vs
                    # 0.98 ms/tile) — only the single-fold 61-bit variant
                    # wins (EXPERIMENTS.md ledger)
                    m = (a_c[kt:ke, None] * hrow) + b_c[kt:ke, None]
                    m %= np.uint64(MERSENNE_PRIME_31)
                out[lo:hi, kt:ke] = _reduceat_min_t(m, rel_starts, cnts)
    return _truncate(out.astype(np.uint64), hash_size, formula)


def _truncate(sig: np.ndarray, hash_size: int, formula: str) -> np.ndarray:
    """Truncate to the configured element width (min_hasher.rs:93 `h as $type`)."""
    if hash_size == 64:
        return sig.astype(np.int64)  # values < 2^61, sign-safe
    mask = np.uint64((1 << hash_size) - 1)
    return (sig & mask).astype(np.int64)


def superminhash_signatures(
    token_hashes: np.ndarray,
    doc_token_counts: np.ndarray,
    num_hashes: int,
) -> np.ndarray:
    """SuperMinHash (P10, arXiv 1706.05698) — one-permutation minwise
    hashing with lower estimator variance than k independent hashes.

    Behavioral port of the reference's experimental SuperMinHasher32V1
    (/root/reference/gaoya/src/minhash/super_min_hash.rs:37-58): per token,
    a seeded random permutation p of [0, m) and m uniforms r_j; signature
    position j takes min over tokens of (r_j + p_j); floored to u32.
    The per-token PRNG stream is replaced by counter-based splitmix64
    randomness (same uniform/permutation distributions, fully vectorized);
    parity is estimator-behavioral per SURVEY.md §7.2.1.
    """
    m = num_hashes
    n_docs = len(doc_token_counts)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(doc_token_counts[:-1], out=starts[1:])
    out = np.full((n_docs, m), 99999999.0, dtype=np.float64)
    total = len(token_hashes)
    if total:
        j = np.arange(m, dtype=np.uint64)
        chunk = max(_TOKENS_PER_CHUNK // max(m // _K_TILE, 1), 64)
        with np.errstate(over="ignore"):
            for lo_d in range(0, n_docs, max(chunk // 8, 1)):
                hi_d = min(lo_d + max(chunk // 8, 1), n_docs)
                t0 = int(starts[lo_d])
                t1 = int(starts[hi_d]) if hi_d < n_docs else total
                h = token_hashes[t0:t1]
                if not len(h):
                    continue
                # permutation per token: argsort of per-(token, j) mix keys
                perm_keys = splitmix64(h[:, None] ^ (j[None, :] * np.uint64(0x9E3779B97F4A7C15)))
                p = np.argsort(perm_keys, axis=1)
                # uniforms per (token, j)
                u = splitmix64((h[:, None] + np.uint64(1)) ^ (j[None, :] * np.uint64(0xD1342543DE82EF95)))
                r = (u >> np.uint64(11)).astype(np.float64) / float(1 << 53)
                vals = r + p.astype(np.float64)
                cnts = doc_token_counts[lo_d:hi_d]
                nonempty = cnts > 0
                rel = starts[lo_d:hi_d] - t0
                res = np.minimum.reduceat(vals, rel[nonempty], axis=0)
                block = out[lo_d:hi_d]
                block[nonempty] = res
                out[lo_d:hi_d] = block
    # empty docs keep the 99999999 sentinel, mirroring the reference's
    # initializer (super_min_hash.rs:43 — note: NOT the P9 zero rule)
    return out.astype(np.uint32).astype(np.int64)


def superminhash_v2_signatures(
    token_hashes: np.ndarray,
    doc_token_counts: np.ndarray,
    num_hashes: int,
) -> np.ndarray:
    """SuperMinHash V2 (P10, arXiv 1706.05698 §optimized algorithm) —
    behavioral port of the reference's SuperMinHash32V2
    (/root/reference/gaoya/src/minhash/super_min_hash.rs:60-135): per
    token, an incremental partial Fisher-Yates shuffle with the q/p marker
    arrays and the b-histogram early-termination bound a, so later tokens
    touch ever fewer signature slots.

    The per-token StdRng stream is replaced by counter-based splitmix64
    draws (same uniform distributions; parity is estimator-behavioral per
    SURVEY.md §7.2.1). The j-loop state is data-dependent and sequential by
    construction — this is the experimental reference-parity path; the
    vectorized superminhash_signatures (V1) is the scale path, and both
    plug into the same pandas-UDF batching so the outer loop still runs
    once per Arrow batch, not per row."""
    m = num_hashes
    n_docs = len(doc_token_counts)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(doc_token_counts[:-1], out=starts[1:])
    out = np.empty((n_docs, m), dtype=np.int64)
    C1 = np.uint64(0x9E3779B97F4A7C15)
    C2 = np.uint64(0xD1342543DE82EF95)
    inv53 = 1.0 / float(1 << 53)
    with np.errstate(over="ignore"):
        for d in range(n_docs):
            cnt = int(doc_token_counts[d])
            h = np.full(m, 99999999.0)
            a = m - 1
            q = np.full(m, -1, dtype=np.int64)
            p = np.zeros(m, dtype=np.int64)
            b = np.full(m, 0, dtype=np.int64)
            b[m - 1] = m
            t0 = int(starts[d])
            for i in range(cnt):
                th = np.uint64(token_hashes[t0 + i])
                # per-(token, step) counter-based draws: r ~ U[0,1),
                # k ~ U[j, m)
                steps = np.arange(a + 1, dtype=np.uint64)
                ru = splitmix64((th + np.uint64(1)) ^ (steps * C1))
                rs = (ru >> np.uint64(11)).astype(np.float64) * inv53
                ku = splitmix64(th ^ (steps * C2))
                j = 0
                while j <= a:
                    k = j + int(ku[j] % np.uint64(m - j))
                    if q[j] != i:
                        q[j] = i
                        p[j] = j
                    if q[k] != i:
                        q[k] = i
                        p[k] = k
                    p[j], p[k] = p[k], p[j]
                    rpj = rs[j] + j
                    if rpj < h[p[j]]:
                        j2 = min(int(h[p[j]]), m - 1)
                        h[p[j]] = rpj
                        if j < j2:
                            b[j2] -= 1
                            b[j] += 1
                            while b[a] == 0:
                                a -= 1
                    j += 1
            out[d] = h.astype(np.uint32)
    return out


def simhash_signatures(
    token_hashes: np.ndarray,
    doc_token_counts: np.ndarray,
    nbits: int = 64,
    phash: np.ndarray | None = None,
    phash_weight: int = 0,
) -> np.ndarray:
    """SimHash per doc: inverted-vote majority over token-hash bits.

    Returns int64 (two's complement for 64-bit). Optionally folds a per-doc
    64-bit phash into the vote with weight `phash_weight` (north rule: image
    perceptual-hash bits vote alongside caption token bits).
    """
    n_docs = len(doc_token_counts)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(doc_token_counts[:-1], out=starts[1:])
    bitpos = np.arange(nbits, dtype=np.uint64)
    if len(token_hashes):
        bits = ((token_hashes[:, None] >> bitpos[None, :]) & np.uint64(1)).astype(
            np.int64
        )
        contrib = 1 - 2 * bits  # bit==0 -> +1, bit==1 -> -1
        # reduceat over non-empty docs only (an empty doc's clamped start
        # would truncate the previous doc's segment — see _reduceat_min)
        counts = np.zeros((n_docs, nbits), dtype=np.int64)
        nonempty = doc_token_counts > 0
        if nonempty.any():
            counts[nonempty] = np.add.reduceat(contrib, starts[nonempty], axis=0)
    else:
        counts = np.zeros((n_docs, nbits), dtype=np.int64)
    if phash is not None and phash_weight > 0:
        pbits = (
            (phash.astype(np.int64).view(np.uint64)[:, None] >> bitpos[None, :])
            & np.uint64(1)
        ).astype(np.int64)
        counts = counts + phash_weight * (1 - 2 * pbits)
    sig = ((counts > 0).astype(np.uint64) << bitpos[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    return sig.view(np.int64) if nbits == 64 else sig.astype(np.int64)


def simhash_signatures128(
    token_hashes_lo: np.ndarray,
    token_hashes_hi: np.ndarray,
    doc_token_counts: np.ndarray,
    phash: np.ndarray | None = None,
    phash_weight: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """128-bit SimHash as two independent 64-bit word votes (the reference's
    SimHash<SimSipHasher128, u128, 128>, gaoya/benches/lsh_bench.rs:73-110).
    Word 0 carries bits 0-63 (and the 64-bit phash vote, when enabled);
    word 1 carries bits 64-127."""
    lo = simhash_signatures(token_hashes_lo, doc_token_counts, 64, phash, phash_weight)
    hi = simhash_signatures(token_hashes_hi, doc_token_counts, 64)
    return lo, hi


def hamming_distance(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Popcount(xor) — numpy-side mirror of F.bit_count(a ^ b)."""
    x = (a.astype(np.int64) ^ b.astype(np.int64)).view(np.uint64)
    cnt = np.zeros(x.shape, dtype=np.int64)
    for _ in range(64):
        cnt += (x & np.uint64(1)).astype(np.int64)
        x = x >> np.uint64(1)
    return cnt


def minhash_similarity(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Fraction of equal positions (/root/reference/gaoya/src/minhash/mod.rs:118-130)."""
    return float((np.asarray(sig_a) == np.asarray(sig_b)).mean())
