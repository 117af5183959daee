"""MinHash banded LSH as DataFrame dataflow.

The reference's index is a Vec of per-band hash maps
(/root/reference/gaoya/src/minhash/minhash_index.rs:316-328). Here the
"index" is simply the signatures DataFrame/table; banding is recomputed
declaratively and the shuffle on the band key IS the hash table. That
makes inserts (W1-W2) = appends to the signatures table, removals (W3) =
anti-join/DELETE, and queries (Q1-Q7) = a size-routed probe: a probe set
that fits one broadcast is matched in one numpy pass over the index rows
(no exchange, no join), a larger one groups its band keys with the
index's and joins the signatures back — the same matches either way.

Scale notes (100TB / 10^12 rows):
- band hashes are 64-bit xxhash64 of the signature slice — the same
  compression trick as the reference's BandKey (minhash_index.rs:21-27):
  the shuffle carries 8 bytes per band instead of the r-element slice;
  false band collisions are removed by the full-signature verify step.
- candidate generation works on 8-byte id surrogates (sid_col in
  _bucket_pairs.py: the id itself for integral ids, else xxhash64(id)), so
  the pair shuffle carries 16-byte rows regardless of id type; original
  ids come back only on final (verified) pairs. A hashed-sid collision
  can merge two ids (probability ~n^2/2^65: ~27 expected at 10^12 rows, 0
  at any test scale); the cost is a handful of spurious candidate pairs
  that still must pass the full-signature verify — precision impact
  <1e-10, recall impact none (collisions only ADD candidates). Null ids
  are dropped from the band rows, so they are in no pair and no match.
- buckets are materialized ONCE with a single groupBy + collect_list and
  pairs are generated by JVM-side array combinatorics (no self-join, no
  dropDuplicates): measured 2.5x faster end-to-end than the former
  sizes-groupBy + broadcast-tag + self-join + dropDuplicates plan at both
  local[8] and local[32]. collect_list is safe because buckets beyond
  `max_bucket_size` never expand to arrays-of-pairs in a single task:
- hot buckets (> max_bucket_size members) fall back to triangle blocking:
  members are exploded back to rows, split into g groups, and pairs are
  generated per group-pair block via an equi-join — exact (no lost pairs,
  one emission per band), and each block is bounded. Buckets larger than
  `bucket_cap_hard` (pathological keys, e.g. the all-empty-caption bucket
  at 10^12 scale) are excluded from pairing; `band_stats` with thresholds
  reports hot/dropped bucket counts for the pipeline metrics tables.
- every pair is emitted exactly once per matching band, so the post-union
  groupBy yields m = #matching-bands per pair (free skew/selectivity
  metric; also an exact sim lower bound: m matching bands => sim >= m/b).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from gaoya_spark.config import MinHashConfig
from gaoya_spark.operators._bucket_pairs import (
    attach_ids,
    is_materialized,
    sid_col,
    sid_cross_pairs_from_buckets,
    sid_pairs_from_buckets,
    triangle_block_pairs,
)
from gaoya_spark.functions.signatures import (
    make_minhash_udf,
    make_minhash_tokens_udf,
)
from gaoya_spark.functions.similarity import (
    minhash_similarity_packed,
    pack_signature_col,
)


def _min_eq_count(threshold: float, k: int) -> int:
    """Smallest integer e with e/k >= threshold UNDER DOUBLE DIVISION —
    the exact criterion the JVM verify evaluates (sim = eq/k as double,
    compared >= t). ceil(t*k) alone is wrong at float boundaries:
    0.07*100 = 7.000000000000001 in binary, so ceil gives 8 and a pair
    with exactly 7 equal positions (7/100 >= 0.07 is TRUE) would be
    dropped. Start from the ceil estimate and correct both ways against
    the actual float comparison."""
    import math

    e = min(max(int(math.ceil(threshold * k)), 0), k)
    while e > 0 and (e - 1) / k >= threshold:
        e -= 1
    while e <= k and e / k < threshold:
        e += 1
    return e


def _m_sure_bands(threshold: float, k: int, r: int) -> int:
    """Smallest m with (m*r)/k >= threshold under double division: m
    matching bands imply >= m*r equal positions (bands are disjoint
    slices), and IEEE division is monotone in the numerator, so eq/k >=
    (m*r)/k >= t holds in the JVM's own arithmetic — the m-band
    prefilter bound, float-boundary-exact like _min_eq_count."""
    import math

    m = max(int(math.ceil(threshold * k / r)), 0)
    while m > 0 and ((m - 1) * r) / k >= threshold:
        m -= 1
    while (m * r) / k < threshold:
        m += 1
    return m


def _band_keys(mat, b: int, r: int):
    """(n, b) int64 band keys of an (n, b*r) signature matrix: each band's
    r positions fold through splitmix64, seeded by the band index. The
    one band-key function of the Arrow banding (_sid_bands_arrow, hence
    sid_bands tables), the replicated dedup kernel and the broadcast
    probe. Fold step j reads the strided columns j::r (position i*r+j of
    band i), so no (n, b, r) uint64 tile is materialized: peak memory
    stays ~2 key matrices regardless of k."""
    import numpy as np

    from gaoya_spark import hashing

    seeds = hashing.splitmix64(np.arange(b, dtype=np.int64))
    acc = np.broadcast_to(seeds, (len(mat), b)).copy()
    for j in range(r):
        acc = hashing.splitmix64(
            (acc ^ mat[:, j : b * r : r].astype(np.uint64)).view(np.int64)
        )
    return acc.view(np.int64)


def _attach_ids_fn(bc):
    """mapInPandas kernel: (src, dst) sid pairs -> (src, dst) original-id
    pairs in (least, greatest) order, via the broadcast's sid-sorted id
    array. Python id comparison is code-point order, which equals Spark's
    binary UTF8 ordering (UTF-8 is order-preserving), so least/greatest
    agree with the JVM path."""
    import numpy as np
    import pandas as pd

    def fn(it):
        sids_b, _, ids_b = bc.value
        for b in it:
            src = b["src"].to_numpy(dtype=np.int64)
            dst = b["dst"].to_numpy(dtype=np.int64)
            a = ids_b[np.searchsorted(sids_b, src)]
            c = ids_b[np.searchsorted(sids_b, dst)]
            yield pd.DataFrame(
                {"src": np.minimum(a, c), "dst": np.maximum(a, c)}
            )

    return fn


def _eq_counts_chunked(mat_b, si, di, mat_d=None):
    """Per-pair equal-position counts of rows mat_b[si] and mat_d[di]
    (mat_d defaults to mat_b), gathered in slices so the two (chunk, k)
    gathered matrices + bool stay ~<=64MB regardless of how many pairs
    one flush/batch carries (the unchunked compare materializes 2 x
    (pairs, k) matrices — ~4.5GB per 4M-pair flush at k=126/int32, ~35GB
    at k=512/int64, multiplied by concurrent tasks)."""
    import numpy as np

    mat_d = mat_b if mat_d is None else mat_d
    k = mat_b.shape[1] if mat_b.ndim == 2 else 1
    chunk = max(1024, (64 << 20) // max(2 * k * mat_b.dtype.itemsize, 1))
    out = np.empty(len(si), dtype=np.int64)
    for lo in range(0, len(si), chunk):
        hi = lo + chunk
        out[lo:hi] = (mat_b[si[lo:hi]] == mat_d[di[lo:hi]]).sum(axis=1)
    return out


def _pair_verify_fn(bc, need):
    """mapInPandas kernel: (src, dst) sid pairs -> the subset with >= need
    equal signature positions (exact verify against the broadcast
    matrix)."""
    import numpy as np
    import pandas as pd

    def fn(it):
        sids_b, mat_b, _ = bc.value
        for b in it:
            src = b["src"].to_numpy(dtype=np.int64)
            dst = b["dst"].to_numpy(dtype=np.int64)
            si = np.searchsorted(sids_b, src)
            di = np.searchsorted(sids_b, dst)
            keep = _eq_counts_chunked(mat_b, si, di) >= need
            yield pd.DataFrame({"src": src[keep], "dst": dst[keep]})

    return fn


def _bucket_verify_fn(bc, need, max_pairs: int = 4_000_000):
    """mapInPandas kernel over bucket member arrays: generate each
    bucket's i<j pairs IN NUMPY (vectorized per size class — buckets of
    equal size stack into a (g, s) matrix and one cached triu_indices
    gather emits all their pairs at once) and verify them against the
    broadcast matrix in the same pass, emitting only survivors as sid
    pairs. Members resolve to matrix rows ONCE per flush (one
    searchsorted over the member list, not two per generated pair).

    max_pairs bounds the per-flush pair count (index/bool bookkeeping,
    ~17B/pair), and the equality compare inside the flush is additionally
    gathered in ~64MB slices (_eq_counts_chunked) so the (pairs, k)
    signature matrices are never materialized whole — a batch of 10k
    size-256 buckets (326M potential pairs) peaks at tens of MB per task
    regardless of k/itemsize. Member arrays arrive
    sid-sorted, so emitted pairs are (least, greatest) in sid order —
    identical canonicalization to the JVM pair generation."""
    import numpy as np
    import pandas as pd

    tri_cache: dict[int, tuple] = {}

    def flush(lists, sizes, sids_b, mat_b):
        flat = np.concatenate(list(lists))
        ridx = np.searchsorted(sids_b, flat)
        offs = np.cumsum(sizes) - sizes
        si_parts, di_parts = [], []
        for s in np.unique(sizes):
            sel = np.nonzero(sizes == s)[0]
            pos = offs[sel][:, None] + np.arange(s)[None, :]
            m = ridx[pos]
            if int(s) not in tri_cache:
                tri_cache[int(s)] = np.triu_indices(int(s), 1)
            iu, ju = tri_cache[int(s)]
            si_parts.append(m[:, iu].ravel())
            di_parts.append(m[:, ju].ravel())
        si = np.concatenate(si_parts)
        di = np.concatenate(di_parts)
        keep = _eq_counts_chunked(mat_b, si, di) >= need
        return pd.DataFrame({"src": sids_b[si[keep]], "dst": sids_b[di[keep]]})

    def fn(it):
        sids_b, mat_b, _ = bc.value
        for pdf in it:
            lists = pdf["ids"].to_numpy()
            n = len(lists)
            if not n:
                continue
            sizes = np.fromiter((len(x) for x in lists), dtype=np.int64, count=n)
            csum = np.cumsum(sizes * (sizes - 1) // 2)
            start = 0
            while start < n:
                base = csum[start - 1] if start else 0
                end = max(
                    int(np.searchsorted(csum, base + max_pairs, side="right")),
                    start + 1,
                )
                out = flush(lists[start:end], sizes[start:end], sids_b, mat_b)
                if len(out):
                    yield out
                start = end

    return fn


_SET_ID_SALT = 0x51C3_9A7B_42D8_11E5


def _replicated_dedup_fn(bc, need, b, r, n_parts, cap, max_pairs: int = 4_000_000):
    """mapInPandas kernel over a 1-row-per-partition range frame: the
    FULLY-REPLICATED dedup. Every task recomputes the corpus's band keys
    from the broadcast signature matrix (the same splitmix64 fold as
    _sid_bands_arrow, vectorized — per-band argsorts, so the grouping
    cost is b sorts of n keys, not one sort of n*b), derives every
    bucket's member-row segments, and processes the hash-partition of
    DISTINCT member sets assigned to it: 128-bit set identity (two
    independently salted xor-reduceats over member hashes — the same
    no-collision guarantee class as the substring gram fingerprints),
    local lexsort dedup, then vectorized triu pair generation + verify
    against the broadcast matrix, chunked to max_pairs per flush.

    Replication trades ~0.2-0.5s of redundant vectorized key computation
    per task for the ENTIRE bucket dataflow: no band explode, no bucket
    groupBy exchange, no identical-set collapse exchange, no candidate
    shuffle — survivors (locally uniqued) are the first rows to ever
    leave a task. Exact: every bucket instance's set is hashed, each
    distinct set is verified exactly once cluster-wide (assignment is by
    set identity, so cross-band repeats of a family collapse for free),
    and pairs shared by overlapping sets are deduped by the caller's
    dropDuplicates. Buckets larger than cap (bucket_cap_hard) are
    excluded, exactly like the JVM and fused routes. Members arrive
    row-index-sorted (rows are sid-sorted in the broadcast), so emitted
    pairs are (least, greatest) in sid order like every other path."""
    import numpy as np
    import pandas as pd

    from gaoya_spark import hashing

    tri_cache: dict[int, tuple] = {}
    state: dict = {}

    def segments():
        """(memb, lens, seg_starts, h1, h2): flat member row indices of
        every kept (2 <= size <= cap) bucket across all bands, per-segment
        lengths/starts, and the 128-bit set-identity words."""
        sids_b, mat_b, _ = bc.value
        n = len(sids_b)
        memb_parts, len_parts = [], []
        if n >= 2:
            acc = _band_keys(mat_b, b, r)
            for j in range(b):
                col = acc[:, j]
                o = np.argsort(col)
                sk = col[o]
                cut = np.nonzero(sk[1:] != sk[:-1])[0] + 1
                starts = np.concatenate([np.zeros(1, np.int64), cut])
                ends = np.concatenate([cut, np.full(1, n, np.int64)])
                sizes = ends - starts
                keep = (sizes >= 2) & (sizes <= cap)
                ks, kl = starts[keep], sizes[keep]
                if not len(ks):
                    continue
                total = int(kl.sum())
                base = np.cumsum(kl) - kl
                idx = np.repeat(ks, kl) + np.arange(total) - np.repeat(base, kl)
                memb_parts.append(o[idx])
                len_parts.append(kl)
        if memb_parts:
            memb = np.concatenate(memb_parts)
            lens = np.concatenate(len_parts)
        else:
            memb = np.empty(0, np.int64)
            lens = np.empty(0, np.int64)
        seg_starts = np.cumsum(lens) - lens
        if len(lens):
            h1 = np.bitwise_xor.reduceat(hashing.splitmix64(memb), seg_starts)
            h2 = np.bitwise_xor.reduceat(
                hashing.splitmix64(memb ^ np.int64(_SET_ID_SALT)), seg_starts
            )
        else:
            h1 = np.empty(0, np.uint64)
            h2 = np.empty(0, np.uint64)
        return memb, lens, seg_starts, h1, h2

    def verify_own(part):
        sids_b, mat_b, _ = bc.value
        n = len(sids_b)
        memb, lens, seg_starts, h1, h2 = state["seg"]
        if not len(lens):
            return
        own = np.nonzero(h1 % np.uint64(n_parts) == np.uint64(part))[0]
        if not len(own):
            return
        # 128-bit-exact local dedup of the assigned distinct sets
        o1, o2 = h1[own].view(np.int64), h2[own].view(np.int64)
        order = np.lexsort((o2, o1))
        first = np.ones(len(order), bool)
        s1, s2 = o1[order], o2[order]
        first[1:] = (s1[1:] != s1[:-1]) | (s2[1:] != s2[:-1])
        segs = own[order[first]]
        sizes = lens[segs]
        csum = np.cumsum(sizes * (sizes - 1) // 2)
        start = 0
        while start < len(segs):
            base = csum[start - 1] if start else 0
            end = max(
                int(np.searchsorted(csum, base + max_pairs, side="right")),
                start + 1,
            )
            chunk = segs[start:end]
            ssz = lens[chunk]
            si_parts, di_parts = [], []
            for s in np.unique(ssz):
                sel = chunk[ssz == s]
                pos = seg_starts[sel][:, None] + np.arange(s)[None, :]
                mrows = memb[pos]
                if int(s) not in tri_cache:
                    tri_cache[int(s)] = np.triu_indices(int(s), 1)
                iu, ju = tri_cache[int(s)]
                si_parts.append(mrows[:, iu].ravel())
                di_parts.append(mrows[:, ju].ravel())
            si = np.concatenate(si_parts)
            di = np.concatenate(di_parts)
            keep = _eq_counts_chunked(mat_b, si, di) >= need
            si, di = si[keep], di[keep]
            if len(si):
                lo = np.minimum(si, di)
                hi = np.maximum(si, di)
                # local pair dedup (overlapping sets re-emit a pair):
                # shrinks the survivor exchange for free
                u = np.unique(lo * np.int64(n) + hi)
                lo, hi = u // np.int64(n), u % np.int64(n)
                yield pd.DataFrame({"src": sids_b[lo], "dst": sids_b[hi]})
            start = end

    def fn(it):
        for pdf in it:
            for part in pdf["id"].tolist():
                if "seg" not in state:
                    state["seg"] = segments()
                yield from verify_own(int(part))

    return fn


def _probe_match_fn(bc, b, r, excluded, max_pairs: int = 4_000_000):
    """mapInPandas kernel over (id, sig) index rows: the broadcast probe of
    MinHashLSH.query. Each task bands the broadcast probe matrix once
    (_band_keys, sorted, minus the `excluded` over-cap keys). Per index
    batch it bands the batch the same way, finds every (probe row, index
    row) pair sharing a band key by searchsorted, keeps each pair once,
    and scores it sim = eq/k as a float64, the JVM route's
    minhash_similarity_packed arithmetic. Emits (qid, id, sim) for every
    candidate in the input id types; the caller filters by threshold.

    Pairs are generated in flushes of whole index rows, ~max_pairs key
    hits each (at least one row), so the per-flush dedup sees every band
    of its rows and a whole index row's pairs are emitted once."""
    import numpy as np
    import pandas as pd

    state: dict = {}

    def probe_keys(mat_p):
        keys = _band_keys(mat_p, b, r).ravel()
        rows = np.arange(len(keys)) // b
        keep = ~np.isin(keys, excluded)
        keys, rows = keys[keep], rows[keep]
        o = np.argsort(keys)
        return keys[o], rows[o]

    def fn(it):
        _, mat_p, ids_p = bc.value
        n_p, k = mat_p.shape
        for pdf in it:
            n = len(pdf)
            if not n:
                continue
            if "keys" not in state:
                state["keys"] = probe_keys(mat_p)
            pkeys, prows = state["keys"]
            mat_i = np.stack(pdf["sig"].to_numpy())
            flat = _band_keys(mat_i, b, r).ravel()
            lo = np.searchsorted(pkeys, flat, "left")
            hits = np.searchsorted(pkeys, flat, "right") - lo
            csum = np.cumsum(hits.reshape(n, b).sum(axis=1))
            ids_i = pdf["id"].to_numpy()
            start = 0
            while start < n:
                base = csum[start - 1] if start else 0
                end = max(
                    int(np.searchsorted(csum, base + max_pairs, side="right")),
                    start + 1,
                )
                c = hits[start * b : end * b]
                total = int(c.sum())
                if total:
                    key_idx = np.repeat(np.arange(start * b, end * b), c)
                    off = np.arange(total) - np.repeat(np.cumsum(c) - c, c)
                    pr = prows[lo[key_idx] + off]
                    u = np.unique((key_idx // b) * np.int64(n_p) + pr)
                    ir, pr = u // n_p, u % n_p
                    eq = _eq_counts_chunked(mat_p, pr, ir, mat_i)
                    yield pd.DataFrame(
                        {"qid": ids_p[pr], "id": ids_i[ir], "sim": eq / k}
                    )
                start = end

    return fn


@dataclass
class BandStats:
    """Skew metrics per band (reference's band_sizes/BandStats,
    minhash_index.rs:800-821) — recorded by the pipeline (north rule)."""

    df: DataFrame  # (band_idx, n_buckets, max_bucket, avg_bucket)


class MinHashLSH:
    def __init__(self, cfg: MinHashConfig | None = None):
        self.cfg = cfg or MinHashConfig()
        # (route, reason) of the last dedup_pairs call, e.g.
        # ("replicated", "fits broadcast") or ("jvm", "over row bound")
        self.last_route: tuple[str, str] | None = None

    # ------------------------------------------------------------------ sigs
    def signatures(
        self,
        df: DataFrame,
        id_col: str = "id",
        text_col: str = "text",
        phash_col: str | None = None,
        tokens_col: str | None = None,
    ) -> DataFrame:
        """(id, sig) — the index table. Only id/text/phash columns are read,
        so parquet scans prune everything else (image bytes never move)."""
        if tokens_col is not None:
            udf = make_minhash_tokens_udf(self.cfg)
            sig = udf(F.col(tokens_col))
        elif phash_col is not None:
            udf = make_minhash_udf(self.cfg, with_phash=True)
            sig = udf(F.col(text_col), F.col(phash_col))
        else:
            udf = make_minhash_udf(self.cfg)
            sig = udf(F.col(text_col))
        return df.select(F.col(id_col).alias("id"), sig.alias("sig"))

    # ----------------------------------------------------------------- bands
    def bands(self, sig_df: DataFrame, id_col: str = "id") -> DataFrame:
        """(id, band_idx, band_hash): one row per band, fully JVM-side.

        band_hash = xxhash64(slice(sig, band*r, r), band_idx) — seeding with
        band_idx keeps identical slices in different bands in distinct key
        spaces, mirroring per-band hash tables.
        """
        b, r = self.cfg.num_bands, self.cfg.band_width
        hashes = F.transform(
            F.sequence(F.lit(0), F.lit(b - 1)),
            lambda i: F.xxhash64(F.slice("sig", i * r + 1, r), i),
        )
        return sig_df.select(
            F.col(id_col).alias("id"),
            F.posexplode(hashes).alias("band_idx", "band_hash"),
        )

    def band_stats(
        self,
        bands_df: DataFrame,
        max_bucket_size: int | None = None,
        bucket_cap_hard: int | None = None,
    ) -> DataFrame:
        """Per-band skew metrics. When the candidate-generation thresholds
        are passed, also reports n_hot (triangle-blocked) and n_dropped
        (excluded by bucket_cap_hard) bucket counts — the pipeline writes
        this to metrics_band_skew, so capped buckets are never silent."""
        bucket = bands_df.groupBy("band_idx", "band_hash").agg(
            F.count("*").alias("bucket_size")
        )
        aggs = [
            F.count("*").alias("n_buckets"),
            F.max("bucket_size").alias("max_bucket"),
            F.avg("bucket_size").alias("avg_bucket"),
        ]
        if max_bucket_size is not None:
            aggs.append(
                F.sum((F.col("bucket_size") > max_bucket_size).cast("long")).alias("n_hot")
            )
        if bucket_cap_hard is not None:
            aggs.append(
                F.sum((F.col("bucket_size") > bucket_cap_hard).cast("long")).alias("n_dropped")
            )
        return bucket.groupBy("band_idx").agg(*aggs)

    # ----------------------------------------------------------- dedup pairs
    def _sid_bands(self, sig_df: DataFrame) -> DataFrame:
        """(sid, bk) via JVM xxhash64 of each band slice, seeded by the band
        index. No route uses it: it is the independent reference the
        Arrow banding (_sid_bands_arrow) is tested against."""
        b, r = self.cfg.num_bands, self.cfg.band_width
        hashes = F.transform(
            F.sequence(F.lit(0), F.lit(b - 1)),
            lambda i: F.xxhash64(F.slice("sig", i * r + 1, r), i),
        )
        return sig_df.where(F.col("id").isNotNull()).select(
            sid_col(sig_df).alias("sid"), F.explode(hashes).alias("bk")
        )

    def _sid_bands_arrow(self, sig_df: DataFrame) -> DataFrame:
        """(sid, bk) like _sid_bands, but the band keys are computed in one
        vectorized Arrow pass: the batch's signatures stack into an (n, k)
        matrix and each band slice folds through splitmix64 seeded by the
        band index (_band_keys) — no per-band JVM array slices,
        no explode of array-valued columns. Measured ~1.5x the JVM banding
        on the 100k-image corpus (1.01s vs 1.54s MIN, EXPERIMENTS.md).

        The key FUNCTION differs from _sid_bands (splitmix64 fold vs
        xxhash64) — both are internal bucket keys whose only contract is
        "equal slices in the same band collide, others essentially never",
        so candidate sets agree up to astronomically-unlikely collisions
        that the verify removes either way."""
        import numpy as np
        import pandas as pd

        b, r = self.cfg.num_bands, self.cfg.band_width

        def kernel(it):
            for pdf in it:
                if not len(pdf):
                    continue
                keys = _band_keys(np.stack(pdf["sig"].to_numpy()), b, r)
                yield pd.DataFrame(
                    {
                        "sid": np.repeat(pdf["sid"].to_numpy(), b),
                        "bk": keys.ravel(),
                    }
                )

        return (
            sig_df.where(F.col("id").isNotNull())
            .select(sid_col(sig_df).alias("sid"), "sig")
            .mapInPandas(kernel, "sid long, bk long")
        )

    def sid_bands(self, sig_df: DataFrame) -> DataFrame:
        """Public (sid, bk) banding table — the persisted-index form of
        the reference's per-band hash maps (minhash_index.rs:316-328):
        insert (W1) = append these 16-byte rows, query (Q1-Q2) = probe
        them via query(..., index_bands=). At 10^12 rows this is THE
        index artifact a warehouse maintains so a query never re-bands
        the corpus; StreamingDedup appends each micro-batch's rows to
        its stream_bands table and probes the accumulated index. A probe
        set that fits one broadcast bands the index rows in its kernel
        instead, so on that route the table only feeds query's
        bucket-cap count (see query); larger probes group their keys
        with its rows.

        The sid is sid_col's: an integral id is its own sid, so a table
        written when every sid was xxhash64(id) must be rebuilt before
        integral-id signatures probe it. Null-id rows have no band row."""
        return self._sid_bands_arrow(sig_df)

    def sid_candidates(
        self,
        sig_df: DataFrame,
        max_bucket_size: int = 16,
        block_groups: int = 16,
        bucket_cap_hard: int = 100_000,
        persist: bool = True,
        medium_bucket_size: int = 1024,
        gate: bool = False,
    ) -> DataFrame:
        """(src, dst, m) candidate pairs in sid space, m = #matching bands
        (shared machinery: operators/_bucket_pairs.py), banded by the
        vectorized Arrow kernel (_sid_bands_arrow). Buckets >
        bucket_cap_hard are excluded — band_stats records hot/dropped
        counts. medium_bucket_size bounds the collapse+array middle tier
        (set equal to max_bucket_size to route everything hot through the
        triangle block join)."""
        return sid_pairs_from_buckets(
            self._sid_bands_arrow(sig_df),
            array_bucket_limit=max_bucket_size,
            drop_cap=bucket_cap_hard,
            block_groups=block_groups,
            persist=persist,
            medium_bucket_limit=medium_bucket_size,
            gate=gate,
        )

    def candidate_pairs(
        self,
        sig_df: DataFrame,
        max_bucket_size: int = 16,
        block_groups: int = 16,
        bucket_cap_hard: int = 100_000,
        persist: bool = True,
    ) -> DataFrame:
        """All-corpus candidate pairs (src < dst by id value), deduped across
        bands — public id-space wrapper over sid_candidates."""
        cand = self.sid_candidates(
            sig_df, max_bucket_size, block_groups, bucket_cap_hard, persist
        )
        return attach_ids(cand.select("src", "dst"), sig_df)

    def verify_pairs(self, pairs: DataFrame, sig_df: DataFrame) -> DataFrame:
        """(src, dst, sim): join signatures packed two-positions-per-long
        (halves both the broadcast build and the verify kernel's element
        count — measured 1.6x on the 59M-candidate workload), compute the
        JVM-side fraction of equal positions (P14)."""
        k = self.cfg.num_hashes
        s = sig_df.select("id", pack_signature_col(F.col("sig"), k, self.cfg.hash_size).alias("psig"))
        sa = s.select(F.col("id").alias("src"), F.col("psig").alias("pa"))
        sb = s.select(F.col("id").alias("dst"), F.col("psig").alias("pb"))
        return (
            pairs.join(sa, "src")
            .join(sb, "dst")
            .withColumn("sim", minhash_similarity_packed("pa", "pb", k, self.cfg.hash_size))
            .select("src", "dst", "sim")
        )

    # byte budget for the numpy routes' broadcast signature matrix:
    # bytes-aware, not just rows — k varies 128..512 across configs, so a
    # fixed row cap alone would admit a ~1.6GB matrix at k=512/int64.
    # 512MB keeps the collected table + per-worker copy comfortably
    # inside a few-GB pool.
    _BROADCAST_BYTES = 512 << 20

    # row bound of a broadcast signature table: dedup_pairs' default
    # numpy_max_rows, and with _REPL_PREFER_KEYS the probe bound of query
    _NUMPY_MAX_ROWS = 2_000_000

    # query's bucket cap: a band key whose index side holds more than this
    # many band rows matches no probe. Both query routes read it (the JVM
    # route as sid_cross_pairs_from_buckets' drop_cap, the broadcast probe
    # in its key count), so they cannot diverge.
    _QUERY_DROP_CAP = 100_000

    # auto routing skips the broadcast build when the trusted size
    # estimate (see _size_estimate) is over this many budgets. Measured
    # estimate / actual Arrow bytes of the collected (sid, sig, id) table,
    # 20k- and 40k-row signature tables at k=200, 32- and 64-bit:
    # 0.29-1.37 from a parquet scan (compression only lowers it),
    # 1.36-1.46 from a filled cache. 2 keeps every measured fit table on
    # the broadcast side; a table between one and two budgets pays the
    # row-count probe instead.
    _ESTIMATE_SLACK = 2

    # plan leaves whose statistics are measured sizes: file and table
    # scans (file sizes) and local relations. An RDD leaf (createDataFrame,
    # checkpoints) reports spark.sql.defaultSizeInBytes or an estimate
    # carried over from the plan it replaced — a placeholder, not a size.
    _SIZED_LEAVES = frozenset({
        "LogicalRelation", "HiveTableRelation", "DataSourceV2Relation",
        "DataSourceV2ScanRelation", "LocalRelation",
    })

    def _size_estimate(self, df: DataFrame) -> int | None:
        """The optimized plan's sizeInBytes estimate when it measures the
        rows df yields, else None. Trusted only for a chain of projections
        over one sized leaf or filled cache whose every column is read.
        Anything else can be off by an unbounded factor: a filter keeps
        its input's size (measured 2.9-5.4x over at 10% selectivity),
        unread columns count in full, python-computed signatures carry the
        size of the text they are computed from, and an unfilled cache
        reports the estimate of the plan it caches. None too where the
        session exposes no JVM plan."""
        from py4j.protocol import Py4JError

        try:
            plan = df._jdf.queryExecution().optimizedPlan()
            node, refs = plan, None
            while node.getClass().getSimpleName() == "Project":
                refs = node.references()
                node = node.child()
            name = node.getClass().getSimpleName()
            if name == "InMemoryRelation":
                if not node.cacheBuilder().isCachedColumnBuffersLoaded():
                    return None
            elif name not in self._SIZED_LEAVES:
                return None
            if refs is not None and refs.size() < node.outputSet().size():
                return None
            return int(plan.stats().sizeInBytes())
        except (AttributeError, Py4JError):
            return None

    def _build_sig_broadcast(
        self,
        sig_df: DataFrame,
        max_rows: int,
        persist: bool = False,
    ):
        """(broadcast, None) of (sids_sorted, signature matrix, ids_sorted)
        for the numpy kernels, or (None, reason) when a guard trips and the
        JVM shuffle verify runs instead:
        - "over size estimate": the trusted size estimate is over
          _ESTIMATE_SLACK budgets, so no Spark job runs at all;
        - "over row bound": more rows than max_rows or the byte budget;
        - "sid collision": two rows with one sid, i.e. a duplicated id or
          an xxhash64(id) collision (the sorted-adjacency check is free
          on the already-sorted array; searchsorted would silently
          resolve a collided sid to its first occurrence,
          substituting one doc's signature for another, where the JVM
          join path fans out both rows — routing collisions to the JVM
          path keeps the two verify paths from diverging).

        The row bound costs one bounded collect when the trusted estimate
        is within budget. Otherwise (no trusted estimate, or one between
        the budget and the slack) a row count runs first, so a table over
        the bound ships nothing to the driver. persist=True caches a
        sig_df that has no trusted estimate (computed signatures: costly
        to compute again; a stored or cached table is cheap to read
        again), after the estimate is read (a cache that is not yet
        filled hides it) and before the first job, so the count or
        collect fills the cache that the later readers of sig_df use.

        Null-id rows count against the row bound but are dropped from the
        payload: a null id names no document, so it joins no pair on any
        route (every null string id hashes to one sid, which would also
        trip the collision guard). sig_df itself is not filtered — a
        filter hides the size estimate.

        Lifecycle: the broadcast must outlive the returned (lazy)
        DataFrames; like the persisted buckets, it is dropped by the
        ContextCleaner once the plan is no longer referenced."""
        import numpy as np

        k = self.cfg.num_hashes
        dt = np.int64 if self.cfg.hash_size >= 64 else np.int32
        row_bytes = k * (8 if self.cfg.hash_size >= 64 else 4) + 24
        budget = self._BROADCAST_BYTES
        eff_rows = min(max_rows, budget // row_bytes)

        def collected():
            return sig_df.select(sid_col(sig_df).alias("sid"), "sig", "id")

        est = self._size_estimate(collected())
        if est is not None and est > self._ESTIMATE_SLACK * budget:
            return None, "over size estimate"
        if persist and est is None:
            sig_df.persist()
        sel = collected()
        # limit(bound+1) caps the driver transfer (at most bound+1 rows
        # ever reach the driver); within bound the collected batch IS the
        # broadcast payload, so a table the estimate already fits costs
        # one job, no count() pass
        over = (est is None or est > budget) and (
            sel.limit(eff_rows + 1).count() > eff_rows
        )
        if not over:
            tbl = sel.limit(eff_rows + 1).toArrow()
            over = tbl.num_rows > eff_rows
        if over:
            return None, "over row bound"
        if tbl.column("id").null_count:
            tbl = tbl.filter(tbl.column("id").is_valid())
        sids = tbl.column("sid").to_numpy()
        order = np.argsort(sids)
        sids_sorted = sids[order]
        if len(sids) > 1 and (sids_sorted[1:] == sids_sorted[:-1]).any():
            return None, "sid collision"
        if len(sids):
            flat = tbl.column("sig").combine_chunks().flatten().to_numpy(
                zero_copy_only=False
            )
            mat = flat.astype(dt, copy=False).reshape(len(sids), k)[order]
        else:
            mat = np.zeros((0, k), dtype=dt)
        ids_sorted = tbl.column("id").to_numpy(zero_copy_only=False)[order]
        bc = sig_df.sparkSession.sparkContext.broadcast(
            (sids_sorted, mat, ids_sorted)
        )
        return bc, None

    # replicated/fused cutover: prefer the replicated kernel only while
    # the per-task replication work (full key fold + b argsorts, run
    # concurrently in EVERY task slot) is trivial. Past this bound the
    # concurrent replicas contend for the one memory bus of a task slot's
    # host and the kernel's wall time becomes load-dependent (measured on
    # the 5M-key img corpus: min 2.9s on a quiet box, min 5.3/med 5.9 on
    # a contended one, vs fused's stable 2.7-3.5) — the fused kernel
    # takes over there. It also bounds the replicated kernel's per-task
    # memory: the (rows x num_bands) key matrix, the flat member index and
    # the fold/sort buffers peak at roughly 3-4x keys*8B (~64MB here).
    _REPL_PREFER_KEYS = 2_000_000

    def _replicated_dedup(
        self,
        sig_df: DataFrame,
        threshold: float,
        bc,
        bucket_cap_hard: int = 100_000,
    ) -> DataFrame:
        """Fully-replicated dedup (see _replicated_dedup_fn): every task
        rebuilds the corpus's bucket structure from the broadcast matrix
        and verifies its hash-partition of DISTINCT member sets; the only
        exchanges in the whole plan are the survivor dropDuplicates and
        nothing else (guide §2.4 — the shuffle-free extreme of the
        broadcast-verify family). Identical-set collapse is free
        (assignment is by 128-bit set identity), so it subsumes the fused
        path's collapse.

        bc is the guarded broadcast from _build_sig_broadcast — the plan
        never reads sig_df again (dedup_pairs drops its cache). The task
        count is the session's defaultParallelism — scale-adaptive, never
        a local constant."""
        b, r = self.cfg.num_bands, self.cfg.band_width
        spark = sig_df.sparkSession
        p = spark.sparkContext.defaultParallelism or 8
        need = _min_eq_count(threshold, self.cfg.num_hashes)
        id_sql = sig_df.schema["id"].dataType.simpleString()
        base = spark.range(0, p, 1, p)
        survivors = base.mapInPandas(
            _replicated_dedup_fn(bc, need, b, r, p, bucket_cap_hard),
            "src long, dst long",
        )
        # explicit p-partition hash repartition on the dedup key: the
        # dropDuplicates groupBy reuses it (no second exchange), and the
        # attach kernel runs p python tasks instead of
        # spark.sql.shuffle.partitions — cached/non-AQE plans (the bench
        # caches results) otherwise keep the uncoalesced default and pay
        # one python-worker roundtrip per near-empty partition
        return (
            survivors.repartition(p, "src", "dst")
            .dropDuplicates(["src", "dst"])
            .mapInPandas(_attach_ids_fn(bc), f"src {id_sql}, dst {id_sql}")
        )

    def _fused_dedup(
        self,
        sig_df: DataFrame,
        threshold: float,
        bc,
        max_bucket_size: int = 16,
        medium_bucket_size: int = 1024,
        bucket_cap_hard: int = 100_000,
        block_groups: int = 16,
        persist: bool = True,
    ) -> DataFrame:
        """Fused bucket -> pair-gen -> verify: one Arrow kernel generates
        each bucket's pairs in numpy AND verifies them against the
        broadcast signature matrix in the same pass, so only SURVIVORS
        (true pairs x band multiplicity) ever hit an exchange. Versus the
        aggregated numpy path this deletes, for the 100k-image corpus:
        the 6.5M-row candidate m-agg shuffle, the 6.5M-row Arrow transfer
        into the verify kernel, and the JVM pair explode — the raw numpy
        compute they fed is trivial (6.5M-pair verify ~ 0.4s spread over
        32 workers; the shuffles around it were the cost).

        Tiers mirror sid_pairs_from_buckets exactly:
        - <= max_bucket_size: bucket arrays straight into the fused kernel
          (one verify per bucket INSTANCE; a boilerplate family repeating
          per band re-verifies per band — cheap under the vectorized
          kernel, and dropDuplicates collapses survivors).
        - <= medium_bucket_size (after identical-member-set collapse, so a
          family repeating in all b bands verifies ONCE): fused kernel,
          internally chunked to max_pairs per flush.
        - <= bucket_cap_hard: triangle block join generates pair rows
          JVM-side (bounded per-task work), the rowwise kernel verifies.
        - > bucket_cap_hard: excluded, like every other path (band_stats
          records the count).

        The m-band prefilter does not apply (no m without the aggregation
        this path exists to delete); pairs above threshold by band count
        are simply verified — measured cheaper than aggregating to learn
        m. bc is the guarded broadcast from _build_sig_broadcast; the
        banding below reads sig_df a second time, from the cache
        dedup_pairs put on it before that collect (and, like every
        banding, without null-id rows).

        Trade-off vs aggregated candidates: survivors replace candidates
        in the one remaining exchange, so this wins when true-pair density
        is low-to-moderate (web-crawl dedup); a corpus that is mostly one
        giant near-dup family (survivor emissions >> candidates after
        collapse) would prefer the JVM route's aggregation."""
        k = self.cfg.num_hashes
        need = _min_eq_count(threshold, k)
        id_sql = sig_df.schema["id"].dataType.simpleString()
        buckets = (
            self._sid_bands_arrow(sig_df)
            .groupBy("bk")
            .agg(F.array_sort(F.collect_list("sid")).alias("ids"))
            .where(F.size("ids").between(2, bucket_cap_hard))
        )
        if persist:
            buckets = buckets.persist()
        sz = F.size("ids")
        small = buckets.where(sz <= max_bucket_size).select("ids")
        # over-limit buckets: collapse identical member sets (the hot
        # boilerplate family repeats its bucket in every band — one verify
        # instead of b), medium sets to the fused kernel, huge ones to the
        # JVM triangle block join + rowwise verify
        collapsed = (
            buckets.where(sz > max_bucket_size)
            .select("ids")
            .distinct()
        )
        if persist:
            collapsed = collapsed.persist()
        # small + collapsed-medium run through ONE kernel invocation over
        # their union (one python stage instead of two — the kernel is
        # size-agnostic, and on sparse corpora the medium tier is nearly
        # empty but previously still cost its own MapInPandas stage)
        fused_in = small.unionByName(
            collapsed.where(F.size("ids") <= medium_bucket_size)
        )
        survivors = fused_in.mapInPandas(
            _bucket_verify_fn(bc, need), "src long, dst long"
        )
        pairs_hot = triangle_block_pairs(
            collapsed.where(F.size("ids") > medium_bucket_size), block_groups
        )
        survivors = survivors.unionByName(
            pairs_hot.mapInPandas(_pair_verify_fn(bc, need), "src long, dst long")
        )
        # p-partition repartition reused by the dedup groupBy; keeps the
        # attach kernel at p python tasks under cached/non-AQE
        # compilation — see _replicated_dedup
        p = sig_df.sparkSession.sparkContext.defaultParallelism or 8
        return (
            survivors.repartition(p, "src", "dst")
            .dropDuplicates(["src", "dst"])
            .mapInPandas(_attach_ids_fn(bc), f"src {id_sql}, dst {id_sql}")
        )

    # the bucket-tier keywords dedup_pairs accepts through **kw: the
    # sid_candidates knobs, which the numpy kernels read where they apply
    _TIER_KW = frozenset({
        "max_bucket_size", "medium_bucket_size", "bucket_cap_hard",
        "block_groups", "persist", "gate",
    })

    def _broadcast_dedup(
        self,
        sig_df: DataFrame,
        threshold: float,
        max_rows: int,
        kw: dict,
    ) -> DataFrame | None:
        """The broadcast-fit routes of dedup_pairs(keep_sim=False), or None
        when the JVM shuffle verify must run instead. Records
        self.last_route either way.

        Computed signatures are persisted before the first job of the
        broadcast build (see _build_sig_broadcast): the JVM and fused
        routes read sig_df again, and without the cache they would be
        computed twice. The replicated route never reads it again, so
        there the cache is dropped as soon as the route is known."""
        may_cache = kw.get("persist", True) and not is_materialized(sig_df)
        bc, why = self._build_sig_broadcast(sig_df, max_rows, persist=may_cache)
        if bc is None:
            self.last_route = ("jvm", why)
            return None
        if len(bc.value[0]) * self.cfg.num_bands <= self._REPL_PREFER_KEYS:
            # the replicated kernel while replication is trivial (250k
            # keys: ~10ms/task) — it deletes the whole bucket dataflow;
            # measured best (2.7s vs fused 5.2) to tied (6.5 vs 6.6) on
            # the 5k-doc bench corpus
            if may_cache and is_materialized(sig_df):
                sig_df.unpersist()
            self.last_route = ("replicated", "fits broadcast")
            return self._replicated_dedup(
                sig_df, threshold, bc,
                bucket_cap_hard=kw.get("bucket_cap_hard", 100_000),
            )
        # fused bucket->pair-gen->verify kernel (see _fused_dedup): no
        # candidate materialization at all — only survivors shuffle
        self.last_route = ("fused", "fits broadcast")
        return self._fused_dedup(
            sig_df, threshold, bc,
            **{key: v for key, v in kw.items() if key != "gate"},
        )

    def dedup_pairs(
        self,
        sig_df: DataFrame,
        threshold: float | None = None,
        keep_sim: bool = True,
        numpy_verify: bool = True,
        numpy_max_rows: int = _NUMPY_MAX_ROWS,
        **kw,
    ) -> DataFrame:
        """Full-corpus near-duplicate pairs with sim >= threshold (Q2 uses
        >=, minhash_index.rs:556). Candidates flow in sid space; original
        ids are attached in the same join that brings the signatures, so the
        only shuffles carrying ids/signatures are over final candidates.

        ROUTING is by data size, not by a flag. With keep_sim=False and
        the default numpy_verify=True, a signature table that fits one
        broadcast (numpy_max_rows rows and the 512MB byte budget, no sid
        collision) runs an exact numpy kernel against the broadcast
        signature matrix: the replicated kernel up to _REPL_PREFER_KEYS
        band keys, the fused kernel above. Any other table runs the JVM
        shuffle verify below, the expected large-corpus path. A table
        whose trusted size estimate is already over twice the budget goes
        to the JVM route without a Spark job, and one the estimate cannot
        place is row-counted before anything is collected, so an
        over-bound table never ships rows to the driver.
        numpy_verify=False forces the JVM route at any size; keep_sim=True
        always takes it (the numpy kernels return pairs only). Every route
        returns the same pair set, and a row with a null id is in no pair
        on any route. The choice is recorded as self.last_route = (route,
        reason), e.g. ("replicated", "fits broadcast") or ("jvm", "over
        row bound").

        NOTE: building the broadcast runs a Spark job and a driver collect
        of the signature table IMMEDIATELY (at plan-construction time),
        unlike the JVM route, which stays lazy until an action. Computed
        signatures (no trusted size estimate) are persisted before that
        collect, so they are computed once on every route; the replicated
        route, which never reads sig_df again, drops the cache. A stored
        or cached table is read again instead; the JVM route caches it.

        keep_sim=False drops the sim column and, on the JVM route, enables
        the m-band verify prefilter: bands are disjoint signature slices,
        so a pair matching m bands has >= m*r equal positions, i.e. sim >=
        m*r/k exactly. Pairs with m >= ceil(t*k/r) are therefore above
        threshold by construction and skip the signature-verify join
        entirely (they only touch the 16-byte sid->id map); the full
        zip_with verify runs on the unsure remainder. On dup-dense corpora
        (the web-crawl case) a large share of true pairs clear the bound.

        **kw takes the bucket-tier knobs of sid_candidates
        (max_bucket_size, medium_bucket_size, bucket_cap_hard,
        block_groups, persist, gate); any other keyword raises TypeError
        on every route."""
        unknown = sorted(set(kw) - self._TIER_KW)
        if unknown:
            raise TypeError(f"dedup_pairs() got unexpected keyword arguments {unknown}")
        if not isinstance(numpy_verify, bool):
            raise TypeError(f"numpy_verify must be a bool, got {numpy_verify!r}")
        t = self.cfg.threshold if threshold is None else threshold
        if keep_sim:
            self.last_route = ("jvm", "keep_sim")
        elif not numpy_verify:
            self.last_route = ("jvm", "requested")
        else:
            out = self._broadcast_dedup(sig_df, t, numpy_max_rows, kw)
            if out is not None:
                return out
        if kw.get("persist", True) and not is_materialized(sig_df):
            sig_df = sig_df.persist()
        cand = self.sid_candidates(sig_df, **kw)
        k = self.cfg.num_hashes
        r = self.cfg.band_width
        m_sure = _m_sure_bands(t, k, r)  # m >= m_sure  =>  sim >= m*r/k >= t
        # signatures ride the verify joins packed two-per-long: half the
        # broadcast build bytes, half the kernel elements (similarity.py)
        s = sig_df.select(
            sid_col(sig_df).alias("sid"), "id",
            pack_signature_col(F.col("sig"), k, self.cfg.hash_size).alias("psig"),
        )
        va = s.select(
            F.col("sid").alias("src"), F.col("id").alias("src_id"), F.col("psig").alias("pa")
        )
        vb = s.select(
            F.col("sid").alias("dst"), F.col("id").alias("dst_id"), F.col("psig").alias("pb")
        )
        pair_ids = [
            F.least("src_id", "dst_id").alias("src"),
            F.greatest("src_id", "dst_id").alias("dst"),
        ]
        if keep_sim:
            return (
                cand.join(va, "src")
                .join(vb, "dst")
                .withColumn("sim", minhash_similarity_packed("pa", "pb", k, self.cfg.hash_size))
                .where(F.col("sim") >= t)
                .select(*pair_ids, "sim")
            )
        # single pass, short-circuit OR: the packed verify evaluates only
        # for rows failing the m bound (a two-branch union would recompute
        # the whole candidate chain once per branch — measured 2x slower)
        cond = (F.col("m") >= m_sure) | (
            minhash_similarity_packed("pa", "pb", k, self.cfg.hash_size) >= t
        )
        return (
            cand.join(va, "src").join(vb, "dst").where(cond).select(*pair_ids)
        )

    # ----------------------------------------------------------------- query
    def query(
        self,
        index_sigs: DataFrame,
        probe_sigs: DataFrame,
        threshold: float | None = None,
        strict: bool = False,
        keep_sim: bool = False,
        sorted_by_similarity: bool = False,
        index_bands: DataFrame | None = None,
    ) -> DataFrame:
        """Q2/Q4: (qid, id[, sim]) matches above threshold.

        probe_sigs: (id, sig) — renamed internally to qid. A probe is
        matched to every index row it shares a band key with, scored by
        the exact fraction of equal signature positions. ROUTING is by
        the probe side's size (see _query_scored): a probe set that fits
        one broadcast is matched in one numpy pass over the index, with
        no exchange and no join; a larger one runs the JVM bucket
        dataflow. Both return the same matches, and the choice is
        recorded as self.last_route: ("broadcast_probe", "fits
        broadcast") or ("jvm", <guard reason>).

        sorted_by_similarity=True mirrors Q4's similarity-descending return
        (minhash_index.rs:637 sorts matches best-first) as a
        (qid, sim desc, id) orderBy — DataFrame ordering is a presentation
        property (dropped by further transformations); use query_one /
        query_top_k for order-dependent logic.

        index_bands: a PRECOMPUTED (sid, bk) banding table for the index
        (from sid_bands(), e.g. warehouse-persisted and appended on every
        insert). It must correspond exactly to index_sigs' current rows:
        stale extra sids (a removed doc) are harmless on both routes, but
        MISSING rows lose recall on the JVM route. On the JVM route the
        index is not re-banded: the probe batch is banded and grouped with
        these 16-byte rows directly. The broadcast probe instead bands each
        index row in its kernel as it scans index_sigs (a table the JVM
        route reads too, to attach signatures), so there index_bands only
        feeds the bucket-cap count; a missing band row costs it no recall.
        """
        t = self.cfg.threshold if threshold is None else threshold
        out = self._query_scored(index_sigs, probe_sigs, index_bands)
        cond = F.col("sim") > t if strict else F.col("sim") >= t
        out = out.where(cond)
        cols = (
            ["qid", "id", "sim"]
            if (keep_sim or sorted_by_similarity)
            else ["qid", "id"]
        )
        out = out.select(*cols)
        if sorted_by_similarity:
            out = out.orderBy(F.asc("qid"), F.desc("sim"), F.asc("id"))
        return out

    def _query_scored(
        self,
        index_sigs: DataFrame,
        probe_sigs: DataFrame,
        index_bands: DataFrame | None = None,
    ) -> DataFrame:
        """(qid, id, sim) for all probe-vs-index band candidates, routed by
        the probe side's size; serves query, query_one, query_top_k and
        query_by_id, and records self.last_route.

        The probe table goes through _build_sig_broadcast (size estimate,
        row and byte bound, null-id drop, sid-collision guard) with
        _NUMPY_MAX_ROWS rows, further bounded to _REPL_PREFER_KEYS band
        keys because every task bands the whole probe again. If it fits,
        _broadcast_query runs; if a guard trips (e.g. a duplicated probe
        id: "sid collision"), _jvm_query_scored does. Computed probe
        signatures are cached before the broadcast build, so the JVM route
        does not compute them again; the broadcast route never reads them
        again and drops the cache.

        Both routes exclude a band key whose index side holds more than
        _QUERY_DROP_CAP band rows, counted over index_bands when given,
        else over index_sigs' banding, and return the same matches while
        index_bands keeps its contract (see query). One more input tells
        them apart: an index holding one id twice with different
        signatures. The JVM route scores every row of that id once any of
        them shares a band with the probe, the broadcast route only the
        rows that do."""
        may_cache = not is_materialized(probe_sigs)
        bc, why = self._build_sig_broadcast(
            probe_sigs,
            min(self._NUMPY_MAX_ROWS, self._REPL_PREFER_KEYS // self.cfg.num_bands),
            persist=may_cache,
        )
        if bc is None:
            self.last_route = ("jvm", why)
            return self._jvm_query_scored(index_sigs, probe_sigs, index_bands)
        if may_cache and is_materialized(probe_sigs):
            probe_sigs.unpersist()
        self.last_route = ("broadcast_probe", "fits broadcast")
        return self._broadcast_query(index_sigs, probe_sigs, bc, index_bands)

    def _broadcast_query(
        self,
        index_sigs: DataFrame,
        probe_sigs: DataFrame,
        bc,
        index_bands: DataFrame | None,
    ) -> DataFrame:
        """The broadcast probe: one mapInPandas over the index's (id, sig)
        rows (_probe_match_fn) — no exchange, no join. The JVM route's
        bucket cap needs global bucket sizes, which a per-batch kernel
        cannot see, so the over-cap probe keys are found first, JVM-side:
        the band rows the JVM route groups, semi-joined to the probe's
        distinct band keys and counted per key. That count runs now, at
        plan-construction time, like the broadcast build (0.34 s warm on
        a 100-row probe of a ~500-row streaming index on 4 cores, against
        0.57 s for a python kernel counting the same rows)."""
        import numpy as np
        import pyarrow as pa

        b, r = self.cfg.num_bands, self.cfg.band_width
        excluded = np.empty(0, np.int64)
        if len(bc.value[0]):
            rows = (
                index_bands.select("bk")
                if index_bands is not None
                else self._sid_bands_arrow(index_sigs).select("bk")
            )
            keys = index_sigs.sparkSession.createDataFrame(
                pa.table({"bk": np.unique(_band_keys(bc.value[1], b, r))})
            )
            over = (
                rows.join(F.broadcast(keys), "bk", "left_semi")
                .groupBy("bk")
                .count()
                .where(F.col("count") > self._QUERY_DROP_CAP)
                .toArrow()
            )
            excluded = over.column("bk").to_numpy()
        q_sql = probe_sigs.schema["id"].dataType.simpleString()
        i_sql = index_sigs.schema["id"].dataType.simpleString()
        return (
            index_sigs.where(F.col("id").isNotNull())
            .select("id", "sig")
            .mapInPandas(
                _probe_match_fn(bc, b, r, excluded),
                f"qid {q_sql}, id {i_sql}, sim double",
            )
        )

    def _jvm_query_scored(
        self,
        index_sigs: DataFrame,
        probe_sigs: DataFrame,
        index_bands: DataFrame | None,
    ) -> DataFrame:
        """The JVM bucket dataflow: the bipartite variant of the dedup
        candidate machinery (one side-tagged groupBy, cross pairs in sid
        space, ids/signatures attached only to candidates). index_bands:
        precomputed (sid, bk) index banding (see query); must use the same
        band-key function, so pass sid_bands() output, never a
        hand-rolled table."""
        ib = (
            index_bands.select("sid", "bk")
            if index_bands is not None
            else self._sid_bands_arrow(index_sigs)
        )
        cand = sid_cross_pairs_from_buckets(
            self._sid_bands_arrow(probe_sigs), ib, drop_cap=self._QUERY_DROP_CAP
        )
        k = self.cfg.num_hashes
        qs = probe_sigs.select(
            sid_col(probe_sigs).alias("qid"),
            F.col("id").alias("qid_orig"),
            pack_signature_col(F.col("sig"), k, self.cfg.hash_size).alias("sig_q"),
        )
        ix = index_sigs.select(
            sid_col(index_sigs).alias("id"),
            F.col("id").alias("id_orig"),
            pack_signature_col(F.col("sig"), k, self.cfg.hash_size).alias("sig_i"),
        )
        return (
            cand.join(qs, "qid")
            .join(ix, "id")
            .withColumn("sim", minhash_similarity_packed("sig_q", "sig_i", k, self.cfg.hash_size))
            .select(
                F.col("qid_orig").alias("qid"),
                F.col("id_orig").alias("id"),
                "sim",
            )
        )

    def query_by_id(
        self,
        index_sigs: DataFrame,
        ids_df: DataFrame,
        threshold: float | None = None,
        keep_sim: bool = False,
    ) -> DataFrame:
        """Q7 (minhash_index.rs:565-578): probe the index with the
        signatures of the given ids (unknown ids simply match nothing,
        mirroring the reference's empty-set return). ids_df: one-column
        DataFrame of probe ids."""
        probes = index_sigs.join(
            ids_df.select(F.col(ids_df.columns[0]).alias("id")).distinct(), "id"
        )
        return self.query(index_sigs, probes, threshold, keep_sim=keep_sim)

    def query_one(self, index_sigs: DataFrame, probe_sigs: DataFrame,
                  threshold: float | None = None) -> DataFrame:
        """Q3: best match per query, strict '>' (minhash_index.rs:542)."""
        matches = self.query(index_sigs, probe_sigs, threshold, strict=True, keep_sim=True)
        w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("id"))
        return (
            matches.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("qid", "id", "sim")
        )

    def query_top_k(self, index_sigs: DataFrame, probe_sigs: DataFrame, k: int) -> DataFrame:
        """Q5: top-k per query by distance asc — NO threshold filter
        (minhash_index.rs:643-658 applies no filter)."""
        scored = self._query_scored(index_sigs, probe_sigs)
        w = Window.partitionBy("qid").orderBy(
            (F.lit(1.0) - F.col("sim")).asc(), F.col("id").asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("qid", "id", "sim")
        )

    # --------------------------------------------------------------- updates
    def remove(self, sig_df: DataFrame, ids_df: DataFrame) -> DataFrame:
        """W3: removal = anti-join (or Iceberg DELETE when table-backed).
        Cleaner than the reference's stale-band-entry semantics (W8) — an id
        is gone from every band immediately because bands derive from sigs."""
        return sig_df.join(
            ids_df.select(F.col(ids_df.columns[0]).alias("id")), "id", "left_anti"
        )

    def upsert(self, sig_df: DataFrame, new_sigs: DataFrame) -> DataFrame:
        """W8: duplicate-id insert = overwrite (idempotent; documents the
        divergence from the reference's stale-band behavior, test #19)."""
        return sig_df.join(
            new_sigs.select("id"), "id", "left_anti"
        ).unionByName(new_sigs)

    # -------------------------------------------------------------- centroid
    def minhash_band_centroid(self, sig_df: DataFrame, group_col: str) -> DataFrame:
        """P19: per-band mode — for each band, the most frequent full band
        SLICE across the group's signatures; the centroid is the slices
        concatenated (minhash_band_centroid_from_refs, gaoya/src/minhash/
        mod.rs:188-214 — the variant calculate_centroid actually uses,
        minhash_index.rs:746-753). Optimizes recall for the index's own
        banding: the centroid lands in each band's most popular bucket.

        Tie-break: the reference's HashMap argmax is iteration-order-
        dependent (unspecified); we pick the lexicographically smallest
        slice for determinism."""
        b, r = self.cfg.num_bands, self.cfg.band_width
        slices = F.transform(
            F.sequence(F.lit(0), F.lit(b - 1)), lambda i: F.slice("sig", i * r + 1, r)
        )
        pos = sig_df.select(
            F.col(group_col).alias("grp"),
            F.posexplode(slices).alias("band_idx", "bslice"),
        )
        counts = pos.groupBy("grp", "band_idx", "bslice").agg(F.count("*").alias("c"))
        w = Window.partitionBy("grp", "band_idx").orderBy(F.desc("c"), F.asc("bslice"))
        winners = counts.withColumn("rn", F.row_number().over(w)).where("rn = 1")
        return (
            winners.groupBy("grp")
            .agg(F.array_sort(F.collect_list(F.struct("band_idx", "bslice"))).alias("bs"))
            .select(
                F.col("grp").alias(group_col),
                F.flatten(F.transform("bs", lambda s: s["bslice"])).alias("centroid"),
            )
        )

    def minhash_centroid(self, sig_df: DataFrame, group_col: str) -> DataFrame:
        """P18: per-position mode over each group's signatures -> centroid
        signature per group, via posexplode + count + argmax window (ties
        broken by smallest value for determinism)."""
        pos = sig_df.select(
            F.col(group_col).alias("grp"), F.posexplode("sig").alias("pos", "val")
        )
        counts = pos.groupBy("grp", "pos", "val").agg(F.count("*").alias("c"))
        w = Window.partitionBy("grp", "pos").orderBy(F.desc("c"), F.asc("val"))
        winners = counts.withColumn("rn", F.row_number().over(w)).where("rn = 1")
        return (
            winners.groupBy("grp")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("pv"))
            .select(
                F.col("grp").alias(group_col),
                F.transform("pv", lambda s: s["val"]).alias("centroid"),
            )
        )
