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
- the JVM routes generate candidates on 8-byte id surrogates (sids,
  made and joined back by _bucket_pairs.py: the id itself for integral
  ids, else xxhash64(id)), so the pair shuffle carries 16-byte rows
  regardless of id type; ids and signatures come back in one join per
  side. A hashed-sid collision merges two ids (~n^2/2^65 merged pairs:
  ~27,000 expected at 10^12 rows, 0 at any test scale): they are never
  paired with each other, and each is tried against the other's
  candidates, which the full-signature verify checks row by row, so a
  merge adds work, never a wrong pair. The numpy routes make no
  surrogate: they index the rows of a broadcast (signature matrix, ids)
  table. Null ids are dropped from the band rows and from the broadcast,
  so they are in no pair and no match.
- buckets are materialized ONCE with a single groupBy + collect_set and
  pairs are generated by JVM-side array combinatorics (no self-join, no
  dropDuplicates): measured 2.5x faster end-to-end than the former
  sizes-groupBy + broadcast-tag + self-join + dropDuplicates plan at both
  local[8] and local[32]. Collecting is safe because a bucket over
  `_ARRAY_LIMIT` members never expands to an array of pairs in a single
  task: _bucket_pairs collapses identical member sets and triangle-blocks
  the hot ones. A bucket over `_BUCKET_CAP` members (pathological keys,
  e.g. the all-empty-caption bucket at 10^12 scale) is excluded from
  pairing on every route of dedup_pairs and query; `band_stats` counts
  the hot (n_hot) and the excluded (n_dropped) buckets at these same two
  constants for the pipeline metrics tables.
- every pair is emitted exactly once per matching band, so the post-union
  groupBy yields m = #matching-bands per pair, a free skew/selectivity
  metric. No route filters on m: the verify scores every candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from gaoya_spark.config import MinHashConfig
from gaoya_spark.operators._bucket_pairs import (
    is_materialized,
    join_rows,
    sid_cross_pairs_from_buckets,
    sid_pairs_from_buckets,
    sid_rows,
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


def _band_keys(mat, b: int, r: int, band: int | None = None):
    """(n, b) int64 band keys of an (n, b*r) signature matrix, or the
    (n, 1) keys of one band when `band` is given: each band's r positions
    fold through splitmix64, seeded by the band index. The one band-key
    function of the Arrow banding (sid_bands), the sharded dedup kernel
    and the broadcast probe. Fold step j reads the strided columns
    (position i*r+j of band i), so no (n, b, r) uint64 tile is
    materialized: peak memory stays ~2 key matrices regardless of k."""
    import numpy as np

    from gaoya_spark import hashing

    lo, hi = (0, b) if band is None else (band, band + 1)
    seeds = hashing.splitmix64(np.arange(lo, hi, dtype=np.int64))
    acc = np.broadcast_to(seeds, (len(mat), hi - lo)).copy()
    for j in range(r):
        acc = hashing.splitmix64(
            (acc ^ mat[:, lo * r + j : hi * r : r].astype(np.uint64)).view(np.int64)
        )
    return acc.view(np.int64)


def _eq_counts_chunked(mat_b, si, di, mat_d=None):
    """Per-pair equal-position counts of rows mat_b[si] and mat_d[di]
    (mat_d defaults to mat_b), gathered in slices so the two (chunk, k)
    gathered matrices + bool stay ~<=16MB regardless of how many pairs
    one flush/batch carries (the unchunked compare materializes 2 x
    (pairs, k) matrices — ~4.5GB per 4M-pair flush at k=126/int32, ~35GB
    at k=512/int64, multiplied by concurrent tasks). 16MB slices ran
    2M pairs at k=200/int32 in 0.67-0.71 s against 1.08-1.35 s for 64MB
    ones (one process on a 4-core Xeon, 2 MB L2 a core)."""
    import numpy as np

    mat_d = mat_b if mat_d is None else mat_d
    k = mat_b.shape[1] if mat_b.ndim == 2 else 1
    chunk = max(1024, (16 << 20) // max(2 * k * mat_b.dtype.itemsize, 1))
    out = np.empty(len(si), dtype=np.int64)
    for lo in range(0, len(si), chunk):
        hi = lo + chunk
        out[lo:hi] = (mat_b[si[lo:hi]] == mat_d[di[lo:hi]]).sum(axis=1)
    return out


_SET_ID_SALT = 0x51C3_9A7B_42D8_11E5


def _sharded_dedup_fn(bc, need, b, r, n_tasks, cap, max_pairs, with_eq):
    """mapInPandas kernel over a range frame with one row per task: the
    band-sharded broadcast dedup. Task t takes bands t, t+n_tasks, ... and
    handles them one at a time. It folds only that band's keys from the
    broadcast signature matrix (_band_keys), argsorts them, and keeps the
    buckets of 2..cap members. A bucket lives in one band, so its size is
    exact and the cap binds as on the JVM route.

    A bucket whose member set the task already verified in an earlier band
    is skipped. The set's identity is 128 bits: two independently salted
    xor-reduceats over member hashes, the no-collision class of the
    substring gram fingerprints. A match on one word alone never skips a
    set. The other buckets' i<j pairs (the upper triangle of each bucket)
    collect across the task's bands into flushes of max_pairs (or one
    member's pairs, when that is more). A flush is uniqued, so a pair
    that several of the task's bands share is verified once per flush,
    and its survivors leave the task already distinct.

    Per-task key memory is one band's n keys, and the cluster folds each
    band once. A family that repeats in every band is verified once per
    task that holds its bands; the caller's dropDuplicates absorbs the
    repeats. Survivors leave as (least, greatest) pairs of the rows' ids:
    Python compares strings by code point, which is Spark's binary UTF-8
    order (UTF-8 is order-preserving), so least/greatest agree with the
    JVM route. with_eq adds each survivor's equal count as an eq column, a
    function of the pair, so the dropDuplicates on (src, dst) keeps it."""
    import numpy as np
    import pandas as pd

    from gaoya_spark import hashing

    def buckets(mat_b, band):
        """(members, position in bucket, sizes, offsets) of the band's
        buckets of 2..cap members, members flat bucket by bucket."""
        keys = _band_keys(mat_b, b, r, band)[:, 0]
        o = np.argsort(keys)
        sk = keys[o]
        starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
        sizes = np.diff(np.r_[starts, len(sk)])
        keep = (sizes >= 2) & (sizes <= cap)
        starts, sizes = starts[keep], sizes[keep]
        offs = np.cumsum(sizes) - sizes
        pos = np.arange(int(sizes.sum())) - np.repeat(offs, sizes)
        return o[np.repeat(starts, sizes) + pos], pos, sizes, offs

    def task(t):
        mat_b, ids_b = bc.value
        n = len(ids_b)
        if n < 2:
            return
        seen1 = seen2 = np.empty(0, np.uint64)
        pend: list = []
        n_pend = 0
        for band in range(t, b, n_tasks):
            memb, pos, sizes, offs = buckets(mat_b, band)
            if not len(sizes):
                continue
            h1 = np.bitwise_xor.reduceat(hashing.splitmix64(memb), offs)
            h2 = np.bitwise_xor.reduceat(
                hashing.splitmix64(memb ^ np.int64(_SET_ID_SALT)), offs
            )
            if len(seen1):
                i = np.minimum(np.searchsorted(seen1, h1), len(seen1) - 1)
                new = (seen1[i] != h1) | (seen2[i] != h2)
            else:
                new = np.ones(len(sizes), bool)
            seen1 = np.concatenate([seen1, h1[new]])
            seen2 = np.concatenate([seen2, h2[new]])
            order = np.argsort(seen1)
            seen1, seen2 = seen1[order], seen2[order]
            inc = np.repeat(new, sizes)
            memb, pos, sizes = memb[inc], pos[inc], sizes[new]
            # member j of a bucket pairs with the members after it
            cnt = np.repeat(sizes, sizes) - 1 - pos
            csum = np.cumsum(cnt)
            lo = 0
            while lo < len(memb):
                base = csum[lo - 1] if lo else 0
                hi = max(int(np.searchsorted(csum, base + max_pairs, "right")), lo + 1)
                c = cnt[lo:hi]
                left = np.repeat(np.arange(lo, hi), c)
                right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(c) - c, c)
                si, di = memb[left], memb[right]
                pend.append(np.minimum(si, di) * np.int64(n) + np.maximum(si, di))
                n_pend += len(si)
                if n_pend >= max_pairs:
                    yield verified(pend, mat_b, ids_b)
                    pend, n_pend = [], 0
                lo = hi
        if pend:
            yield verified(pend, mat_b, ids_b)

    def verified(pend, mat_b, ids_b):
        """The flush's distinct candidate pairs (row codes lo*n+hi) that
        pass the exact verify, as id pairs (with their equal counts)."""
        u = np.unique(np.concatenate(pend))
        n = np.int64(len(ids_b))
        si, di = u // n, u % n
        eq = _eq_counts_chunked(mat_b, si, di)
        ok = eq >= need
        a, c = ids_b[si[ok]], ids_b[di[ok]]
        out = {"src": np.minimum(a, c), "dst": np.maximum(a, c)}
        if with_eq:
            out["eq"] = eq[ok]
        return pd.DataFrame(out)

    def fn(it):
        for pdf in it:
            for t in pdf["id"].tolist():
                yield from task(int(t))

    return fn


def _probe_match_fn(bc, b, r, excluded, max_pairs):
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
        mat_p, ids_p = bc.value
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


class MinHashLSH:
    def __init__(self, cfg: MinHashConfig | None = None):
        self.cfg = cfg or MinHashConfig()
        # (route, reason) of the last dedup_pairs or query call, e.g.
        # ("broadcast", "fits broadcast") or ("jvm", "over row bound")
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
    # largest band bucket the JVM route pairs per bucket instance by array
    # combinatorics; larger ones take _bucket_pairs' collapsed upper tiers
    _ARRAY_LIMIT = 16

    # largest band bucket any route pairs: dedup_pairs drops a bucket of
    # more members and query a band key of more index rows, on both
    # routes, and band_stats counts the dropped buckets at this same cap
    _BUCKET_CAP = 100_000

    def _band_hashes(self):
        """The b band keys of a row's sig as an array column, JVM-side:
        xxhash64(slice(sig, band*r, r), band_idx). Seeding with band_idx
        keeps identical slices in different bands in distinct key spaces,
        mirroring per-band hash tables."""
        b, r = self.cfg.num_bands, self.cfg.band_width
        return F.transform(
            F.sequence(F.lit(0), F.lit(b - 1)),
            lambda i: F.xxhash64(F.slice("sig", i * r + 1, r), i),
        )

    def band_stats(self, sig_df: DataFrame) -> DataFrame:
        """Per-band skew of sig_df's banding: (band_idx, n_buckets,
        max_bucket, avg_bucket, n_hot, n_dropped), where n_hot counts the
        buckets over _ARRAY_LIMIT (the JVM route's collapsed tiers) and
        n_dropped those over _BUCKET_CAP (excluded from pairing on every
        route). A bucket's size is its number of distinct non-null ids,
        the members dedup_pairs pairs. The pipeline writes this to
        metrics_band_skew, so capped buckets are never silent.

        The keys are the JVM banding (_band_hashes), so the stats need
        no Python stage; the Arrow keys of sid_bands, which the routes
        group, put the same rows in one bucket, up to key collisions."""
        bucket = (
            sid_rows(sig_df, F.posexplode(self._band_hashes()).alias("band_idx", "bk"))
            .groupBy("band_idx", "bk")
            .agg(F.countDistinct("sid").alias("bucket_size"))
        )
        size = F.col("bucket_size")
        return bucket.groupBy("band_idx").agg(
            F.count("*").alias("n_buckets"),
            F.max(size).alias("max_bucket"),
            F.avg(size).alias("avg_bucket"),
            F.sum((size > self._ARRAY_LIMIT).cast("long")).alias("n_hot"),
            F.sum((size > self._BUCKET_CAP).cast("long")).alias("n_dropped"),
        )

    # ----------------------------------------------------------- dedup pairs
    def _sid_bands(self, sig_df: DataFrame) -> DataFrame:
        """(sid, bk) via the JVM banding (_band_hashes). No route uses it:
        it is the independent reference the Arrow banding (sid_bands) is
        tested against."""
        return sid_rows(sig_df, F.explode(self._band_hashes()).alias("bk"))

    def sid_bands(self, sig_df: DataFrame) -> DataFrame:
        """(sid, bk): one 16-byte row per (signature row, band), the id
        surrogate (sid_rows) next to the band key. Null-id rows have
        no band row. The keys are the ones every route of dedup_pairs and
        query computes for itself (_band_keys), in one vectorized Arrow
        pass: the batch's signatures stack into an (n, k) matrix and each
        band slice folds through splitmix64 seeded by the band index — no
        per-band JVM array slices, no explode of array-valued columns.
        Measured ~1.5x the JVM banding on the 100k-image corpus (1.01s vs
        1.54s MIN, EXPERIMENTS.md).

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

        return sid_rows(sig_df, "sig").mapInPandas(kernel, "sid long, bk long")

    def sid_candidates(self, sig_df: DataFrame) -> DataFrame:
        """(src, dst, m) candidate pairs in sid space, m = #matching bands
        (shared machinery: operators/_bucket_pairs.py), banded by the
        vectorized Arrow kernel (sid_bands). Buckets over _ARRAY_LIMIT
        take the collapsed upper tiers; buckets over _BUCKET_CAP are
        excluded, and band_stats counts both."""
        return sid_pairs_from_buckets(
            self.sid_bands(sig_df),
            array_bucket_limit=self._ARRAY_LIMIT,
            drop_cap=self._BUCKET_CAP,
        )

    def candidate_pairs(self, sig_df: DataFrame) -> DataFrame:
        """All-corpus candidate pairs (src < dst by id value), deduped across
        bands — public id-space wrapper over sid_candidates."""
        return join_rows(self.sid_candidates(sig_df).select("src", "dst"), sig_df)

    # byte budget for the numpy routes' broadcast signature matrix:
    # bytes-aware, not just rows — k varies 128..512 across configs, so a
    # fixed row cap alone would admit a ~1.6GB matrix at k=512/int64.
    # 512MB keeps the collected table + per-worker copy comfortably
    # inside a few-GB pool.
    _BROADCAST_BYTES = 512 << 20

    # row bound of a broadcast signature table: dedup_pairs' bound, and
    # with _PROBE_MAX_KEYS the probe bound of query
    _NUMPY_MAX_ROWS = 2_000_000

    # query's broadcast probe takes at most this many probe band keys
    # (rows x num_bands). Every task of the probe kernel bands the whole
    # probe again and holds its sorted keys, so the probe's key count is
    # per-task memory (~3-4x keys x 8 B at the peak), multiplied by the
    # concurrent tasks. Sharding the probe instead would rescan the index
    # once per shard.
    _PROBE_MAX_KEYS = 2_000_000

    # auto routing skips the broadcast build when the trusted size
    # estimate (see _size_estimate) is over this many budgets. Measured
    # estimate / actual Arrow bytes of the collected table (then with a
    # sid column too), 20k- and 40k-row signature tables at k=200, 32-
    # and 64-bit:
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

    def _build_sig_broadcast(self, sig_df: DataFrame, max_rows: int):
        """(broadcast, None) of (signature matrix, ids) in table order for
        the numpy kernels, which name a row by its index, or (None, reason)
        when a guard trips and the JVM shuffle verify runs instead:
        - "over size estimate": the trusted size estimate is over
          _ESTIMATE_SLACK budgets, so no Spark job runs at all;
        - "over row bound": more rows than max_rows or the byte budget;
        - "duplicate id": two rows share one id. A kernel would pair the
          id with itself and score each of its rows on its own, where the
          JVM route joins every row of the id; routing the table there
          keeps the routes from diverging. Distinct ids whose hashed
          surrogates collide need no guard: the kernels never read one.

        The row bound costs one bounded collect when the trusted estimate
        is within budget. Otherwise (no trusted estimate, or one between
        the budget and the slack) a row count runs first, so a table over
        the bound ships nothing to the driver. An uncached sig_df that has
        no trusted estimate (computed signatures: costly to compute again;
        a stored or cached table is cheap to read again) is cached after
        the estimate is read (a cache that is not yet filled hides it) and
        before the first job, so the count or collect fills the cache that
        the JVM route, which reads sig_df again, uses. When the broadcast
        is built that cache is dropped: the numpy routes read only the
        broadcast.

        Null-id rows count against the row bound but are dropped from the
        payload: a null id names no document, so it joins no pair on any
        route. sig_df itself is not filtered — a filter hides the size
        estimate.

        Lifecycle: the broadcast must outlive the returned (lazy)
        DataFrames; like the persisted buckets, it is dropped by the
        ContextCleaner once the plan is no longer referenced."""
        import numpy as np
        import pyarrow.compute as pc

        k = self.cfg.num_hashes
        dt = np.int64 if self.cfg.hash_size >= 64 else np.int32
        row_bytes = k * (8 if self.cfg.hash_size >= 64 else 4) + 24
        budget = self._BROADCAST_BYTES
        eff_rows = min(max_rows, budget // row_bytes)

        est = self._size_estimate(sig_df.select("id", "sig"))
        if est is not None and est > self._ESTIMATE_SLACK * budget:
            return None, "over size estimate"
        cached = est is None and not is_materialized(sig_df)
        if cached:
            sig_df.persist()
        # selected again after the persist, so the jobs read the cache
        sel = sig_df.select("id", "sig")
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
        ids = tbl.column("id")
        if ids.null_count:
            tbl = tbl.filter(ids.is_valid())
            ids = tbl.column("id")
        n = tbl.num_rows
        if pc.count_distinct(ids).as_py() < n:
            return None, "duplicate id"
        if n:
            flat = tbl.column("sig").combine_chunks().flatten().to_numpy(
                zero_copy_only=False
            )
            mat = flat.astype(dt, copy=False).reshape(n, k)
        else:
            mat = np.zeros((0, k), dtype=dt)
        bc = sig_df.sparkSession.sparkContext.broadcast(
            (mat, ids.to_numpy(zero_copy_only=False))
        )
        if cached:
            sig_df.unpersist()
        return bc, None

    # pairs one numpy kernel flush generates and verifies (the sharded
    # dedup and the broadcast probe): bounds the per-pair index, code and
    # bool arrays a flush holds, a few tens of bytes a pair
    _FLUSH_PAIRS = 4_000_000

    def _broadcast_dedup(
        self,
        sig_df: DataFrame,
        threshold: float,
        keep_sim: bool,
    ) -> DataFrame | None:
        """The broadcast route of dedup_pairs, or None when a guard of
        _build_sig_broadcast trips and the JVM shuffle verify must run
        instead. Records self.last_route either way.

        The plan: a range frame of T = min(defaultParallelism, num_bands)
        one-row tasks runs _sharded_dedup_fn, task t verifying the buckets
        of bands t, t+T, ... and emitting its survivors as id pairs; they
        are repartitioned by pair into defaultParallelism partitions and
        deduplicated. The repartition is reused by the dropDuplicates
        groupBy (no second exchange) and keeps it at defaultParallelism
        tasks: a cached or non-AQE plan otherwise keeps the
        spark.sql.shuffle.partitions default. Every bucket of 2.._BUCKET_CAP
        members is verified in numpy, whatever its size. With keep_sim the kernel's equal counts
        ride along as eq, and sim = eq/k is the JVM verify's arithmetic
        (minhash_similarity_packed), so the sims are bit-equal.

        Computed signatures are cached for the JVM route while the
        broadcast is built, and dropped once it fits (see
        _build_sig_broadcast)."""
        bc, why = self._build_sig_broadcast(sig_df, self._NUMPY_MAX_ROWS)
        if bc is None:
            self.last_route = ("jvm", why)
            return None
        self.last_route = ("broadcast", "fits broadcast")
        b, r = self.cfg.num_bands, self.cfg.band_width
        spark = sig_df.sparkSession
        p = spark.sparkContext.defaultParallelism or 8
        n_tasks = min(p, b)
        k = self.cfg.num_hashes
        kernel = _sharded_dedup_fn(
            bc, _min_eq_count(threshold, k), b, r, n_tasks,
            self._BUCKET_CAP, self._FLUSH_PAIRS, keep_sim,
        )
        id_sql = sig_df.schema["id"].dataType.simpleString()
        eq = ", eq long" if keep_sim else ""
        out = (
            spark.range(0, n_tasks, 1, n_tasks)
            .mapInPandas(kernel, f"src {id_sql}, dst {id_sql}" + eq)
            .repartition(p, "src", "dst")
            .dropDuplicates(["src", "dst"])
        )
        if keep_sim:
            out = out.select(
                "src", "dst", (F.col("eq").cast("double") / F.lit(float(k))).alias("sim")
            )
        return out

    def dedup_pairs(
        self,
        sig_df: DataFrame,
        threshold: float | None = None,
        keep_sim: bool = True,
        numpy_verify: bool = True,
    ) -> DataFrame:
        """Full-corpus near-duplicate pairs with sim >= threshold (Q2 uses
        >=, minhash_index.rs:556).

        ROUTING is by data size, not by a flag. With the default
        numpy_verify=True, a signature table that fits one broadcast
        (_NUMPY_MAX_ROWS rows and the 512MB byte budget, no duplicated id)
        runs one exact numpy kernel against the broadcast (signature
        matrix, ids), its bands sharded across tasks; it indexes rows and
        emits id pairs (see _broadcast_dedup). Any other table runs the JVM
        shuffle verify below, the expected large-corpus path: candidates
        flow in sid space, and original ids are attached in the same join
        that brings the signatures, so the only shuffles carrying
        ids/signatures are over final candidates. A table
        whose trusted size estimate is already over twice the budget goes
        to the JVM route without a Spark job, and one the estimate cannot
        place is row-counted before anything is collected, so an
        over-bound table never ships rows to the driver.
        numpy_verify=False forces the JVM route at any size. Every route
        returns the same rows, sims bit-equal, and a row with a null id is
        in no pair on any route. The choice is recorded as self.last_route
        = (route, reason), e.g. ("broadcast", "fits broadcast") or ("jvm",
        "over row bound").

        NOTE: building the broadcast runs a Spark job and a driver collect
        of the signature table IMMEDIATELY (at plan-construction time),
        unlike the JVM route, which stays lazy until an action. Computed
        signatures (no trusted size estimate) are persisted before that
        collect, so they are computed once on every route; the broadcast
        route, which never reads sig_df again, drops the cache. A stored
        or cached table is read again instead; the JVM route caches it.

        keep_sim only decides whether the sim column (eq/k) is returned:
        the JVM verify scores every candidate row pair and keeps sim >= t
        either way. A band count cannot stand in for the score: it counts
        the bands a sid pair shares, and a duplicated id (the table the
        duplicate-id guard sends to this route) joins every row of its
        sid, so it would pass row pairs whose own sim is below t. Several
        row pairs of one id pair may clear t; the pair is returned once,
        with the largest of their sims.

        Both routes drop band buckets over _BUCKET_CAP members; the
        bucket limits are class constants, not arguments."""
        if not isinstance(numpy_verify, bool):
            raise TypeError(f"numpy_verify must be a bool, got {numpy_verify!r}")
        t = self.cfg.threshold if threshold is None else threshold
        if not numpy_verify:
            self.last_route = ("jvm", "requested")
        else:
            out = self._broadcast_dedup(sig_df, t, keep_sim)
            if out is not None:
                return out
        if not is_materialized(sig_df):
            sig_df = sig_df.persist()
        k, h = self.cfg.num_hashes, self.cfg.hash_size
        # signatures ride the verify joins packed two-per-long: half the
        # broadcast build bytes, half the kernel elements (similarity.py)
        pairs = (
            join_rows(
                self.sid_candidates(sig_df).select("src", "dst"),
                sig_df.select("id", pack_signature_col(F.col("sig"), k, h).alias("psig")),
                "psig",
            )
            .withColumn("sim", minhash_similarity_packed("psig_a", "psig_b", k, h))
            .where(F.col("sim") >= t)
            .select("src", "dst", *(["sim"] if keep_sim else []))
        )
        # one row per id pair: a duplicated id joins every row of its sid
        if keep_sim:
            return pairs.groupBy("src", "dst").agg(F.max("sim").alias("sim"))
        return pairs.distinct()

    # ----------------------------------------------------------------- query
    def query(
        self,
        index_sigs: DataFrame,
        probe_sigs: DataFrame,
        threshold: float | None = None,
        strict: bool = False,
        keep_sim: bool = False,
        sorted_by_similarity: bool = False,
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

        Matches are per index row: an index id held by several rows
        returns a (qid, id) match once per row that clears the threshold.

        sorted_by_similarity=True mirrors Q4's similarity-descending return
        (minhash_index.rs:637 sorts matches best-first) as a
        (qid, sim desc, id) orderBy — DataFrame ordering is a presentation
        property (dropped by further transformations); use query_one /
        query_top_k for order-dependent logic.

        Both routes band index_sigs themselves, so the index is always
        its current rows: an insert or removal is a change to index_sigs
        and nothing else."""
        t = self.cfg.threshold if threshold is None else threshold
        out = self._query_scored(index_sigs, probe_sigs)
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
        self, index_sigs: DataFrame, probe_sigs: DataFrame
    ) -> DataFrame:
        """(qid, id, sim) for all probe-vs-index band candidates, routed by
        the probe side's size; serves query, query_one, query_top_k and
        query_by_id, and records self.last_route.

        The probe table goes through _build_sig_broadcast (size estimate,
        row and byte bound, null-id drop, duplicate-id guard) with
        _NUMPY_MAX_ROWS rows, further bounded to _PROBE_MAX_KEYS band
        keys because every task bands the whole probe again. If it fits,
        _broadcast_query runs; if a guard trips (e.g. a duplicated probe
        id: "duplicate id"), _jvm_query_scored does. Computed probe
        signatures are cached before the broadcast build, so the JVM route
        does not compute them again; the broadcast route never reads them
        again and drops the cache.

        Both routes exclude a band key whose index side holds more than
        _BUCKET_CAP band rows, counted over index_sigs' banding, and
        return the same matches. One input tells them apart: an index
        holding one id twice with different signatures. The JVM route
        scores every row of that id once any of them shares a band with
        the probe, the broadcast route only the rows that do.

        The index may hold the probe rows too (StreamingDedup probes its
        signatures table plus the micro-batch with the micro-batch): each
        such probe row then matches itself, and its rows count toward the
        cap like any index row."""
        bc, why = self._build_sig_broadcast(
            probe_sigs,
            min(self._NUMPY_MAX_ROWS, self._PROBE_MAX_KEYS // self.cfg.num_bands),
        )
        if bc is None:
            self.last_route = ("jvm", why)
            return self._jvm_query_scored(index_sigs, probe_sigs)
        self.last_route = ("broadcast_probe", "fits broadcast")
        return self._broadcast_query(index_sigs, probe_sigs, bc)

    def _broadcast_query(
        self, index_sigs: DataFrame, probe_sigs: DataFrame, bc
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
        mat_p, _ = bc.value
        excluded = np.empty(0, np.int64)
        if len(mat_p):
            rows = self.sid_bands(index_sigs).select("bk")
            keys = index_sigs.sparkSession.createDataFrame(
                pa.table({"bk": np.unique(_band_keys(mat_p, b, r))})
            )
            over = (
                rows.join(F.broadcast(keys), "bk", "left_semi")
                .groupBy("bk")
                .count()
                .where(F.col("count") > self._BUCKET_CAP)
                .toArrow()
            )
            excluded = over.column("bk").to_numpy()
        q_sql = probe_sigs.schema["id"].dataType.simpleString()
        i_sql = index_sigs.schema["id"].dataType.simpleString()
        return (
            index_sigs.where(F.col("id").isNotNull())
            .select("id", "sig")
            .mapInPandas(
                _probe_match_fn(bc, b, r, excluded, self._FLUSH_PAIRS),
                f"qid {q_sql}, id {i_sql}, sim double",
            )
        )

    def _jvm_query_scored(
        self, index_sigs: DataFrame, probe_sigs: DataFrame
    ) -> DataFrame:
        """The JVM bucket dataflow: the bipartite variant of the dedup
        candidate machinery (one side-tagged groupBy, cross pairs in sid
        space, ids/signatures attached only to candidates)."""
        cand = sid_cross_pairs_from_buckets(
            self.sid_bands(probe_sigs),
            self.sid_bands(index_sigs),
            drop_cap=self._BUCKET_CAP,
        )
        k, h = self.cfg.num_hashes, self.cfg.hash_size
        psig = pack_signature_col(F.col("sig"), k, h).alias("psig")
        return join_rows(
            cand.select("qid", "id"),
            probe_sigs.select("id", psig),
            "psig",
            index=index_sigs.select("id", psig),
        ).select(
            "qid", "id", minhash_similarity_packed("psig_a", "psig_b", k, h).alias("sim")
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
        """Q3: best match per query, strict '>' (minhash_index.rs:542). An
        index id held by several rows is scored by its best row."""
        matches = self.query(index_sigs, probe_sigs, threshold, strict=True, keep_sim=True)
        w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("id"))
        return (
            matches.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("qid", "id", "sim")
        )

    def query_top_k(self, index_sigs: DataFrame, probe_sigs: DataFrame, k: int) -> DataFrame:
        """Q5: top-k per query by distance asc — NO threshold filter
        (minhash_index.rs:643-658 applies no filter). Matches are per index
        row, so an index id held by several rows can take several of a
        query's k places."""
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
