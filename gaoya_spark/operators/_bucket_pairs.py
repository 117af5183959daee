"""Shared bucket -> candidate-pair machinery (MinHash bands, substring
grams — any "equi-key blocking" operator).

Input: (bk, sid) membership rows — an 8-byte bucket key and an 8-byte id
surrogate. Output: (src, dst, m) with src < dst (sid order) and m = number
of buckets the pair co-occurs in (exact: a sid is a bucket's member once,
however many rows it has, and every path emits a pair at most once per
bucket).

One groupBy materializes buckets as sorted sid arrays; pair generation for
buckets <= array_bucket_limit is JVM array combinatorics fused into the
same stage (no self-join, no dropDuplicates — measured 2.5x faster than
the former sizes-groupBy + broadcast-tag + self-join + dropDuplicates plan
at both local[8] and local[32]). Over-limit buckets are first collapsed by
identical member set (boilerplate families repeat the same bucket in every
band — one emission with multiplicity nb); distinct sets up to
_MEDIUM_LIMIT then use the same array combinatorics, and only genuinely
huge buckets are exploded back to rows and triangle-blocked via an
equi-join, which spreads one bucket's pair generation across
_BLOCK_GROUPS reducers. Buckets beyond drop_cap (the all-identical-key
pathology at 10^12 scale) are excluded — each operator passes its own
array-tier and cap constants, and its stats helper (band_stats,
bucket_stats, gram_stats, ngram_shingle_stats, rp_bucket_stats) counts
the buckets over them on the same members, never silently.

The upper tiers' shape is this module's policy, not a caller's option:
_MEDIUM_LIMIT and _BLOCK_GROUPS are read at call time, and the bucket
arrays are always persisted. Callers choose only array_bucket_limit and
drop_cap, from their own module constants.

The id surrogate ("sid") is this module's format both ways, made and
resolved nowhere else. sid_rows makes membership rows: it drops null-id
rows and puts each row's sid next to the caller's columns, so a null id
is in no pair. join_rows joins sid pairs (src, dst) or bipartite (qid,
id) back to the rows they name, bringing the caller's columns along
(packed signatures, vectors, texts, shingle counts). An integral id is
its own sid (cast to long), so a pair that needs no columns gets its ids
back by a cast, with no join; any other id is hashed with xxhash64 and
joined back on a distinct (sid, id) map, so each id pair comes once.

A hashed-sid collision merges two ids. The expected number of merged
pairs is ~n^2/2^65: 0 at any test scale, ~27,000 at 10^12 rows. Merged
ids are never paired with each other, and each meets the other's
candidates. MinHash scores every joined row pair, so a merge is checked;
SimHash and substring_pairs (fp128) hand a merged sid's pairs to both
ids unchecked; ngram_jaccard_pairs counts the merged ids' shingles as
one set's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegralType

_BLOCK_SALT = 0x5A17

# reducer groups a hot bucket's triangle (or bipartite) block join spreads
# over: one bucket's pair generation runs in up to _BLOCK_GROUPS^2 blocks
_BLOCK_GROUPS = 16

# largest distinct member set (collapsed bucket) pair-generated in one row
# by array combinatorics: C(1024, 2) structs ~ 8 MB, safely inside
# executor task memory. Larger sets take the triangle block join.
_MEDIUM_LIMIT = 1024


def _integral(df: DataFrame, id_col: str) -> bool:
    return isinstance(df.schema[id_col].dataType, IntegralType)


def sid_rows(df: DataFrame, *cols, id_col: str = "id") -> DataFrame:
    """(sid, *cols) for each row of df with a non-null id: the id cast to
    long for integral ids (byte, short, int, long), else xxhash64(id).
    cols are any columns or expressions of df, e.g. an exploded band
    key."""
    sid = F.col(id_col).cast("long") if _integral(df, id_col) else F.xxhash64(id_col)
    return df.where(F.col(id_col).isNotNull()).select(sid.alias("sid"), *cols)


def join_rows(
    pairs: DataFrame, rows: DataFrame, *cols: str,
    index: DataFrame | None = None, id_col: str = "id",
) -> DataFrame:
    """pairs with their two sid columns (the first two; the rest ride
    along) joined back to the rows they name: two rows of `rows`, or a
    probe row of `rows` and a row of `index`. Each sid column comes back
    as its row's id under the same name, symmetric pairs in (least,
    greatest) id order. The named cols of the two rows come as <col>_a
    (the first sid column's row) and <col>_b, for a symmetric score.

    Without cols each id pair comes once: integral ids come back by a
    cast, with no join (sid order is id order), others by joins on the
    distinct (sid, id) map. With cols each row pair comes once, so a
    duplicated id brings every one of its rows, and the operator keeps
    one row per id pair."""
    a, b = pairs.columns[:2]
    rest = pairs.columns[2:]
    sym = index is None
    index = rows if sym else index
    if not cols and _integral(rows, id_col) and _integral(index, id_col):
        return pairs.select(
            F.col(a).cast(rows.schema[id_col].dataType).alias(a),
            F.col(b).cast(index.schema[id_col].dataType).alias(b),
            *rest,
        )

    def side(df: DataFrame, p: str, tag: str) -> DataFrame:
        m = sid_rows(df, F.col(id_col).alias("_id"), *cols, id_col=id_col)
        if not cols:
            # repartitioned on the join key first, so the dedup and the
            # join share one exchange
            m = m.repartition("sid").distinct()
        return m.select(
            F.col("sid").alias(p), F.col("_id").alias("_" + p),
            *[F.col(c).alias(f"{c}_{tag}") for c in cols],
        )

    out = pairs.join(side(rows, a, "a"), a).join(side(index, b, "b"), b)
    ia, ib = F.col("_" + a), F.col("_" + b)
    if sym:
        ia, ib = F.least(ia, ib), F.greatest(ia, ib)
    return out.select(
        ia.alias(a), ib.alias(b), *rest, *[f"{c}_{t}" for c in cols for t in "ab"]
    )


def is_materialized(df: DataFrame) -> bool:
    """True if df already has a persist storage level set, so an operator
    skips adding its own. A plain storage-backed scan returns False and
    gets persisted: computing the signatures again per consumer would
    cost more than the cache."""
    from py4j.protocol import Py4JError

    try:
        return df.storageLevel.useMemory or df.storageLevel.useDisk
    except (AttributeError, Py4JError):
        return False


def triangle_block_pairs(sets: DataFrame) -> DataFrame:
    """(src, dst, *rest) i<j pairs of every sorted member array `ids` in
    sets (sids, or structs led by the sid), where rest are sets' other
    columns (e.g. nb), spread over _BLOCK_GROUPS x _BLOCK_GROUPS blocks so
    no task pairs a whole huge bucket. Members explode to rows keyed by
    the set's 128-bit identity hb (two independently seeded xxhash64
    words: a collision would merge two sets and inflate m, and
    ngram_jaccard_pairs reads m as a pair's exact shingle intersection
    count, so hb gets the same 128-bit treatment as the substring gram
    fingerprints). One emission per set, so m stays exact across tiers."""
    rest = [c for c in sets.columns if c != "ids"]
    hot = sets.select(
        F.struct(
            F.xxhash64("ids").alias("w0"),
            F.xxhash64("ids", F.lit(1)).alias("w1"),
        ).alias("hb"),
        *rest, F.explode("ids").alias("sid"),
    )
    g = F.pmod(F.xxhash64("sid", F.lit(_BLOCK_SALT)), F.lit(_BLOCK_GROUPS))
    hot_g = hot.withColumn("g", g)
    left = hot_g.withColumn(
        "g2", F.explode(F.sequence(F.col("g"), F.lit(_BLOCK_GROUPS - 1)))
    ).select("hb", *rest, F.col("sid").alias("lid"), F.col("g").alias("g1"), "g2")
    right = hot_g.select("hb", F.col("sid").alias("rid"), F.col("g").alias("g2"))
    # left replicates upward (g2 >= own g), right stays at its own group:
    # a co-bucketed pair meets exactly in block (min(g), max(g)); the
    # same-block half-condition keeps one emission per set
    return (
        left.join(right, ["hb", "g2"])
        .where(
            (F.col("g1") < F.col("g2"))
            | ((F.col("g1") == F.col("g2")) & (F.col("lid") < F.col("rid")))
        )
        .select(
            F.least("lid", "rid").alias("src"),
            F.greatest("lid", "rid").alias("dst"),
            *rest,
        )
    )


def pairs_from_sorted_ids(ids):
    """All i<j pairs of a sorted array as struct(src, dst) — pure JVM
    combinatorics, one emission per pair."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )


def sid_cross_pairs_from_buckets(
    probe_members: DataFrame,
    index_members: DataFrame,
    array_bucket_limit: int = 256,
    drop_cap: int = 100_000,
) -> DataFrame:
    """(qid, id, m) probe-vs-index candidates from two (bk, sid) membership
    frames — the cross (bipartite) variant of sid_pairs_from_buckets for
    query workloads. One groupBy over the union (side-tagged) collects each
    bucket's probe and index members; the cross product is JVM array
    combinatorics for small buckets (probe x index product within
    array_bucket_limit^2), a block join for hot ones. A bucket whose index
    side exceeds drop_cap is excluded from every tier, like
    sid_pairs_from_buckets' cap; at drop_cap >= array_bucket_limit^2 only
    hot buckets can exceed it. A probe that is also in the index meets
    itself (reference query() includes self-matches)."""
    tagged = probe_members.select(
        "bk", "sid", F.lit(True).alias("is_probe")
    ).unionByName(index_members.select("bk", "sid", F.lit(False).alias("is_probe")))
    buckets = (
        tagged.groupBy("bk")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("is_probe"), F.col("sid")))
            ).alias("qs"),
            F.array_sort(
                F.collect_list(F.when(~F.col("is_probe"), F.col("sid")))
            ).alias("is"),
        )
        .where((F.size("qs") >= 1) & F.size("is").between(1, drop_cap))
        .persist()
    )
    qs, is_ = F.col("qs"), F.col("is")
    cross = F.flatten(
        F.transform(
            qs,
            lambda q: F.transform(is_, lambda i: F.struct(q.alias("qid"), i.alias("id"))),
        )
    )
    # cast BEFORE multiplying: with ANSI off a pathological bucket
    # (50k x 50k ~ 2.5e9) wraps a 32-bit product negative, sneaking past
    # the small-path filter and building a multi-billion-element array
    cross_n = F.size("qs").cast("long") * F.size("is").cast("long")
    # small path: emit per bucket instance (nb=1); the identical-set
    # collapse costs a second full shuffle of every bucket and measured a
    # net loss (see sid_pairs_from_buckets) — the final groupBy sums m
    # identically either way
    lim_sq = array_bucket_limit * array_bucket_limit
    small = buckets.where(cross_n <= lim_sq)
    raw = small.select(
        F.lit(1).cast("long").alias("nb"), F.explode(cross).alias("p")
    ).select("p.qid", "p.id", "nb")
    # halved vs medium^2 so the worst-case per-row cross array matches the
    # symmetric variant's C(medium, 2) bound
    med_cap = (_MEDIUM_LIMIT * _MEDIUM_LIMIT) // 2
    # upper tiers keep the identical-(probe-set, index-set) collapse — the
    # boilerplate family that forms the same bucket in every band is
    # exactly the hot case, and the collapse shuffle carries only
    # over-limit buckets. 128-bit bucket identity (two independently-seeded
    # xxhash64 words, same scheme as the substring gram fingerprints) so an
    # hb collision can't merge two hot member sets and inflate m.
    collapsed = (
        buckets.where(cross_n > lim_sq)
        .groupBy("qs", "is")
        .agg(F.count("*").alias("nb"))
        .persist()
    )
    # medium tier: collapsed products small enough for single-row cross
    # generation — skips the block join's extra shuffles
    raw = raw.unionByName(
        collapsed.where(cross_n <= med_cap)
        .select("nb", F.explode(cross).alias("p"))
        .select("p.qid", "p.id", "nb")
    )
    hot = collapsed.where(cross_n > med_cap).select(
        F.struct(
            F.xxhash64("qs", "is").alias("w0"),
            F.xxhash64("qs", "is", F.lit(1)).alias("w1"),
        ).alias("hb"),
        "nb", "qs", "is",
    )
    # bipartite block join: probes replicate to every index group
    left = hot.select(
        "hb", "nb", F.explode("qs").alias("qid")
    ).withColumn(
        "g2", F.explode(F.sequence(F.lit(0), F.lit(_BLOCK_GROUPS - 1)))
    )
    right = hot.select("hb", F.explode("is").alias("id")).withColumn(
        "g2", F.pmod(F.xxhash64("id", F.lit(_BLOCK_SALT)), F.lit(_BLOCK_GROUPS))
    )
    pairs_hot = left.join(right, ["hb", "g2"]).select("qid", "id", "nb")
    raw = raw.unionByName(pairs_hot)
    return raw.groupBy("qid", "id").agg(F.sum("nb").alias("m"))


def sid_pairs_from_buckets(
    members: DataFrame,
    array_bucket_limit: int = 16,
    drop_cap: int = 100_000,
) -> DataFrame:
    """(src, dst, m) candidate pairs from (bk, sid) membership rows.

    Three size tiers (measured on the dense sf0.1 document corpus, whose
    52 over-256 buckets emit 13.7M raw pairs):
      - <= array_bucket_limit: direct JVM array pair-gen per bucket
        instance (no collapse — a collapse shuffle of EVERY bucket
        measured a net loss; per-bucket emission is bounded anyway).
      - <= _MEDIUM_LIMIT: identical-member-set collapse (boilerplate
        families form the same bucket in every band; one emission with
        multiplicity nb), then the SAME array pair-gen on the distinct
        sets — the collapse shuffle carries only over-limit buckets, and
        skipping the triangle join's two extra shuffles measured ~20%
        off the dense-corpus dedup stage. Worst-case per-row array:
        C(1024,2) structs ~ 8 MB, safely inside executor task memory.
      - <= drop_cap: collapse + triangle blocking across _BLOCK_GROUPS
        reducers — bounded per-task work for genuinely huge buckets.
      - > drop_cap: excluded; callers record the count via their stats
        helpers (band_stats / gram_stats / ngram_shingle_stats), which
        count a bucket's distinct non-null sids as this function does.
    """
    # a sid is a member of a bucket once (collect_set), however many of
    # its rows hold the key: a duplicated id forms no (s, s) pair and m
    # counts buckets. buckets over drop_cap are excluded from every tier,
    # including the small one when drop_cap < array_bucket_limit. buckets
    # feed the small path and the upper tiers, so they are persisted. No
    # explicit unpersist: once the returned frame is consumed and this
    # reference is GC'd, Spark's ContextCleaner drops the blocks (and LRU
    # eviction handles the interim).
    buckets = (
        members.groupBy("bk")
        .agg(F.array_sort(F.collect_set("sid")).alias("ids"))
        .where(F.size("ids").between(2, drop_cap))
        .persist()
    )
    raw = (
        buckets.where(F.size("ids") <= array_bucket_limit)
        .select(
            F.lit(1).cast("long").alias("nb"),
            F.explode(pairs_from_sorted_ids(F.col("ids"))).alias("p"),
        )
        .select("p.src", "p.dst", "nb")
    )
    # both upper tiers are always in the plan: pruning an empty one takes
    # a blocking stats job, which measured a net loss (EXPERIMENTS.md),
    # while an empty tier costs only a near-empty AQE stage. They share
    # the identical-member-set collapse (persisted: both read it), and m
    # stays exact via sum(nb)
    collapsed = (
        buckets.where(F.size("ids") > array_bucket_limit)
        .groupBy("ids")
        .agg(F.count("*").alias("nb"))
        .persist()
    )
    # medium tier: distinct sets small enough for single-row pair-gen
    raw = raw.unionByName(
        collapsed.where(F.size("ids") <= _MEDIUM_LIMIT)
        .select(
            "nb", F.explode(pairs_from_sorted_ids(F.col("ids"))).alias("p")
        )
        .select("p.src", "p.dst", "nb")
    )
    raw = raw.unionByName(
        triangle_block_pairs(collapsed.where(F.size("ids") > _MEDIUM_LIMIT))
    )
    return raw.groupBy("src", "dst").agg(F.sum("nb").alias("m"))
