"""SimHash Hamming-ball LSH as DataFrame dataflow.

The reference splits the signature's bits into `num_blocks` blocks and
keeps one hash table per combination of (num_blocks - max_distance) blocks
(/root/reference/gaoya/src/simhash/sim_hash_index.rs:95-128, mask
enumeration at permutation.rs:78-106). Pigeonhole: two signatures within
Hamming distance d differ in at most d blocks, so they match exactly on at
least (num_blocks - d) blocks — i.e. on at least one enumerated mask —
giving recall 1.0 for d-balls before the exact distance filter.

Spark realization: masks are enumerated on the driver
(itertools.combinations); each signature explodes into one row per mask
(table_idx, sig & mask); candidates come from the equi-join on that pair;
the exact filter is bit_count(xor) < max_distance — STRICT '<', mirroring
Q8 (sim_hash_index.rs:57; the python docstring says <= — the reference
code wins, divergence documented).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window, functions as F

from gaoya_spark.config import SimHashConfig
from gaoya_spark.operators._bucket_pairs import (
    is_materialized,
    join_rows,
    pairs_from_sorted_ids,
    sid_cross_pairs_from_buckets,
    sid_rows,
    triangle_block_pairs,
)
from gaoya_spark.functions.signatures import make_simhash_udf, make_simhash_tokens_udf
from gaoya_spark.functions.similarity import hamming_distance_col


def _block_masks(nbits: int, num_blocks: int, max_distance: int) -> list[int]:
    """One mask per combination of (num_blocks - max_distance) blocks.

    Blocks split nbits as evenly as possible (first `nbits % num_blocks`
    blocks get one extra bit), mirroring the reference's block layout.
    """
    base = nbits // num_blocks
    rem = nbits % num_blocks
    blocks = []
    start = 0
    for i in range(num_blocks):
        width = base + (1 if i < rem else 0)
        mask = ((1 << width) - 1) << start
        blocks.append(mask)
        start += width
    keep = num_blocks - max_distance
    masks = []
    for combo in combinations(range(num_blocks), keep):
        m = 0
        for i in combo:
            m |= blocks[i]
        masks.append(m)
    return masks


def _to_i64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


class SimHashLSH:
    # largest bucket whose pairs dedup_pairs / candidate_pairs generate by
    # JVM array combinatorics; larger buckets take the triangle block join
    _ARRAY_LIMIT = 512

    # largest bucket dedup_pairs / candidate_pairs pair at all: larger
    # ones (the all-empty-caption pathology at web scale) are excluded,
    # and bucket_stats counts them
    BUCKET_CAP = 4096

    def __init__(self, cfg: SimHashConfig | None = None):
        self.cfg = cfg or SimHashConfig()
        self.masks = _block_masks(cfg.nbits if cfg else 64,
                                  self.cfg.num_blocks, self.cfg.max_distance)

    # ------------------------------------------------------------------ sigs
    def signatures(
        self,
        df: DataFrame,
        id_col: str = "id",
        text_col: str = "text",
        phash_col: str | None = None,
        tokens_col: str | None = None,
    ) -> DataFrame:
        if tokens_col is not None:
            udf = make_simhash_tokens_udf(self.cfg)
            sig = udf(F.col(tokens_col))
        elif phash_col is not None:
            udf = make_simhash_udf(self.cfg, with_phash=True)
            sig = udf(F.col(text_col), F.col(phash_col))
        else:
            udf = make_simhash_udf(self.cfg)
            sig = udf(F.col(text_col))
        return df.select(F.col(id_col).alias("id"), sig.alias("sig"))

    # ---------------------------------------------------------------- tables
    @property
    def _wide(self) -> bool:
        return self.cfg.nbits == 128

    def _mask_words(self) -> list[tuple[int, int]]:
        """Each mask as (lo, hi) signed 64-bit words (hi = 0 for <=64)."""
        return [
            (_to_i64(m & ((1 << 64) - 1)), _to_i64(m >> 64)) for m in self.masks
        ]

    def _dist(self, a, b):
        """Hamming distance between two signatures (long, or 2-word array)."""
        if self._wide:
            return hamming_distance_col(a[0], b[0]) + hamming_distance_col(a[1], b[1])
        return hamming_distance_col(a, b)

    # ----------------------------------------------------------- dedup pairs
    def _table_keys(self):
        """One 8-byte table key per enumerated mask as an array column:
        xxhash64 of the masked signature (both masked words for 128-bit
        signatures) seeded by the table index — one long key instead of
        (table_idx, key), exactly like the MinHash band key. A cross-table
        collision only adds a candidate, and candidates are
        distance-checked exactly."""
        if self._wide:
            return F.array(*[
                F.xxhash64(
                    F.col("sig")[0].bitwiseAND(F.lit(lo)),
                    F.col("sig")[1].bitwiseAND(F.lit(hi)),
                    F.lit(i),
                )
                for i, (lo, hi) in enumerate(self._mask_words())
            ])
        return F.array(*[
            F.xxhash64(F.col("sig").bitwiseAND(F.lit(_to_i64(m))), F.lit(i))
            for i, m in enumerate(self.masks)
        ])

    def _sid_tables(self, sig_df: DataFrame) -> DataFrame:
        """(sid, sig, tk): the id surrogate (sid_rows), the signature
        itself, and one row per table key (_table_keys). Null-id rows have
        no table row."""
        return sid_rows(sig_df, "sig", F.explode(self._table_keys()).alias("tk"))

    def _sid_dist_pairs(
        self, sig_df: DataFrame, max_distance: int | None = None
    ) -> DataFrame:
        """(src, dst, dist) in sid space, deduped across tables. The 8-byte
        signature rides inside the bucket arrays, so the Hamming distance is
        computed map-side during pair generation and (when max_distance is
        given) candidates are filtered BEFORE the dedup shuffle — the only
        wide exchange carries surviving pairs. Buckets <= _ARRAY_LIMIT
        expand via JVM array combinatorics; (_ARRAY_LIMIT, BUCKET_CAP]
        fall back to the triangle-block join; larger buckets (the
        all-empty-caption pathology at web scale) are excluded —
        bucket_stats records how many."""
        buckets = (
            self._sid_tables(sig_df)
            .groupBy("tk")
            .agg(F.array_sort(F.collect_list(F.struct("sid", "sig"))).alias("ms"))
            .where(F.size("ms") >= 2)
            # identical member sets recur across tables for tight families —
            # generate each distinct set's pairs once (no multiplicity
            # needed here: the output is a distinct pair set, not a count)
            .select("ms")
            .distinct()
            .persist()
        )
        # members are (sid, sig) structs, sid first: both tiers emit them
        # as (src, dst) in sid order, and the distance is taken after
        raw = buckets.where(F.size("ms") <= self._ARRAY_LIMIT).select(
            F.explode(pairs_from_sorted_ids(F.col("ms"))).alias("p")
        ).select("p.src", "p.dst")
        # the triangle tier is always in the plan, as in _bucket_pairs: an
        # empty AQE stage is cheaper than a blocking job that prunes it
        raw = raw.unionByName(triangle_block_pairs(
            buckets.where(
                (F.size("ms") > self._ARRAY_LIMIT)
                & (F.size("ms") <= self.BUCKET_CAP)
            ).select(F.col("ms").alias("ids"))
        ))
        # a duplicated id is a member twice; its rows pair with no row
        # of the same id
        raw = raw.where(F.col("src.sid") != F.col("dst.sid")).select(
            F.col("src.sid").alias("src"),
            F.col("dst.sid").alias("dst"),
            self._dist(F.col("src.sig"), F.col("dst.sig")).alias("dist"),
        )
        if max_distance is not None:
            raw = raw.where(F.col("dist") < max_distance)
        return raw.groupBy("src", "dst").agg(F.min("dist").alias("dist"))

    def candidate_pairs(self, sig_df: DataFrame) -> DataFrame:
        """(src, dst) ids co-bucketed in >=1 table, deduped — public
        id-space wrapper (no distance filter)."""
        return join_rows(self._sid_dist_pairs(sig_df).select("src", "dst"), sig_df)

    def bucket_stats(self, sig_df: DataFrame) -> DataFrame:
        """C5/O9: per-table skew of sig_df's table keys — (table_idx,
        n_buckets, avg_bucket, max_bucket, n_dropped), n_dropped counting
        the buckets over BUCKET_CAP that dedup_pairs and candidate_pairs
        exclude, so the cap is recorded, never silent."""
        return self._table_stats(sig_df, self.BUCKET_CAP)

    def _table_stats(self, sig_df: DataFrame, cap: int) -> DataFrame:
        """bucket_stats with n_dropped counted over cap. A bucket's size
        is its member rows with a non-null id, grouped by the table keys
        of _sid_tables: the members _sid_dist_pairs and
        sid_cross_pairs_from_buckets count against their caps."""
        size = F.col("n")
        return (
            sid_rows(sig_df, F.posexplode(self._table_keys()).alias("table_idx", "tk"))
            .groupBy("table_idx", "tk")
            .agg(F.count("*").alias("n"))
            .groupBy("table_idx")
            .agg(
                F.count("*").alias("n_buckets"),
                F.avg(size).alias("avg_bucket"),
                F.max(size).alias("max_bucket"),
                F.sum((size > cap).cast("long")).alias("n_dropped"),
            )
        )

    def dedup_pairs(self, sig_df: DataFrame, max_distance: int | None = None) -> DataFrame:
        """(src, dst, dist) pairs with hamming distance strictly below
        max_distance (Q8 strict '<'). The distance filter runs map-side
        inside pair generation — only true pairs reach a shuffle. Ids come
        back through join_rows: a cast for integral ids (no join; at scale
        the joins are candidate-set shuffles), two joins on the distinct
        (sid, id) map otherwise, so a duplicated id gives each pair once.
        A hashed-sid collision (see _bucket_pairs.py) hands the merged
        sid's pairs to both ids with no check."""
        d = self.cfg.max_distance if max_distance is None else max_distance
        if not is_materialized(sig_df):
            sig_df = sig_df.persist()
        return join_rows(self._sid_dist_pairs(sig_df, max_distance=d), sig_df)

    # ----------------------------------------------------------------- query
    def sid_tables(self, sig_df: DataFrame) -> DataFrame:
        """(sid, tk): one 16-byte row per (signature row, enumerated mask),
        the table keys dedup_pairs and query compute for themselves, next
        to the id surrogate (sid_rows) of the row (the SimHash counterpart of
        MinHashLSH.sid_bands). Null-id rows have no table row."""
        return self._sid_tables(sig_df).select("sid", "tk")

    def query(
        self,
        index_sigs: DataFrame,
        probe_sigs: DataFrame,
        max_distance: int | None = None,
        keep_distance: bool = False,
        sorted_by_distance: bool = False,
    ) -> DataFrame:
        """Q9: (qid, id[, dist]) with dist < max_distance (strict).
        Candidates come from the bipartite bucket machinery (side-tagged
        groupBy over the union of probe and index table keys, cross pairs
        in sid space), ids/signatures attached only to candidates.
        Matches are per index row: an index id held by several rows
        returns a (qid, id) match once per row within the distance.

        sorted_by_distance=True mirrors the reference's ascending sort of
        each query's matches (sim_hash_index.rs:203 `matches.sort_by(...)`)
        as a (qid, dist, id) orderBy — note a DataFrame's ordering is a
        presentation property (any further transformation may drop it), so
        downstream code should use query_top_k / query_one rather than
        relying on row order."""
        d = self.cfg.max_distance if max_distance is None else max_distance
        cand = sid_cross_pairs_from_buckets(
            self._sid_tables(probe_sigs).select("sid", F.col("tk").alias("bk")),
            self._sid_tables(index_sigs).select("sid", F.col("tk").alias("bk")),
        )
        out = (
            join_rows(cand.select("qid", "id"), probe_sigs, "sig", index=index_sigs)
            .withColumn("dist", self._dist(F.col("sig_a"), F.col("sig_b")))
            .where(F.col("dist") < d)
        )
        cols = (
            ["qid", "id", "dist"]
            if (keep_distance or sorted_by_distance)
            else ["qid", "id"]
        )
        out = out.select(*cols)
        if sorted_by_distance:
            out = out.orderBy(F.asc("qid"), F.asc("dist"), F.asc("id"))
        return out

    def query_one(self, index_sigs: DataFrame, probe_sigs: DataFrame,
                  max_distance: int | None = None) -> DataFrame:
        """Best (minimum-distance) match per query, deterministic tie-break.
        An index id held by several rows is scored by its nearest row."""
        m = self.query(index_sigs, probe_sigs, max_distance, keep_distance=True)
        w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("id"))
        return m.withColumn("rn", F.row_number().over(w)).where("rn = 1").select(
            "qid", "id", "dist"
        )

    def query_top_k(
        self,
        index_sigs: DataFrame,
        probe_sigs: DataFrame,
        k: int,
        max_distance: int | None = None,
    ) -> DataFrame:
        """k best (lowest-distance) matches per query within the Hamming
        ball, ties broken by id — the distributed form of the reference's
        distance-ascending match list (sim_hash_index.rs:203) truncated to
        k per probe. Matches are per index row, so an index id held by
        several rows can take several of a query's k places."""
        m = self.query(index_sigs, probe_sigs, max_distance, keep_distance=True)
        w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("id"))
        return (
            m.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("qid", "id", "dist")
        )

    # -------------------------------------------------------------- centroid
    def centroid(self, sig_df: DataFrame, group_col: str) -> DataFrame:
        """P20: per-bit majority vote over each group's signatures
        (sim_hash.rs:57-78) as a JVM-side expression: sum each bit, set it
        when ones strictly outnumber half the members."""
        nbits = self.cfg.nbits
        word_of = (lambda i: F.col("sig")[i // 64]) if self._wide else (
            lambda i: F.col("sig")
        )
        bit_cols = [
            F.sum(F.shiftright(word_of(i), i % 64).bitwiseAND(F.lit(1))).alias(f"b{i}")
            for i in range(nbits)
        ]
        agg = sig_df.groupBy(F.col(group_col).alias("grp")).agg(
            F.count("*").alias("n"), *bit_cols
        )

        def word_expr(lo_bit: int, width: int):
            centroid = None
            for j in range(width):
                i = lo_bit + j
                bit = F.when(F.col(f"b{i}") * 2 > F.col("n"), F.lit(1)).otherwise(F.lit(0))
                # bit 63 of a word contributes -(2^63) in two's complement
                weight = F.lit(-(1 << 63)) if j == 63 else F.lit(1 << j)
                term = bit.cast("long") * weight
                centroid = term if centroid is None else centroid + term
            return centroid

        if self._wide:
            out = F.array(word_expr(0, 64), word_expr(64, 64))
        else:
            out = word_expr(0, nbits)
        return agg.select(F.col("grp").alias(group_col), out.alias("centroid"))
