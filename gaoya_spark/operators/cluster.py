"""Connected-components clustering over candidate-pair edges.

Replaces the reference's lock-free greedy star clusterer
(/root/reference/gaoya/src/clustering/clusterer_parallel.rs:165-291) with
deterministic, order-independent smallest-id label propagation — the north
rule's clustering step. Outcome equivalence for recall: every pair the
greedy clusterer co-clusters lies within one star (seed + its query
matches), and every such pair is an edge (or shares the seed) in the
candidate graph, so connected components co-clusters it too (SURVEY.md
§3.3).

Algorithm: labels start as own id; each iteration every node takes the min
label over itself and its neighbors; stop at fixpoint. Iteration count is
bounded by the graph diameter — near-dup graphs are unions of dense
blobs, so a handful of iterations suffices; every iteration is
checkpointed (localCheckpoint locally, warehouse parquet in the pipeline),
which breaks the lineage chain so plans do not grow unboundedly — which is
also what makes a 10^12-row run resumable mid-clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _driver_union_find(spark, edges_pdf, nodes: DataFrame | None, id_type: str) -> DataFrame:
    """Exact union-find over a driver-local edge list (pandas DataFrame
    with columns a, b). Production rationale: once the edge set fits
    comfortably in driver memory — always true for the residual graph of
    later pipeline stages, and for any corpus where dup pairs are a small
    fraction — a single-process union-find beats O(diameter) distributed
    shuffles by orders of magnitude. The distributed iterative path below
    remains the 10^12-row strategy.

    Ids are factorized to int indices so the hot loop runs over a numpy
    parent array, and both transfers ride Arrow (toPandas in the caller,
    createDataFrame(pandas) here) — a plain createDataFrame over 20k
    Python tuples measured ~5s of driver overhead, more than the entire
    distributed path for the same graph."""
    import numpy as np
    import pandas as pd

    if len(edges_pdf) == 0:
        out = spark.createDataFrame([], f"id {id_type}, component {id_type}")
    else:
        both = pd.concat([edges_pdf["a"], edges_pdf["b"]], ignore_index=True)
        codes, uniques = pd.factorize(both)
        ne = len(edges_pdf)
        ea, eb = codes[:ne], codes[ne:]
        parent = np.arange(len(uniques), dtype=np.int64)

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(ea.tolist(), eb.tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        # flatten to roots (vectorized), then component = smallest member
        # id per root — same labels as union-by-smaller-id
        while True:
            p2 = parent[parent]
            if np.array_equal(p2, parent):
                break
            parent = p2
        lab = pd.DataFrame({"id": uniques, "root": parent})
        lab["component"] = lab.groupby("root")["id"].transform("min")
        out = spark.createDataFrame(
            lab[["id", "component"]], f"id {id_type}, component {id_type}"
        )
    if nodes is not None:
        ids = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()
        out = ids.join(out, "id", "left").select(
            "id", F.coalesce("component", "id").alias("component")
        )
    return out


def _two_phase_cc(raw: DataFrame, nodes: DataFrame | None, max_iter: int,
                  checkpoint_fn):
    """Alternating large-star / small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    10^12-edge path for graphs whose diameter is NOT small: rounds are
    O(log n) regardless of diameter, where plain label propagation needs
    O(diameter) rounds (a 10^6-link chain of near-dups would take 10^6
    shuffles under propagation, ~20 here).

    Each round is two groupBy(min)+join shuffles over the current edge set,
    and the edge set only shrinks (toward one star per component), so later
    rounds are cheaper. Fixpoint test: (count, xor-of-xxhash64) checksum of
    the oriented edge set — one cheap aggregate per round, no driver edge
    fetch.

    Returns (labels, converged): at fixpoint the edge set is a star forest
    (v -> component-min), so labels read straight off the edges; the
    min-aggregate on the way out is exact even on a truncated run (labels
    then may split components, same contract as the propagation path).
    """
    # canonical orientation u > v; self-loops contribute no connectivity
    e = (
        raw.where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .dropDuplicates(["u", "v"])
    )
    # every endpoint must get a label even if its edges collapse away
    # (or are self-loops); cheap relative to the rounds themselves
    ids = (
        nodes.select(F.col(nodes.columns[0]).alias("id"))
        if nodes is not None
        else raw.select(F.col("a").alias("id")).unionByName(
            raw.select(F.col("b").alias("id"))
        )
    ).distinct()
    e = e.localCheckpoint(eager=True)
    prev_sig = None
    converged = False
    for it in range(max_iter):
        # large-star: every node links its LARGER neighbors to its minimum
        # (m = min over itself and all neighbors)
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        ls = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .dropDuplicates(["u", "v"])
        )  # emitted (v, m) has v > u >= m, so orientation u > v is preserved
        # small-star: every node links its smaller neighbors (and itself)
        # to the minimum among them
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )
        if checkpoint_fn is not None:
            ss = checkpoint_fn(ss, it)
        else:
            # non-eager: the checksum aggregate right below is the first
            # action, so materialization + fixpoint test share one job
            ss = ss.localCheckpoint(eager=False)
        # xor-fold (not sum) of the row hashes: overflow-free under ANSI
        # mode and order-insensitive — a standard incremental set checksum
        chk = ss.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        sig = (chk["n"], chk["h"])
        e = ss
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components(twophase): no fixpoint after max_iter="
            f"{max_iter} rounds — labels may split components; raise max_iter",
            RuntimeWarning,
        )
    # star forest: u -> component min (min-agg exact under truncation too)
    pointed = e.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("id"), "component"
    )
    labels = ids.join(pointed, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )
    return labels, converged


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    checkpoint_fn=None,
    driver_threshold: int = 2_000_000,
    return_converged: bool = False,
    algorithm: str = "labelprop",
):
    """(id, component) — component = smallest reachable id.

    edges: undirected pair list. nodes: optional (id) DataFrame of all nodes
    (so isolated nodes appear as singleton components). checkpoint_fn:
    optional (DataFrame, iteration) -> DataFrame stage checkpointer, called
    every iteration (the pipeline passes a warehouse writer; default
    localCheckpoint). return_converged=True
    returns (labels, converged: bool) instead of just labels — the reliable
    programmatic convergence signal (a dynamic attribute on the DataFrame
    would be lost by any subsequent transformation); the driver union-find
    path is exact, so its flag is always True.

    Edge sets at or below driver_threshold use an exact driver-side
    union-find (tiny-stage scheduling otherwise dominates); larger graphs
    run the distributed `algorithm`:
      - "labelprop" (default): smallest-id label propagation, O(diameter)
        rounds of one groupBy each — fastest for the dense-blob graphs
        near-dup dedup produces (diameter is tiny).
      - "twophase": alternating large-star/small-star (Kiveris et al.),
        O(log n) rounds of two shuffles — the safe choice when the
        diameter is unknown or the graph may contain long chains.
    Set driver_threshold=0 to force the distributed path.
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if algorithm not in ("labelprop", "twophase"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if driver_threshold > 0:
        # one bounded SHUFFLE-FREE job decides the path AND fetches the
        # edges: pull at most threshold+1 raw edge rows straight from
        # the input via Arrow (no symmetrize, no dedup — union-find is
        # idempotent to duplicate and reversed edges, so duplicates merely
        # count toward the limit, making the cutover slightly
        # conservative). If the limit isn't hit, this IS the edge set.
        probe = raw.limit(driver_threshold + 1).toPandas()
        if len(probe) <= driver_threshold:
            spark = edges.sparkSession
            id_type = dict(raw.dtypes)["a"]
            out = _driver_union_find(spark, probe, nodes, id_type)
            return (out, True) if return_converged else out

    if algorithm == "twophase":
        labels, converged = _two_phase_cc(raw, nodes, max_iter, checkpoint_fn)
        return (labels, converged) if return_converged else labels

    # distributed label propagation: symmetrize once, persisted across
    # iterations. NO dropDuplicates: canonical (src < dst) edge lists —
    # every pair generator in this repo emits them — cannot produce a
    # duplicate under symmetrization, and for non-canonical inputs a
    # duplicate edge only repeats a message row, which the min-aggregate
    # absorbs; the exchange the dedup cost every caller (r6: measured
    # ~40% of this operator's wall on the bench graph) bought nothing.
    sym = raw.unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).persist()

    # initial labels are the raw (duplicated) endpoint list: the first
    # iteration's groupBy(id) deduplicates them for free, so the former
    # distinct + eager-checkpoint init job disappears (r6: it was the
    # single most expensive step of this operator on the bench graph —
    # ~2.8-4.3s of a ~5s query)
    if nodes is not None:
        ids = nodes.select(F.col(nodes.columns[0]).alias("id"))
    else:
        ids = sym.select(F.col("a").alias("id"))
    labels = ids.select("id", F.col("id").alias("component"))
    if max_iter <= 0:
        labels = labels.dropDuplicates(["id"])

    converged = False
    for it in range(max_iter):
        # one shuffle for the neighbor messages (join), one for the min
        # (groupBy) — the former separate labels-join for change detection
        # is folded into the same aggregation by tagging each node's own
        # label row and re-deriving it with a conditional min (r6: 3
        # exchanges/iteration -> 2, and the convergence probe rides the
        # checkpoint materialization below instead of being its own job)
        msgs = sym.join(
            labels.select(F.col("id").alias("b"), "component"), "b"
        ).select(F.col("a").alias("id"), F.col("component").alias("c"),
                 F.lit(False).alias("own"))
        own = labels.select(
            "id", F.col("component").alias("c"), F.lit(True).alias("own")
        )
        new_labels = (
            msgs.unionByName(own)
            .groupBy("id")
            .agg(
                F.min("c").alias("component"),
                F.min(F.when(F.col("own"), F.col("c"))).alias("old_component"),
            )
            .select(
                "id", "component",
                (F.col("component") < F.col("old_component")).alias("changed"),
            )
        )
        if checkpoint_fn is not None:
            new_labels = checkpoint_fn(new_labels, it)
        else:
            # non-eager: the convergence aggregate below is the first
            # action, so checkpoint materialization and the changed-count
            # happen in ONE job (eager + a separate probe ran two)
            new_labels = new_labels.localCheckpoint(eager=False)
        n_changed = (
            new_labels.agg(F.sum(F.col("changed").cast("long"))).collect()[0][0]
            or 0
        )
        labels = new_labels.drop("changed")
        if n_changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        # a component with diameter > max_iter would be silently split —
        # surface it (callers distinguish exact from truncated results)
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "iterations — labels may split long-diameter components; raise "
            "max_iter or lower driver_threshold",
            RuntimeWarning,
        )
    return (labels, converged) if return_converged else labels


def clusters_from_labels(
    labels: DataFrame, min_cluster_size: int = 2, inclusive: bool = True
) -> DataFrame:
    """(id, component, cluster_size) for clusters meeting the size bound.

    The reference is inconsistent: the serial clusterer keeps clusters with
    size strictly > min_cluster_size (clustering_serial.rs:102) while the
    parallel one keeps >= (clusterer_parallel.rs:208). `inclusive=True`
    mirrors the parallel (and more useful) semantics; False mirrors serial.
    """
    sizes = labels.groupBy("component").agg(F.count("*").alias("cluster_size"))
    cond = (
        F.col("cluster_size") >= min_cluster_size
        if inclusive
        else F.col("cluster_size") > min_cluster_size
    )
    return labels.join(sizes.where(cond), "component").select(
        "id", "component", "cluster_size"
    )


def duplicate_pair_precision(
    predicted_labels: DataFrame, truth_groups: DataFrame,
    id_col: str = "id", group_col: str = "group_id",
) -> float:
    """Fraction of predicted co-clustered pairs that are ground-truth
    duplicate pairs — the precision counterpart of duplicate_pair_recall
    (the reference notebook publishes all three: accuracy / recall /
    precision, BASELINE.md). Predicted pairs are generated per predicted
    component via a self-join; fine for stress-scale cluster sizes (the
    near-dup graphs planted there have bounded families), would need a
    size cap for adversarial mega-clusters."""
    p = predicted_labels.select(F.col(id_col).alias("id"), "component")
    pred_pairs = (
        p.alias("x")
        .join(p.alias("y"), F.col("x.component") == F.col("y.component"))
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("src"), F.col("y.id").alias("dst"))
    )
    t = truth_groups.select(F.col(id_col).alias("id"), F.col(group_col).alias("g"))
    joined = (
        pred_pairs
        .join(t.withColumnRenamed("id", "src").withColumnRenamed("g", "ga"), "src", "left")
        .join(t.withColumnRenamed("id", "dst").withColumnRenamed("g", "gb"), "dst", "left")
    )
    agg = joined.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("ga").isNotNull() & (F.col("ga") == F.col("gb"))).cast("int")
        ).alias("hit"),
    ).collect()[0]
    return 1.0 if agg["n"] == 0 else agg["hit"] / agg["n"]


def exact_set_accuracy(
    predicted_labels: DataFrame, truth_groups: DataFrame,
    id_col: str = "id", group_col: str = "group_id",
) -> float:
    """Fraction of documents whose predicted cluster is EXACTLY its truth
    group (same member set) — the notebook's set-level accuracy. Each
    side's member set is reduced to an order-insensitive signature
    (count + xor of member-id hashes) per group; a document scores when
    its predicted component's signature equals its truth group's.
    Documents absent from truth_groups are treated as singleton truth
    groups (non-duplicates must be predicted as singletons to score)."""
    p = predicted_labels.select(F.col(id_col).alias("id"), "component")
    t = truth_groups.select(F.col(id_col).alias("id"), F.col(group_col).alias("g"))
    full_t = p.select("id").join(t, "id", "left").select(
        "id",
        F.coalesce(
            F.concat(F.lit("g:"), F.col("g").cast("string")),
            F.concat(F.lit("s:"), F.col("id").cast("string")),
        ).alias("g"),
    )
    psig = p.groupBy("component").agg(
        F.count("*").alias("pn"), F.bit_xor(F.xxhash64("id")).alias("ph")
    )
    tsig = full_t.groupBy("g").agg(
        F.count("*").alias("tn"), F.bit_xor(F.xxhash64("id")).alias("th")
    )
    per_doc = (
        p.join(full_t, "id")
        .join(psig, "component")
        .join(tsig, "g")
    )
    agg = per_doc.agg(
        F.count("*").alias("n"),
        F.sum(
            ((F.col("pn") == F.col("tn")) & (F.col("ph") == F.col("th"))).cast("int")
        ).alias("hit"),
    ).collect()[0]
    return 1.0 if agg["n"] == 0 else agg["hit"] / agg["n"]


def duplicate_pair_recall(
    predicted_labels: DataFrame, truth_groups: DataFrame,
    id_col: str = "id", group_col: str = "group_id",
) -> float:
    """Fraction of ground-truth duplicate pairs co-clustered by `predicted`.

    truth_groups: (id, group_id) with group size >= 2 meaning duplicates.
    This is the BASELINE.md acceptance metric (dup-pair recall >= 0.99).
    """
    t = truth_groups.select(F.col(id_col).alias("id"), F.col(group_col).alias("g"))
    tp = (
        t.alias("x")
        .join(t.alias("y"), F.col("x.g") == F.col("y.g"))
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("src"), F.col("y.id").alias("dst"))
    )
    p = predicted_labels.select(F.col("id"), F.col("component"))
    joined = (
        tp.join(p.withColumnRenamed("id", "src").withColumnRenamed("component", "ca"), "src")
        .join(p.withColumnRenamed("id", "dst").withColumnRenamed("component", "cb"), "dst")
    )
    agg = joined.agg(
        F.count("*").alias("n"),
        F.sum((F.col("ca") == F.col("cb")).cast("int")).alias("hit"),
    ).collect()[0]
    return 1.0 if agg["n"] == 0 else agg["hit"] / agg["n"]
