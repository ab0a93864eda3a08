"""Duplicate clusters from near-dup pairs: distributed connected
components + representative selection.

The dedup operators (exact / MinHash-LSH / SimHash / embedding) emit
PAIRS; a curation pipeline needs CLUSTERS ("keep one copy per
component").  Transitivity matters: a~b and b~c must collapse to one
cluster even when a~c was never emitted as a pair.

Algorithm: min-label propagation + POINTER JUMPING.  Each round every
node (a) takes the min label among itself and its neighbours (one
shuffle over the edge list), then (b) follows its label's label
(path halving — one self-join on the label table).  The jump halves
label-chain depth every round, so convergence needs O(log diameter)
rounds instead of O(diameter) — a 200-hop chain converges in ~8 rounds
where plain propagation needs 200.  Each round ``localCheckpoint``s
the labels so the plan/lineage stays O(1) deep instead of O(rounds).

The symmetric edge list is built from ONE scan of the pairs (each row
explodes into both orientations) and ``localCheckpoint``ed once, so
the caller's pair lineage (LSH join, verification UDFs) runs exactly
once and every round plans against a leaf instead of re-analyzing
that lineage.  The first hop is folded into the seeding: initial
labels are ``least(node, min neighbour)`` straight off the edge list,
so the seed checkpoint already does round 1's propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 25,
    method: str = "jump",
) -> DataFrame:
    """Connected components of the pair graph:
    DataFrame[id, cluster_id] for every id that appears in a pair,
    where cluster_id is the component's minimum id.

    ``method="jump"`` (default): min-label propagation + pointer
    jumping — O(log diameter) rounds, the right default for dedup
    graphs (near-dup components are dense and shallow).
    ``method="star"``: alternating large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — round count
    bounded by O(log n) REGARDLESS of topology and each round touches
    only the shrinking edge list, the safer choice when component
    shape is adversarial/unknown at 100-TB scale.

    Raises RuntimeError if the fixpoint is not reached within
    ``max_rounds`` — never silently returns half-merged clusters."""
    if method == "star":
        return _star_clusters(pairs, id_a, id_b, max_rounds)
    if method != "jump":
        raise ValueError(f"unknown method {method!r} (use 'jump' or 'star')")
    edges = _symmetric_edges(pairs, id_a, id_b).distinct().localCheckpoint()
    # seed with the first hop: every node starts at the min of itself
    # and its neighbours (a neighbour id is itself a node, so pointer
    # jumping stays sound)
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("cluster_id"))
        .withColumnRenamed("src", "id")
        .localCheckpoint()
    )
    from pyspark.sql import Observation

    for rnd in range(max_rounds):
        # candidate label per node: min over neighbours' labels
        nbr = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        propagated = labels.join(nbr, "id", "left").select(
            "id",
            F.col("cluster_id").alias("prev"),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        # pointer jumping (path halving): follow the label's label —
        # every label points at a node id that is itself in the table,
        # so chains of stale labels collapse exponentially fast
        lut = propagated.select(
            F.col("id").alias("cluster_id"),
            F.col("cluster_id").alias("root"),
        )
        # convergence detection rides the SAME materializing action as
        # the checkpoint (observe metric filled by localCheckpoint's
        # job) — the former separate join+limit+count job per round is
        # gone.  Observation is anonymous: session-unique names mean
        # two concurrent duplicate_clusters calls can't collide.
        obs = Observation()
        new_labels = (
            propagated.join(lut, "cluster_id", "left")
            .select(
                "id",
                "prev",
                F.coalesce(F.col("root"), F.col("cluster_id")).alias(
                    "cluster_id"
                ),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("cluster_id") != F.col("prev")).cast("long")
                ).alias("changed"),
            )
            .select("id", "cluster_id")
            .localCheckpoint()  # truncate lineage: O(1) plan depth
        )
        # localCheckpoint is eager: new_labels' blocks exist now.
        # NOTE: unpersist() does NOT deterministically free a
        # localCheckpointed frame's blocks (they double as the RDD's
        # checkpoint data and survive the cache-manager call — verified
        # on Spark 4.1.2); dropping the LAST Python reference below is
        # what lets the ContextCleaner reclaim the superseded round's
        # blocks asynchronously.  The unpersist stays as a best-effort
        # hint for Spark versions that honor it.
        labels.unpersist()
        labels = new_labels
        # F.sum over ZERO rows is NULL -> None: empty pair input must
        # converge immediately, not exhaust max_rounds
        if (obs.get["changed"] or 0) == 0:
            edges.unpersist()
            return labels
    edges.unpersist()
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_rounds} rounds "
        "(with pointer jumping that means component diameter > "
        f"~2^{max_rounds}); raise max_rounds"
    )


def _symmetric_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """pairs[id_a,id_b] -> edges[src,dst] holding both orientations of
    every pair, from ONE scan: a union of the two projections would
    plan and run the caller's whole pair lineage twice."""
    both = F.array(
        F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
    )
    return pairs.select(F.explode(both).alias("_e")).select("_e.src", "_e.dst")


def _with_min(edges: DataFrame) -> DataFrame:
    """edges[src,dst] -> edges[src,dst,m] where m = min over the src's
    neighbourhood including itself.  Partial-agg + equi-join, NOT a
    window — skew-safe for huge-degree hubs (see _star_clusters)."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("_nm"))
    return edges.join(mins, "src").withColumn(
        "m", F.least(F.col("_nm"), F.col("src"))
    )


def _star_clusters(
    pairs: DataFrame, id_a: str, id_b: str, max_rounds: int
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.):

    * large-star: every node links its LARGER neighbours to the min of
      its neighbourhood (incl. itself) — long chains contract toward
      small ids without growing any neighbourhood beyond its component.
    * small-star: every node links its smaller-or-equal neighbours and
      itself to that min — stars flatten.

    Alternating the two converges to one star per component rooted at
    the component minimum in O(log n) rounds for ANY topology.  Both
    steps compute each node's neighbourhood-min with a
    ``groupBy(src).agg(min)`` + equi-join, NOT a window: a hash
    aggregate gets map-side partial aggregation (a 100M-degree hub
    collapses to one row per task before the shuffle) and the join back
    is an equi-join AQE can skew-split — whereas
    ``Window.partitionBy(src)`` would ship the hub's entire
    neighbourhood to a single task.  Each round localCheckpoints (and
    frees the superseded round's blocks), and convergence is detected
    by an (edge-count, xxhash64-xor) signature that rides the
    checkpoint's own action via observe() — no extra jobs."""
    from pyspark.sql import Observation

    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for rnd in range(max_rounds):
        # ---- large star: group the SYMMETRIC edge list by node
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        big = (
            _with_min(sym)
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # ---- small star: orient edges large -> small, link the small
        # neighbours and the node itself to the neighbourhood min
        d = _with_min(
            big.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
        )
        nbrs = d.filter(F.col("dst") != F.col("m")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        selfe = d.select("src", F.col("m").alias("dst"))
        obs = Observation()
        prev_e = e
        e = (
            nbrs.union(selfe)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                # xor never overflows (ANSI mode) and is order-free —
                # a sound set signature over the distinct edge list
                F.bit_xor(F.xxhash64("src", "dst")).alias("sig"),
            )
            .localCheckpoint()
        )
        # the new round's blocks are materialized (eager checkpoint);
        # drop the superseded round's reference (see the jump method's
        # note: unpersist on localCheckpointed frames is best-effort —
        # the reference drop is what enables ContextCleaner reclaim)
        prev_e.unpersist()
        sig = (obs.get["n"], obs.get["sig"])
        if sig == prev_sig:
            # star edges: (node, component-min); roots label themselves
            labels = (
                e.select(F.col("src").alias("id"), F.col("dst").alias("cluster_id"))
                .union(
                    e.select(F.col("dst").alias("id"), F.col("dst").alias("cluster_id"))
                )
                .distinct()
            )
            # nodes isolated by the self-pair filter label themselves
            nodes = (
                _symmetric_edges(pairs, id_a, id_b)
                .select(F.col("src").alias("id"))
                .distinct()
            )
            return nodes.join(labels, "id", "left").select(
                "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
            )
        prev_sig = sig
    raise RuntimeError(
        f"duplicate_clusters(method='star') did not converge in "
        f"{max_rounds} rounds; raise max_rounds"
    )


def keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop all but one document per duplicate cluster: keeps every row
    whose id is its cluster's minimum (or appears in no pair).  This is
    the curation step "dedup the corpus" given any pair-producing
    detector."""
    clusters = duplicate_clusters(pairs, id_a=id_a, id_b=id_b)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
