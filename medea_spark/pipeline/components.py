"""Connected components over a candidate-pair graph.

The missing last step of every dedup pipeline: pair relations
(MinHash-LSH candidates, SimHash near-pairs, embedding near-dups) give
EDGES, but the thing a dedup job acts on is the CLUSTER — keep one
document per connected component.  Spark has no built-in; two
DataFrame-only algorithms are provided:

* ``algorithm="propagation"`` (default): min-label propagation with
  pointer jumping — ``label(n) ← min(label(n), neighbors' labels)``
  followed by one shortcut hop ``label ← min(label, label(label))``
  per round, to a fixpoint.  The jump halves the remaining path only
  where ids increase along it: a path whose ids increase closes in
  O(log diameter) rounds (6 at 60 nodes, 10 at 1,000), but the same
  path with its ids shuffled needs rounds in proportion to its length
  (13-38 at 60 nodes, 191-371 at 1,000, over five shuffles, replaying
  the round rule in pure Python).  Near-dup clusters are shallow (a
  duplicate family collapses in 2-3 hops), and on those shapes this
  is the cheaper algorithm per round.  The convergence signal rides
  the SAME aggregation that produces the new labels
  (``Dataset.observe`` on the eagerly-checkpointed round output) —
  one job per round, not two.

* ``algorithm="star"``: the alternating large-star / small-star
  algorithm (Kiveris et al., "Connected Components in MapReduce and
  Beyond", ACM SoCC 2014 — public paper), which contracts
  components in O(log n) rounds regardless of diameter or id order.
  The algorithm for long chains whose ids do not increase along them,
  where propagation's round budget trips.  More shuffles per round, so
  it is NOT the default for dedup-shaped inputs.

Deterministic by construction: labels are min document ids — no
randomness, rerun-stable, resume-safe (the same contract as the
engine's partitioning).  Nodes appearing ONLY in self-loop pairs
(u == u) still appear in the output as their own singleton component —
the node universe is derived from the unfiltered edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _checkpoint_like(df: DataFrame, like: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` carrying the size estimate of ``like``, an
    earlier checkpoint of the same shape, instead of the estimate of
    ``df``'s own plan.

    A checkpointed relation keeps its source plan's Catalyst size
    estimate, and without CBO a join's estimate is the product of its
    sides.  Each propagation round's pointer jump self-joins a plan on
    the previous round's checkpoint, so the carried estimate squares
    every round: its digit count doubles (5,267 digits by round 7 on a
    60-node path with shuffled ids) until the BigInt arithmetic alone
    takes seconds to minutes per round.  Every round's labels hold one
    row per node, like the initial labels, so the initial checkpoint's
    estimate serves them all; partitioning, ordering and constraints
    are kept."""
    ck = df.localCheckpoint()
    rel = ck._jdf.logicalPlan()  # the LogicalRDD over the checkpointed rows
    session, _, constraints = (rel.otherCopyArgs().apply(i) for i in range(3))
    estimate = like._jdf.logicalPlan().otherCopyArgs().apply(1)
    fresh = rel.copy(
        rel.output(),
        rel.rdd(),
        rel.outputPartitioning(),
        rel.outputOrdering(),
        rel.isStreaming(),
        rel.stream(),
        session,
        estimate,
        constraints,
    )
    jvm = ck.sparkSession._jvm
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(session, fresh), ck.sparkSession
    )


def _node_universe(e0: DataFrame) -> DataFrame:
    """Every node mentioned in the UNFILTERED edge list (self-loops
    included) — so self-loop-only nodes are never dropped."""
    return (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "a",
    dst_col: str = "b",
    max_iter: int = 25,
    algorithm: str = "propagation",
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the smallest node id in the node's connected
    component.  Raises if the fixpoint is not reached in ``max_iter``
    rounds.  With pointer jumping, propagation needs O(log diameter)
    rounds only when ids increase along each path; a long chain with
    shuffled ids needs rounds in proportion to its length, and
    ``algorithm="star"`` closes any graph in O(log n) rounds, with
    more shuffles per round.

    Each propagation iteration: propagate every node's current label to
    all of its neighbors, keep the per-node minimum, then shortcut one
    hop through the fresh label table.  Labels only ever decrease and
    are bounded below by the true component minimum, so the loop
    terminates; the changed-label count is observed on the same job
    that materializes the round (no separate convergence job)."""
    if algorithm not in ("propagation", "star"):
        raise ValueError(f"algorithm must be 'propagation' or 'star', got {algorithm!r}")
    # The edge relation is typically the OUTPUT of a candidate
    # generator (LSH bucket join, SimHash bands) — an expensive
    # subtree.  It feeds two consumers (the symmetric neighbor
    # relation and the node universe), so persist it or the generator
    # runs once per consumer (the CLAUDE.md unpersisted-consumer
    # class).  Edge-sized, already the algorithm's working set.
    e0 = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")).persist()
    if algorithm == "star":
        try:
            return _star_components(e0, max_iter)
        finally:
            e0.unpersist()
    e = e0.filter(F.col("u") != F.col("v"))
    # Symmetric neighbor relation, reused every round.
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    # Lineage MUST be truncated each round: ``labels`` appears twice in
    # every iteration's plan (neighbor join + union), so without a
    # checkpoint the logical plan DOUBLES per round — 2^rounds nodes,
    # driver OOM by iteration ~12.  localCheckpoint materializes to
    # executor-local storage and cuts the plan; a production run on a
    # preemptible cluster would use reliable checkpoint(dir) instead
    # (same call shape, durable storage).
    labels = first = (
        _node_universe(e0).withColumn("label", F.col("node")).localCheckpoint()
    )
    try:
        for _ in range(max_iter):
            # label candidates: every neighbor's label, tagged non-self;
            # the node's own current label rides along tagged self, so
            # ONE groupBy yields both the new label (min over all) and
            # the old label (min over self rows — exactly one per node).
            candidates = sym.join(
                labels, sym["u"] == labels["node"], "inner"
            ).select(
                F.col("v").alias("node"),
                F.col("label"),
                F.lit(False).alias("_self"),
            )
            merged = candidates.unionByName(
                labels.select("node", "label", F.lit(True).alias("_self"))
            )
            agg = merged.groupBy("node").agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("_self"), F.col("label"))).alias("_old"),
            ).persist()  # two consumers below (rows + parent side of the jump)
            # Pointer jump (path shortcutting): label ← min(label,
            # label(label)).  Every label value IS a node id, so the
            # self-join always finds the parent row; shortcutting turns
            # the O(diameter) round bound into O(log diameter) on
            # chain-shaped components while leaving star-shaped dedup
            # families at their 2-3 rounds.  Invariant preserved: the
            # jumped label is still a same-component node id and still
            # only ever decreases toward the component minimum.
            parent = agg.select(
                F.col("node").alias("_pnode"), F.col("label").alias("_plabel")
            )
            jumped = agg.join(
                parent, agg["label"] == parent["_pnode"], "left"
            ).select(
                agg["node"],
                F.least(
                    agg["label"], F.coalesce(F.col("_plabel"), agg["label"])
                ).alias("label"),
                agg["_old"].alias("_old"),
            )
            # Labels only decrease, so label < _old IFF this node changed
            # (changed counts the POST-jump labels: zero changed implies
            # the neighbor-min step alone was also a fixpoint, which is
            # the per-edge label-equality condition).  observe() rides
            # the localCheckpoint job — the convergence count costs zero
            # extra jobs per round.
            obs = Observation()
            new_labels = _checkpoint_like(
                jumped.observe(
                    obs,
                    F.sum(
                        (F.col("label") < F.col("_old")).cast("long")
                    ).alias("changed"),
                ).select("node", "label"),
                first,
            )
            agg.unpersist()
            labels = new_labels
            if (obs.get["changed"] or 0) == 0:
                return labels.select("node", F.col("label").alias("component"))
    finally:
        sym.unpersist()
        e0.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "a long chain whose ids do not increase along it needs rounds in "
        "proportion to its length; raise max_iter or use algorithm='star' "
        "(O(log n) rounds)"
    )


def _star_components(e0: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star / small-star (Kiveris et al., SoCC'14).

    Edges are kept canonical ``(lo, hi)`` with ``lo < hi``.  One round:

    * **large-star**: per node u over its full symmetric neighborhood,
      m = min(N(u) ∪ {u}); emit (v, m) for every neighbor v > u.
    * **small-star**: per node u over its SMALLER neighbors
      (canonical hi-side grouping), m = min(N⁻(u)); emit (x, m) for
      every x ∈ N⁻(u) ∪ {u}.

    Both steps only ever connect nodes to smaller nodes within their
    component, and the alternation provably converges to disjoint
    stars centered at each component's minimum in O(log n) rounds.
    Convergence is detected when the canonical edge set's fingerprint
    (count + two independent 64-bit hash sums, observed on the same
    job that checkpoints the round) stops changing — a probabilistic
    set-equality check whose collision odds are ~2^-128 per round."""
    nodes = _node_universe(e0)

    def fingerprint_metrics():
        # decimal(38,0) sums: a long sum of 64-bit hashes would overflow
        # under ANSI mode after a few billion edges (or a few rows of
        # adversarial hash values)
        return (
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.lit(1), "lo", "hi").cast("decimal(38,0)")).alias("h1"),
            F.sum(F.xxhash64(F.lit(2), "lo", "hi").cast("decimal(38,0)")).alias("h2"),
        )

    obs0 = Observation()
    cur = (
        e0.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi")
        )
        .distinct()
        .observe(obs0, *fingerprint_metrics())
        .localCheckpoint()
    )
    prev_fp = tuple(obs0.get[k] for k in ("n", "h1", "h2"))

    for _ in range(max_iter):
        if prev_fp[0] == 0:  # no non-self-loop edges: all singletons
            break
        # --- large-star over the symmetric neighborhood -------------------
        sym = cur.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).unionByName(cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
            .distinct()
        )
        # --- small-star: group each hi over its smaller neighbors ---------
        mins2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(mins2, "hi")
            .select(F.col("lo").alias("a"), F.col("m").alias("b"))
            .unionByName(
                mins2.select(F.col("hi").alias("a"), F.col("m").alias("b"))
            )
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
            .distinct()
        )
        obs = Observation()
        cur = ss.observe(obs, *fingerprint_metrics()).localCheckpoint()
        fp = tuple(obs.get[k] for k in ("n", "h1", "h2"))
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components(algorithm='star') did not converge in "
            f"{max_iter} rounds — O(log n) bound exceeded; malformed input?"
        )
    # Converged: ``cur`` is a forest of stars, each centered at its
    # component minimum — hi → lo IS the label map; everything else
    # (roots, isolated nodes, self-loop-only nodes) labels itself.
    # The min() re-aggregation is a no-op post-convergence, kept as a
    # cheap safety net against fingerprint-collision false positives.
    star = cur.groupBy("hi").agg(F.min("lo").alias("component"))
    return nodes.join(
        star.select(F.col("hi").alias("node"), "component"), "node", "left"
    ).select("node", F.coalesce("component", "node").alias("component"))


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    algorithm: str = "propagation",
) -> DataFrame:
    """Dedup-flavored wrapper: candidate pairs → (doc_id, cluster_id,
    is_keeper).  ``cluster_id`` is the smallest doc id in the cluster
    and also the document to keep (min-id keep rule, the same rule
    exact_duplicate_groups uses)."""
    cc = connected_components(pairs, a_col, b_col, algorithm=algorithm)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def quality_keepers(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware keeper selection: instead of the min-id keep rule,
    keep the HIGHEST-QUALITY document of each duplicate cluster (the
    real-world dedup policy — the canonical copy should be the best
    one, not the one with the smallest id).

    ``clusters`` is (id_col, cluster_col, ...) — e.g.
    ``duplicate_clusters`` output; ``quality`` is (id_col, score_col).
    Keeper = argmax(score) per cluster with ties broken to the
    SMALLEST id (deterministic, rerun-stable).  Documents missing from
    ``quality`` or with NULL scores rank below every scored document.

    Returns (id_col, cluster_col, score_col, is_keeper).

    100-TB shape: windowless argmax — a hash-agg of
    ``max(struct(score, -id))`` keyed on the cluster followed by a
    same-key join back, so both exchanges hash-partition on
    ``cluster_col`` and nothing sorts; no per-cluster row blowup, no
    skew beyond the largest cluster's row count.
    """
    from pyspark.sql.types import NumericType

    # The argmax tie-break negates the id (min-id via max(-id)), which
    # needs a NUMERIC id: a string id would fail under ANSI mode or
    # silently yield NULL keepers with ANSI off (round-5 advice).
    # duplicate_clusters itself accepts string doc ids — validate here.
    id_type = clusters.schema[id_col].dataType
    if not isinstance(id_type, NumericType):
        raise TypeError(
            f"quality_keepers needs a numeric {id_col!r} (got "
            f"{id_type.simpleString()}): the min-id tie-break is computed "
            "as max(-id). Map string ids to a numeric surrogate first "
            "(e.g. xxhash64) or rank with a window instead."
        )
    scored = clusters.select(id_col, cluster_col).join(
        quality.select(id_col, score_col), [id_col], "left"
    )
    rank = F.struct(
        F.coalesce(F.col(score_col), F.lit(float("-inf"))).alias("s"),
        (-F.col(id_col)).alias("negid"),
    )
    keepers = (
        scored.groupBy(cluster_col)
        .agg(F.max(rank).alias("_m"))
        .select(cluster_col, (-F.col("_m.negid")).alias("_keeper_id"))
    )
    return scored.join(keepers, [cluster_col]).select(
        id_col,
        cluster_col,
        score_col,
        (F.col(id_col) == F.col("_keeper_id")).alias("is_keeper"),
    )
