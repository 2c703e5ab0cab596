"""Connected components over a candidate-pair graph.

The missing last step of every dedup pipeline: pair relations
(MinHash-LSH candidates, SimHash near-pairs, embedding near-dups) give
EDGES, but the thing a dedup job acts on is the CLUSTER — keep one
document per connected component.  Spark has no built-in; one
DataFrame-only entry point runs two algorithms in sequence, each on
the input shape where it wins:

* **Min-label propagation with pointer jumping** runs first:
  ``label(n) ← min(label(n), neighbors' labels)`` followed by one
  shortcut hop ``label ← min(label, label(label))`` per round, to a
  fixpoint.  Near-dup clusters are shallow (a duplicate family
  collapses in 2-3 hops), and on those shapes it is the cheaper
  algorithm per round.  The jump halves the remaining path only where
  ids increase along it: a path of ``n`` nodes whose ids increase
  closes within ``⌈log2 n⌉ + 1`` rounds, the same path with shuffled
  ids in rounds proportional to its length (191-371 at 1,000 nodes).

* **Large-star / small-star** (Kiveris et al., "Connected Components
  in MapReduce and Beyond", ACM SoCC 2014 — public paper) takes over
  from propagation after ``⌈log2 n⌉ + 1`` rounds, ``n`` being the node
  count observed on the initial labels checkpoint.  It contracts
  components in O(log n) rounds regardless of diameter or id order,
  at more shuffles per round, starting from propagation's labels.

Deterministic by construction: labels are min document ids — no
randomness, rerun-stable, resume-safe (the same contract as the
engine's partitioning).  Nodes appearing ONLY in self-loop pairs
(u == u) still appear in the output as their own singleton component —
the node universe is derived from the unfiltered edge list.  An edge
with a NULL endpoint connects nothing; its NULL node is one
``(NULL, NULL)`` row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _checkpoint_like(df: DataFrame, like: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` carrying the size estimate of ``like``, an
    earlier checkpoint, instead of the estimate of ``df``'s own plan.

    A checkpointed relation keeps its source plan's Catalyst size
    estimate, and without CBO a join's estimate is the product of its
    sides.  Each round's plan joins the previous round's checkpoint
    (the pointer jump self-joins it), so the carried estimate squares
    every round: its digit count doubles (5,267 digits by round 7 on a
    60-node path with shuffled ids) until the BigInt arithmetic alone
    takes seconds to minutes per round.  Every round holds about one
    row per node or per edge, so the initial labels' estimate serves
    them all; partitioning, ordering and constraints are kept."""
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


def connected_components(
    edges: DataFrame,
    src_col: str = "a",
    dst_col: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the smallest node id in the node's connected
    component.  Raises if the fixpoint is not reached in ``max_iter``
    rounds, counted over both phases.

    Each propagation round: propagate every node's current label to
    all of its neighbors, keep the per-node minimum, then shortcut one
    hop through the fresh label table.  Labels only ever decrease and
    are bounded below by the true component minimum; the changed-label
    count rides the job that checkpoints the round (``Dataset.observe``,
    no separate convergence job).  A graph still changing after
    ``⌈log2 n⌉ + 1`` rounds (a long chain whose ids do not increase
    along it) hands its labels to the large-star / small-star rounds.
    When ``⌈log2 n⌉ + 1`` alone reaches ``max_iter`` (n > 2^23 at the
    default), propagation spends every round and there is no hand-off."""
    # The edge relation is typically the OUTPUT of a candidate
    # generator (LSH bucket join, SimHash bands) — an expensive
    # subtree.  It feeds two consumers (the symmetric neighbor
    # relation and the node universe), so persist it or the generator
    # runs once per consumer (the CLAUDE.md unpersisted-consumer
    # class).  Edge-sized, already the algorithm's working set.
    e0 = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")).persist()
    e = e0.filter(F.col("u") != F.col("v"))
    # Symmetric neighbor relation, reused every round.
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    # The node universe comes from the UNFILTERED edge list, so
    # self-loop-only nodes are never dropped; its observed row count
    # sets the hand-off round.
    # Lineage MUST be truncated each round: ``labels`` appears twice in
    # every iteration's plan (neighbor join + union), so without a
    # checkpoint the logical plan DOUBLES per round — 2^rounds nodes,
    # driver OOM by iteration ~12.  localCheckpoint materializes to
    # executor-local storage and cuts the plan; a production run on a
    # preemptible cluster would use reliable checkpoint(dir) instead
    # (same call shape, durable storage).
    obs = Observation()
    labels = first = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # Pointer jumping closes any increasing-id path of n nodes within
    # ⌈log2 n⌉ + 1 rounds, where the changed count halves only at the end.
    rounds = min(max(obs.get["n"] - 1, 0).bit_length() + 1, max_iter)
    try:
        for _ in range(rounds):
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
        # A fixpoint needs a round left to confirm it.
        if rounds < max_iter:
            # Hand-off: contract the ORIGINAL edges through the labels.
            # The (node, label) pairs alone would split 20-10-30-5, which
            # reads {20:10, 10:10, 30:5, 5:5} after one round.  The
            # component minimum labels itself, so the star map sends
            # every other label of the component to it.
            lu = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
            lv = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
            contracted = (
                e.join(lu, "u")
                .join(lv, "v")
                .filter(F.col("lu") != F.col("lv"))
                .select(
                    F.least("lu", "lv").alias("lo"), F.greatest("lu", "lv").alias("hi")
                )
                .distinct()
            )
            star = _star_components(contracted, first, max_iter - rounds)
            if star is not None:
                return labels.join(star, labels["label"] == star["hi"], "left").select(
                    "node", F.coalesce("component", "label").alias("component")
                )
    finally:
        sym.unpersist()
        e0.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "propagation closes a path in O(log n) rounds only where ids "
        "increase along it, and large-star / small-star needs O(log n) "
        "rounds after the hand-off; raise max_iter"
    )


def _fingerprinted(edges: DataFrame, like: DataFrame) -> tuple[DataFrame, tuple]:
    """Checkpoint a canonical ``(lo, hi)`` edge set with its fingerprint
    (count + two independent 64-bit hash sums) observed on the same
    job — a probabilistic set-equality check whose collision odds are
    ~2^-128 per round."""
    obs = Observation()
    # decimal(38,0) sums: a long sum of 64-bit hashes would overflow
    # under ANSI mode after a few billion edges (or a few rows of
    # adversarial hash values)
    ck = _checkpoint_like(
        edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.lit(1), "lo", "hi").cast("decimal(38,0)")).alias("h1"),
            F.sum(F.xxhash64(F.lit(2), "lo", "hi").cast("decimal(38,0)")).alias("h2"),
        ),
        like,
    )
    return ck, tuple(obs.get[k] for k in ("n", "h1", "h2"))


def _star_components(
    contracted: DataFrame, like: DataFrame, max_rounds: int
) -> DataFrame | None:
    """Alternating large-star / small-star (Kiveris et al., SoCC'14) over
    canonical ``(lo, hi)`` edges with ``lo < hi``: the ``(hi, component)``
    map of every non-minimum vertex, or None if ``max_rounds`` rounds
    do not reach the fixpoint.  One round:

    * **large-star**: per node u over its full symmetric neighborhood,
      m = min(N(u) ∪ {u}); emit (v, m) for every neighbor v > u.
    * **small-star**: per node u over its SMALLER neighbors
      (canonical hi-side grouping), m = min(N⁻(u)); emit (x, m) for
      every x ∈ N⁻(u) ∪ {u}.

    Both steps only ever connect nodes to smaller nodes within their
    component, and the alternation provably converges to disjoint
    stars centered at each component's minimum in O(log n) rounds —
    detected when the edge set's fingerprint stops changing."""
    cur, fp = _fingerprinted(contracted, like)
    prev, spent = None, 0
    while fp[0] and fp != prev:  # no edges left: nothing to relabel
        if spent == max_rounds:
            return None
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
        prev = fp
        cur, fp = _fingerprinted(ss, like)
        spent += 1
    # Converged: ``cur`` is a forest of stars, each centered at its
    # component minimum — hi → lo IS the label map.  The min()
    # re-aggregation is a no-op post-convergence, kept as a cheap
    # safety net against fingerprint-collision false positives.
    return cur.groupBy("hi").agg(F.min("lo").alias("component"))


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Dedup-flavored wrapper: candidate pairs → (doc_id, cluster_id,
    is_keeper).  ``cluster_id`` is the smallest doc id in the cluster
    and also the document to keep (min-id keep rule, the same rule
    exact_duplicate_groups uses)."""
    cc = connected_components(pairs, a_col, b_col)
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
