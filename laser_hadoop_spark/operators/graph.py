"""Iterative graph operators: connected components for dedup clusters.

Near-dup pair lists (dedup.py: ngram_jaccard_pairs / simhash_pairs /
minhash_lsh_pairs) induce a similarity graph; grouping transitively
linked documents needs connected components — the canonical iterative,
non-SQL-expressible algorithm (SURVEY.md §2 notes such ops are exempt
from the SQL oracle; verified by pytest instead).

Implementation is label propagation to a fixpoint: every node starts
labeled with itself; each round takes the min of its own and its
neighbors' labels. Scale mechanics that matter at 100 TB:

- each round is one shuffle join (labels x symmetric edges) + one
  aggregate — no driver-side graph structure;
- `localCheckpoint` truncates the lineage every round, otherwise the
  plan doubles per iteration and planning time explodes by round ~15;
- convergence needs one round per hop of the longest shortest path,
  plus one round that observes no change. Shallow graphs (pairs,
  triangles, stars) finish in 2-3 rounds; a chain of n near-duplicates
  needs about n rounds, and a graph that has not converged within
  ``max_iter`` rounds raises instead of returning partial labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with its component's minimum node id.

    Input: an edge list (directionless; both orientations are derived).
    Output: (node, component) — component = min node id reachable.
    Deterministic: min-label propagation has a unique fixpoint.
    Raises RuntimeError when labels still change in round ``max_iter``.
    """
    # Materialize the symmetrized edge list ONCE, deriving BOTH
    # orientations from a single evaluation of `edges` (explode of a
    # 2-struct array, not a self-union — a union's two branches each
    # re-run the upstream plan, and for dedup_clusters that upstream is
    # the n-gram Jaccard self-join). Without the checkpoint every
    # iteration's neighbor_min join would re-derive it again (25 rounds
    # = re-shingling the corpus 25 times). The materialized relation
    # itself is tiny (near-dup pairs).
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(
                        F.col("b").alias("a"), F.col("a").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint(eager=True)
    )
    # Round 13: round 1 is FUSED into the label initialization. Labels
    # start as the identity, so the first round's neighbor-min join
    # against identity labels is exactly min(b) per node — and the
    # groupBy doubles as the distinct-nodes pass. One aggregate job
    # replaces the former distinct-checkpoint job plus round 1's
    # join+aggregate round (q_dedup_survivors: 30 -> 23 jobs,
    # 2.10 -> 1.83 s noop at sf0.1). Round 1 can only converge when
    # the edge list is empty, in which case labels is empty too and
    # the loop below exits on its first observation.
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.col("a"), F.min("b")).alias("label"))
        .localCheckpoint()
    )
    from pyspark.sql import Observation

    changed = None
    for _ in range(max_iter - 1):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # The convergence check rides the SAME action that materializes
        # the round's labels (df.observe during the eager checkpoint):
        # min-propagation only ever lowers a label, so "changed" is
        # exactly the rows where the neighbor min undercuts the old
        # label — no separate join-and-count job per round.
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .withColumn(
                "new_label",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("new_label") < F.col("label"), 1).otherwise(0)
                ).alias("changed"),
            )
            .select("node", F.col("new_label").alias("label"))
            .localCheckpoint(eager=True)  # O(1) plan per round
        )
        labels = new_labels
        changed = obs.get["changed"]
        if not changed:  # 0, or NULL when the graph is empty
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge: {changed} node labels "
            f"still changed in round {max_iter} (max_iter={max_iter})"
        )
    return labels.select("node", F.col("label").alias("component"))


def dedup_clusters(
    pairs: DataFrame, *, left: str = "doc_a", right: str = "doc_b"
) -> DataFrame:
    """Cluster near-dup pairs transitively; pick min-id representatives.

    Output: (doc_id, cluster_id, is_representative). Documents absent
    from pairs are their own (singleton) clusters by construction and
    don't appear here — left-join this onto the corpus and coalesce
    cluster_id with doc_id.
    """
    comp = connected_components(pairs, src=left, dst=right)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_representative"),
    )


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Power-iteration PageRank over an edge list (directed).

    Each round is one join (ranks x edges, shuffle on the node key) +
    one aggregate; dangling-node mass is recomputed per round as a
    1-row aggregate cross-joined back (no driver action inside the
    loop). `localCheckpoint` truncates lineage per round like
    connected_components — without it the plan doubles per iteration.

    Output: (node, rank), sum(rank) == 1 up to float error. Fixed
    iteration count (not a convergence action) keeps the job graph
    static — at 100 TB each round's shuffle partitions on the same node
    key, so AQE reuses the layout round to round.
    """
    # Materialize the edge list once — every iteration's contribs join
    # references it, and a lazy plan would re-derive the caller's
    # upstream (e.g. a co-occurrence graph build) n_iter times. Same
    # discipline for out_deg, which is also loop-invariant.
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    out_deg = (
        e.groupBy(F.col("s").alias("node"))
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=True)
    for _ in range(n_iter):
        with_deg = ranks.join(out_deg, "node", "left")
        # mass of dangling nodes (no out-edges) redistributes uniformly
        dangling = with_deg.where(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contribs = (
            e.join(ranks.withColumnRenamed("node", "s"), "s")
            .join(out_deg.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.col("dm") / n)
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks
