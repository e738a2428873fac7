"""Connected components via iterative DataFrame label propagation.

Reference analog: igraph graph_from_data_frame + cluster_fast_greedy
(R/deduplicaters.R:225-246).  Per north_rule we use min-label-propagation
connected components (CC superset-of fast-greedy communities protects the
dup-pair recall metric — SURVEY.md §7 risk table).

Algorithm (driver-side fixpoint loop, all data distributed): hook and
shortcut in every round (Shiloach–Vishkin; the rounds of Kiveris et al.,
*Connected Components in MapReduce and Beyond*, SoCC'14):
  labels(node) = min(node, min over neighbors)     (round 1, one groupBy)
  repeat:
    hook:  label'(n) = min(label(n), min over neighbors m of label(m))
    stop   when no label changed
    jump:  label''(n) = label'(label'(n))
A hook moves a label one hop and a jump doubles the reach of every
label, so a graph of diameter d converges in O(log d) rounds.

Per-round cost: one shuffle join of the edges with the labels plus a
groupBy min and a left join (the hook, checkpointed), one emptiness test
on its changed rows, and one self-join of the checkpointed labels (the
jump, checkpointed).  Both checkpoints cut the lineage, so the plan never
grows across rounds (Catalyst has no fixpoint operator — SURVEY.md §4
"Iteration").  Near-dup similarity graphs are cliques, stars and short
star-chains, so most calls stop after one or two rounds.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.operators.blocking import checkpointed_bytes


# Target bytes per partition when re-laying-out a TINY checkpointed edge
# list: the fixpoint loop scans `und` every iteration, and a small graph
# materialized by a wide upstream job (e.g. a union of AQE stages) can
# carry 30-60 near-empty partitions — every iteration join then pays
# that many map tasks of pure scheduling overhead (measured: 64-66-task
# jobs of 130-340 ms each on a 500-edge graph).  Coalesce (narrow, no
# shuffle, no re-materialization) to ~8 MB/partition, derived from the
# MEASURED stored bytes, never from core count or fixture size — at
# scale the edge list is GBs+ and this is a no-op.
_CC_TARGET_PARTITION_BYTES = 8 << 20

# Round budget.  Rounds grow with log(diameter), so MAX_ITERATIONS only
# stops a runaway loop (with a warning).
MAX_ITERATIONS = 50


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(a, b) -> (node, component) where component = min node id
    in the component.  Only nodes on an edge are labelled; callers give
    edge-less rows their own id with a left join + coalesce
    (`canonical.with_singletons`).

    Node ids may be any orderable type (string image_ids work).  Edges
    may repeat, in either direction: min-label propagation is correct
    on duplicate edges (the min over repeated neighbours is the min).
    Callers deduplicate large edge lists themselves, where it is free
    (pair lists out of groupBy(a, b), star edges, distincted unions).

    Convergence is tested on the JVM with `isEmpty()` of the changed
    rows.  When nothing changed it scans the partitions in growing waves
    (`executeTake`), so on a wide label table the last round can take a
    few small jobs.
    """
    # materialize the (static) undirected edge list once — every iteration
    # joins against it, so it must not drag the upstream plan along.
    # Both directions come from ONE pass over `edges` (explode of a
    # 2-element struct array), never a self-union: two references to the
    # upstream plan are only deduplicated by ReuseExchange when the plan
    # happens to end in an exchange — an edge list ending in a
    # projection (e.g. the linear star-edge tier) would be fully
    # recomputed per branch (measured: 2x the whole LSH chain per CC
    # call at sf0.1).
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
            )
        ).alias("_e")
    ).select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
    und = und.localCheckpoint(eager=True)
    nbytes = checkpointed_bytes(und)
    if nbytes is not None:
        n_parts = und.rdd.getNumPartitions()  # metadata only, no job
        target = max(1, -(-nbytes // _CC_TARGET_PARTITION_BYTES))
        if target < n_parts:
            und = und.coalesce(int(target))
    # ITERATION 1 IS AN AGGREGATION, NOT A JOIN: labels start as the
    # identity (label(n) = n), so propagation round 1
    # label'(u) = min(u, min over neighbors v of v) needs no labels
    # table at all — one groupBy over the checkpointed edges replaces
    # the join + groupBy + join round the generic iteration pays
    # (guide §2.4: two operations keyed the same way share one
    # exchange; here the second keying disappears outright).  The loop
    # below then starts at iteration 2 with identical state.
    labels = und.groupBy("u").agg(F.min("v").alias("_mn")).select(
        F.col("u").alias("node"), F.least("u", "_mn").alias("label")
    )
    for _ in range(2, MAX_ITERATIONS + 1):  # iteration 1 = the fold above
        # hook: join edges to current labels of v, min per u
        neigh = (
            und.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("u", "node")
        )
        hooked = labels.join(neigh, "node", "left").select(
            "node",
            F.least("label", "nlabel").alias("label"),  # least skips nulls
            (F.col("nlabel") < F.col("label")).alias("_changed"),
        ).localCheckpoint(eager=True)
        labels = hooked.drop("_changed")
        if hooked.where("_changed").isEmpty():
            break
        # pointer jump: label <- label(label).  Labels only decrease and
        # every label value is a node id in the table, so label(label)
        # <= label; the jump reads the materialized hook, never a lazy
        # plan.
        labels = labels.join(
            labels.select(F.col("node").alias("label"), F.col("label").alias("_l2")),
            "label",
            "left",
        ).select("node", F.coalesce("_l2", "label").alias("label"))
        labels = labels.localCheckpoint(eager=True)
    else:
        warnings.warn(
            f"connected_components: not converged after {MAX_ITERATIONS} "
            "iterations — components wider than the iteration budget are "
            "split; raise MAX_ITERATIONS",
            stacklevel=2,
        )
    return labels.select("node", F.col("label").alias("component"))
