"""Connected components via iterative DataFrame label propagation.

Reference analog: igraph graph_from_data_frame + cluster_fast_greedy
(R/deduplicaters.R:225-246).  Per north_rule we use min-label-propagation
connected components (CC superset-of fast-greedy communities protects the
dup-pair recall metric — SURVEY.md §7 risk table).

Algorithm (driver-side fixpoint loop, all data distributed):
  labels(node) = node
  repeat: label'(n) = min(label(n), min over neighbors m of label(m))
  until no label changes (counted with a single agg per iteration).

Scale properties:
  * each iteration = one shuffle join (edges x labels on src) + one
    groupBy min — both partial-aggregated; near-dup similarity graphs
    have tiny diameters (dup families), so iterations ~ O(log n) and in
    practice < 10;
  * lineage is cut with localCheckpoint every `CHECKPOINT_EVERY`
    iterations (Catalyst has no fixpoint operator; an unbounded plan tree
    would blow the driver — SURVEY.md §4 "Iteration").
"""

from __future__ import annotations

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

# Fixpoint bounds.  Near-dup graphs converge in a handful of iterations;
# MAX_ITERATIONS only stops a runaway loop (with a warning), and
# CHECKPOINT_EVERY is the driver-sync / lineage-cut cadence (see the loop).
MAX_ITERATIONS = 50
CHECKPOINT_EVERY = 5


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
    # identity (label(n) = n), so the first propagation round
    # label'(u) = min(u, min over neighbors v of v) needs no labels
    # table at all — one groupBy over the checkpointed edges replaces
    # the join + groupBy + join round the generic iteration pays
    # (guide §2.4: two operations keyed the same way share one
    # exchange; here the second keying disappears outright).  The loop
    # below then starts at iteration 2 with identical state.
    labels = und.groupBy("u").agg(F.min("v").alias("_mn")).select(
        F.col("u").alias("node"), F.least("u", "_mn").alias("label")
    )
    # labels derive from the checkpointed `und` with one cheap
    # aggregation — no second eager barrier needed

    # Driver-sync cost dominates this loop at bench scale (round-1 bench:
    # an eager localCheckpoint + a convergence collect EVERY iteration was
    # 32s of an 80s total).  Batch both on the `CHECKPOINT_EVERY` cadence:
    # between checkpoints the plan grows by one join per iteration (depth
    # <= CHECKPOINT_EVERY — bounded), and convergence is only *checked*
    # when the lineage is cut.  One extra batch of iterations may run
    # after the true fixpoint; min-label propagation is idempotent, so
    # the result is identical.
    changed = -1
    for it in range(2, MAX_ITERATIONS + 1):  # iteration 1 = the fold above
        # neighbor minimum: join edges to current labels of v, min per u
        neigh = (
            und.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("u", "node")
        )
        new_labels = labels.join(neigh, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            (F.col("label") != F.least(F.col("label"), F.coalesce("nlabel", "label"))).alias(
                "_changed"
            ),
        )
        # Sync schedule: iterations 2 and 3 first, then the checkpoint
        # cadence.  Near-dup similarity graphs are dominated by cliques/
        # stars (converged after round 1, detected at the it=2 sync) and
        # shallow star-chains (diameter ~3: converged at round 3 once
        # the it=2 pointer jump doubles the reach — measured: skipping
        # straight from 2 to the cadence at 5 ran three dead join
        # rounds + their materialization per call).  Deep chains still
        # batch `CHECKPOINT_EVERY` iterations per driver sync, so the
        # round-1 driver-sync lesson (one eager checkpoint + collect
        # per iteration cost 32 s of an 80 s bench) is preserved.
        if it in (2, 3) or it % CHECKPOINT_EVERY == 0 or it == MAX_ITERATIONS:
            new_labels = new_labels.localCheckpoint(eager=True)
            changed = new_labels.agg(
                F.sum(F.col("_changed").cast("long"))
            ).collect()[0][0] or 0
            # pointer jump at the sync point only: label <- label(label).
            # Labels only decrease and every label value is a node id in
            # the table, so label(label) <= label; jumping on the
            # MATERIALIZED table costs one cheap self-join per sync and
            # roughly doubles the propagation distance per batch (long
            # chains).  Jumping inside the lazy loop instead would add a
            # third reference to the un-checkpointed iteration subtree,
            # whose recompute tree grows ~refs^k between lineage cuts —
            # measured 471 s vs 30 s on a 100k-node chain.
            if changed:
                lab = new_labels.drop("_changed")
                jumped = lab.join(
                    lab.select(F.col("node").alias("label"), F.col("label").alias("_l2")),
                    "label",
                    "left",
                ).select("node", F.coalesce("_l2", "label").alias("label"))
                labels = jumped.localCheckpoint(eager=True)
            else:
                labels = new_labels.drop("_changed")
        else:
            labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        import warnings

        warnings.warn(
            f"connected_components: not converged after {MAX_ITERATIONS} "
            "iterations — components wider than the iteration budget are "
            "split; raise MAX_ITERATIONS",
            stacklevel=2,
        )
    return labels.select("node", F.col("label").alias("component"))


def components_py(edges: list[tuple], nodes: list | None = None) -> dict:
    """Driver-side union-find mirror for pytest golden checks."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for n in nodes or []:
        find(n)
    return {n: find(n) for n in parent}
