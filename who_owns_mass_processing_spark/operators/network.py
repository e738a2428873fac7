"""Second network round: connected components over typed GROUP ids.

Reference analog: after per-entity dedup produces `company_group` and
officer `group` ids, the reference runs community detection over the
bipartite (company_group, group) graph and calls the components
"networks" (dedupe_network over group-id columns,
R/deduplicaters.R:860-930).  This is the cluster-of-clusters round: two
rows land in one network when ANY chain of shared group ids connects
them, even if no direct pair survived either tier.

Spark shape: each row emits edges between its non-null typed group ids
(type prefix keeps the id namespaces disjoint), CC runs over the tiny
group-graph (|nodes| = #distinct groups, not #rows — orders of magnitude
smaller than the row table at 10^12 scale), and the component labels
join back to rows via their first non-null group id.  The expensive
object is never the graph; it's the row join, which is a plain
broadcastable equi-join on group id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.operators.connected_components import (
    connected_components,
)


def _typed(col: str):
    return F.when(
        F.col(col).isNotNull(), F.concat(F.lit(col + "="), F.col(col).cast("string"))
    )


def network_round(
    df: DataFrame,
    group_cols: list[str],
    out_col: str = "network_id",
) -> DataFrame:
    """df(+group id columns) -> df + `out_col`.

    Edges connect each row's adjacent non-null typed group ids; the
    network id is the lexicographic-min typed group id of the component,
    and a group id on no edge is its own network.
    Rows whose group ids are all NULL keep a NULL network id (the
    reference bind_rows's the NA slice back unchanged,
    R/deduplicaters.R:893-895).
    """
    if len(group_cols) < 2:
        raise ValueError("network_round needs >= 2 group id columns")

    typed = [_typed(c) for c in group_cols]
    # adjacent-pair edges are enough for connectivity (a row's ids form a
    # path, and CC only needs the path, not the clique)
    edge_parts = []
    for left, right in zip(typed, typed[1:]):
        edge_parts.append(
            df.select(left.alias("a"), right.alias("b")).where(
                F.col("a").isNotNull() & F.col("b").isNotNull()
            )
        )
    edges = edge_parts[0]
    for e in edge_parts[1:]:
        edges = edges.unionByName(e)
    edges = edges.distinct()

    cc = connected_components(edges)

    # attach via the first non-null group id of each row; a group id on
    # no edge is its own network (left join + coalesce, as
    # canonical.with_singletons)
    return (
        df.withColumn("_first_gid", F.coalesce(*typed))
        .join(
            cc.select(F.col("node").alias("_first_gid"), F.col("component").alias(out_col)),
            "_first_gid",
            "left",
        )
        .withColumn(out_col, F.coalesce(out_col, "_first_gid"))
        .drop("_first_gid")
    )
