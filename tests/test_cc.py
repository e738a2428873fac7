"""Connected components: known graphs, partition invariance, singletons."""
import pandas as pd

from who_owns_mass_processing_spark.operators.canonical import with_singletons
from who_owns_mass_processing_spark.operators.connected_components import (
    components_py,
    connected_components,
)


def _cc(spark, edges, nodes=None, partitions=None):
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["a", "b"]))
    if partitions:
        edf = edf.repartition(partitions)
    out = connected_components(edf)
    if nodes is not None:
        ndf = spark.createDataFrame(pd.DataFrame({"node": nodes}))
        out = with_singletons(ndf, "node", out)
    out = out.toPandas()
    return dict(zip(out.node, out.component))


def test_chain(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_star(spark):
    got = _cc(spark, [(10, i) for i in range(1, 6)])
    assert set(got.values()) == {1}


def test_two_components_and_singleton(spark):
    got = _cc(spark, [(1, 2), (3, 4)], nodes=[1, 2, 3, 4, 99])
    assert got[1] == got[2] == 1
    assert got[3] == got[4] == 3
    assert got[99] == 99


def test_string_node_ids(spark):
    got = _cc(spark, [("imgB", "imgA"), ("imgC", "imgB")])
    assert set(got.values()) == {"imgA"}


def test_partition_invariance(spark):
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(i, i + 2) for i in range(0, 30, 3)]
    base = _cc(spark, edges)
    for p in (1, 7):
        assert _cc(spark, edges, partitions=p) == base
    assert base == components_py(edges)


def test_matches_union_find_on_random_graph(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, (80, 2)) if a != b]
    assert _cc(spark, edges) == components_py(edges)


def test_long_chain_converges_via_pointer_jump(spark):
    """A 2000-node chain has diameter far beyond the iteration budget for
    plain neighbor-min propagation (needs d iterations); the sync-point
    pointer jump doubles propagation distance per batch, so it converges
    within ~log2(d) batches."""
    from pyspark.sql import functions as F

    from who_owns_mass_processing_spark.operators.connected_components import (
        connected_components,
    )

    chain = spark.range(2000).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    with __import__("warnings").catch_warnings():
        __import__("warnings").simplefilter("error")  # non-convergence warns -> fail
        cc = connected_components(chain)
        comps = cc.select("component").distinct().collect()
    assert len(comps) == 1
    assert comps[0][0] == 0


def test_duplicate_edges_both_directions(spark):
    """Every edge listed twice in each direction gives the components of
    the plain edge list: min-label propagation is correct on duplicate
    edges, so connected_components deduplicates nothing itself."""
    edges = [(1, 2), (2, 3), (7, 8), (9, 7), (20, 21)]
    doubled = [e for a, b in edges for e in ((a, b), (b, a), (a, b), (b, a))]
    assert _cc(spark, doubled, partitions=3) == components_py(edges)
