"""Connected components: known graphs, partition invariance, singletons."""
import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.operators import connected_components as ccmod
from who_owns_mass_processing_spark.operators.canonical import with_singletons
from who_owns_mass_processing_spark.operators.connected_components import (
    connected_components,
)

from tests.oracles import components_py


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


def _chain(spark, n):
    """The n-edge chain 0 - 1 - ... - n."""
    return spark.range(n).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))


def _chain_components(spark, n):
    """(distinct components, min component, labelled nodes) of the
    n-edge chain, failing on the non-convergence warning.  Only
    UserWarning is an error: PySpark's driver sockets are closed at
    garbage collection, and their ResourceWarning must not be raised
    inside `socket.__del__`."""
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        cc = connected_components(_chain(spark, n))
    row = cc.agg(
        F.countDistinct("component"), F.min("component"), F.count("*")
    ).collect()[0]
    return tuple(row)


def test_long_chain_converges_via_pointer_jump(spark):
    """A 2000-node chain needs 2000 rounds of plain neighbour-min
    propagation; a hook and a pointer jump every round double the reach
    of each label, so it converges in about log2(2000) rounds."""
    assert _chain_components(spark, 2000) == (1, 0, 2001)


def test_deep_chain_converges_within_budget(spark):
    """A 20,000-node chain is one component in well under
    MAX_ITERATIONS rounds (about log2(20000)), with no warning."""
    assert _chain_components(spark, 20000) == (1, 0, 20001)


def test_round_budget_exhaustion_warns(spark, monkeypatch):
    """MAX_ITERATIONS is the only bound: when it runs out before the
    labels settle, the call warns and returns the split labels."""
    monkeypatch.setattr(ccmod, "MAX_ITERATIONS", 2)
    with pytest.warns(UserWarning, match="not converged after 2 iterations"):
        cc = connected_components(_chain(spark, 2000))
    assert cc.select("component").distinct().count() > 1


def test_mixed_case_and_non_ascii_string_ids(spark):
    """Spark orders strings by UTF-8 bytes, which is code point order,
    as in Python: upper case before lower case, ASCII before Latin-1,
    and BMP characters (U+FF5E) before supplementary ones (U+1F600),
    where Java's UTF-16 order would put the emoji first.  The `least`
    of the hook and the jump must follow that order."""
    chains = [
        ["😀", "～"],
        ["日本", "日", "ß", "É", "é"],
        ["zz", "z", "é1", "a", "Z", "a1"],
        ["Ä", "A", "ä"],
    ]
    edges = [(c[i], c[i + 1]) for c in chains for i in range(len(c) - 1)]
    got = _cc(spark, edges)
    assert got == components_py(edges)
    assert {got[c[0]] for c in chains} == {"～", "É", "Z", "A"}


def test_duplicate_edges_both_directions(spark):
    """Every edge listed twice in each direction gives the components of
    the plain edge list: min-label propagation is correct on duplicate
    edges, so connected_components deduplicates nothing itself."""
    edges = [(1, 2), (2, 3), (7, 8), (9, 7), (20, 21)]
    doubled = [e for a, b in edges for e in ((a, b), (b, a), (a, b), (b, a))]
    assert _cc(spark, doubled, partitions=3) == components_py(edges)
