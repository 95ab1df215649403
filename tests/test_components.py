"""Connected components: closed-form fixtures + union-find differential oracle
(reference pattern: ``ConnectedComponentsTest.java:30-62``)."""

from __future__ import annotations

import pytest

from tests.oracles import cc_union_find, er_arcs
from webgraph_spark.algo.components import (
    hash_min_components,
    largest_component,
    renumber_by_size,
)
from webgraph_spark.algo.components_block import hash_min_components_block
from webgraph_spark.algo.labelprop import label_propagation
from webgraph_spark.plans.csr import build_csr
from webgraph_spark.plans.partitioning import symmetrize_for_join


def _comp_map(df, col="comp"):
    return {r["id"]: r[col] for r in df.collect()}


def test_two_islands_and_isolated(spark):
    # Component A: 0-1-2 path; component B: 10-11; isolated: 20.
    arcs = [(0, 1), (1, 2), (10, 11)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 10, 11, 20]], "id long")
    res = hash_min_components(edges, nodes)
    got = _comp_map(res.components)
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 20: 20}
    # Renumber by size: {0,1,2} -> 0, {10,11} -> 1, {20} -> 2.
    ren = _comp_map(renumber_by_size(res.components), "component")
    assert ren == {0: 0, 1: 0, 2: 0, 10: 1, 11: 1, 20: 2}
    big = sorted(r["id"] for r in largest_component(res.components).collect())
    assert big == [0, 1, 2]


def test_long_chain_converges(spark):
    # Hash-min alone needs O(diameter) rounds; on a 60-chain the star
    # fallback kicks in at round 24 and finishes in O(log n) more.
    n = 60
    arcs = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    res = hash_min_components(edges, max_iter=100)
    got = _comp_map(res.components)
    assert set(got.values()) == {0}
    assert res.iterations < n - 1  # strictly better than pure hash-min

    # pure hash-min (no star finish) still converges, the slow way
    csr = build_csr(symmetrize_for_join(edges, "src"))
    res2 = hash_min_components_block(spark, csr, spark.range(n), max_iter=100)
    assert _comp_map(res2.components) == got
    assert res2.changed_per_iter[-1] == 0


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_er_vs_union_find(spark, seed):
    n = 100
    arcs = er_arcs(n, 0.012, seed)
    nodes = list(range(n))
    edges = spark.createDataFrame(arcs or [(0, 0)], "src long, dst long")
    ndf = spark.createDataFrame([(i,) for i in nodes], "id long")
    res = hash_min_components(edges, ndf)
    assert _comp_map(res.components) == cc_union_find(arcs, nodes)


def test_shifted_ids_give_shifted_components(spark):
    # ids need only be dense, not small: the same graph shifted by 2**40
    # gives the same components, shifted
    shift = 2**40
    arcs = [(0, 1), (1, 2), (10, 11)]
    ids = [0, 1, 2, 10, 11, 20]
    edges = spark.createDataFrame(
        [(s + shift, d + shift) for s, d in arcs], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i + shift,) for i in ids], "id long")
    got = _comp_map(hash_min_components(edges, nodes).components)
    base = {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 20: 20}
    assert got == {i + shift: c + shift for i, c in base.items()}


def test_directed_arcs_treated_undirected(spark):
    # 0->1, 2->1: one component despite no directed path 0..2.
    edges = spark.createDataFrame([(0, 1), (2, 1)], "src long, dst long")
    res = hash_min_components(edges)
    assert set(_comp_map(res.components).values()) == {0}


@pytest.mark.parametrize(
    "entry", [hash_min_components, label_propagation], ids=["cc", "lpa"]
)
def test_entry_points_leave_nothing_cached(spark, entry):
    # driver queries call the entry points again and again in one session:
    # the symmetrized edges, the node frame and the pair slot-form each call
    # persists must be released before it returns
    cache = spark._jsparkSession.sharedState().cacheManager()

    def cached():
        entries = cache.cachedData()
        return sorted(entries.apply(i).toString() for i in range(entries.size()))

    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "src long, dst long")
    before = cached()
    res = entry(edges, max_iter=5)
    assert cached() == before
    out = res.components if entry is hash_min_components else res.labels
    assert out.count() == 5  # the result outlives the release


def test_renumber_by_size_shattered(spark):
    # 10^5 singleton components + one 50-node component: renumber must not
    # funnel one-row-per-component through a single partition (the old
    # unpartitioned window). The big component gets rank 0; singletons get
    # a dense 1..n numbering ordered by min member id.
    from pyspark.sql import functions as F

    singles = spark.range(1000, 101_000).select(
        F.col("id").cast("long"), F.col("id").cast("long").alias("comp")
    )
    big = spark.range(0, 50).select(
        F.col("id").cast("long"), F.lit(0).cast("long").alias("comp")
    )
    ren = renumber_by_size(big.unionByName(singles))
    assert ren.filter("component = 0").count() == 50  # largest first
    n_comp = ren.select("component").distinct().count()
    assert n_comp == 100_001
    mx = ren.agg(F.max("component")).first()[0]
    assert mx == 100_000  # dense 0..n_comp-1
    # singleton ranks follow comp id order (size ties break by comp asc)
    probe = {
        r["id"]: r["component"]
        for r in ren.filter(F.col("id").isin(1000, 1001, 100_999)).collect()
    }
    assert probe[1000] == 1 and probe[1001] == 2 and probe[100_999] == 100_000
