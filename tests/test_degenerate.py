"""Degenerate inputs: empty graphs, single nodes, loop-only graphs.

The reference's tests sweep tiny families down to size 1
(``BVGraphTest.java:50-99`` uses sizes 1..7); these pin the engine's
behavior on the boundary shapes."""

from __future__ import annotations

from webgraph_spark.algo.components import hash_min_components
from webgraph_spark.algo.labelprop import label_propagation
from webgraph_spark.algo.pagerank_block import pagerank_block
from webgraph_spark.algo.scc import strongly_connected_components
from webgraph_spark.algo.triangles import triangle_count_adjacency
from webgraph_spark.plans.csr import build_csr, csr_to_edges


def _empty(spark):
    return spark.createDataFrame([], "src long, dst long")


def _loop(spark):
    return spark.createDataFrame([(3, 3)], "src long, dst long")


def _nodes1(spark):
    return spark.createDataFrame([(3,)], "id long")


def test_csr_empty_roundtrip(spark):
    csr = build_csr(_empty(spark), num_blocks=2)
    assert csr.blocks.count() == 0
    assert csr_to_edges(csr.blocks).count() == 0


def test_pagerank_isolated_and_loop(spark):
    # single isolated node: all mass stays on it
    res = pagerank_block(spark, build_csr(_empty(spark), num_blocks=1),
                         _nodes1(spark), max_iter=3)
    rows = res.ranks.collect()
    assert len(rows) == 1 and abs(rows[0]["rank"] - 1.0) < 1e-12
    # single self-loop node: fixpoint rank 1.0
    res2 = pagerank_block(spark, build_csr(_loop(spark), num_blocks=1),
                          _nodes1(spark), max_iter=5)
    assert abs(res2.ranks.collect()[0]["rank"] - 1.0) < 1e-12


def test_cc_lpa_scc_on_degenerate(spark):
    comps = hash_min_components(_empty(spark), _nodes1(spark)).components
    assert comps.collect()[0]["comp"] == 3
    labels = label_propagation(_empty(spark), _nodes1(spark), max_iter=2).labels
    assert labels.collect()[0]["label"] == 3
    scc = strongly_connected_components(_loop(spark)).components
    assert scc.collect()[0]["comp"] == 3


def test_triangles_on_degenerate(spark):
    assert triangle_count_adjacency(_empty(spark)) == 0
    assert triangle_count_adjacency(_loop(spark)) == 0
