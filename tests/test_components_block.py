"""Block-vector hash-min CC: differential vs the row kernel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracles import er_arcs
from webgraph_spark.algo.components import hash_min_components
from webgraph_spark.algo.components_block import hash_min_components_block
from webgraph_spark.plans.csr import build_csr
from webgraph_spark.plans.partitioning import symmetrize_for_join


def _comps(df):
    return {r["id"]: r["comp"] for r in df.collect()}


def _block_cc(spark, edges, nodes, num_blocks=4, max_iter=100):
    sym = symmetrize_for_join(edges, "src")
    csr = build_csr(sym, num_blocks=num_blocks)
    return hash_min_components_block(spark, csr, nodes, max_iter=max_iter)


def test_two_components(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 5, 6, 9]], "id long")
    got = _comps(_block_cc(spark, edges, nodes).components)
    assert got == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 9: 9}


@pytest.mark.parametrize("seed,blocks", [(1, 4), (2, 7), (3, 1)])
def test_er_differential_vs_row_kernel(spark, seed, blocks):
    n = 80
    arcs = er_arcs(n, 0.03, seed)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = _comps(_block_cc(spark, edges, nodes, num_blocks=blocks).components)
    expect = _comps(hash_min_components(edges, nodes).components)
    assert got == expect


def test_path_graph_converges(spark):
    # a 40-node path: diameter-bound rounds, min id propagates end to end
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(40)], "id long")
    res = _block_cc(spark, edges, nodes, num_blocks=3)
    assert set(_comps(res.components).values()) == {0}
    assert res.changed_per_iter[-1] == 0


def test_slotform_cache_reused_across_kernels(spark, tmp_path):
    # LPA then CC on ONE symmetrized CsrGraph: the second kernel must reuse
    # the cached pair slot-form instead of re-decoding
    from webgraph_spark.algo.labelprop_block import label_propagation_block
    from webgraph_spark.algo.pagerank_block import pagerank_block
    from webgraph_spark.checkpoint import CheckpointManager

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 5, 6]], "id long")
    sym = symmetrize_for_join(edges, "src")
    csr = build_csr(sym, num_blocks=2)
    label_propagation_block(spark, csr, nodes, max_iter=2)
    cached = csr._pair_slotform_cache
    assert cached is not None
    res = hash_min_components_block(spark, csr, nodes)
    assert csr._pair_slotform_cache is cached  # same object — no rebuild
    assert _comps(res.components) == {0: 0, 1: 0, 2: 0, 3: 0, 5: 5, 6: 5}

    # a resumed PageRank on the directed CSR reuses the slot-form its
    # checkpointed run cached
    dcsr = build_csr(edges, num_blocks=2)
    ck = CheckpointManager(spark, str(tmp_path / "pr"), run_id="p1")
    pagerank_block(spark, dcsr, nodes, tol=0.0, max_iter=2, checkpointer=ck)
    cached = dcsr._pair_slotform_cache
    pagerank_block(
        spark, dcsr, nodes, tol=0.0, max_iter=4,
        initial_state=ck.load_iteration(2), start_iteration=2,
    )
    assert dcsr._pair_slotform_cache is cached
