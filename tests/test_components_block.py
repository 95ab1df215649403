"""Block-vector hash-min CC: closed-form fixtures + union-find oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracles import cc_union_find, er_arcs
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
    assert got == cc_union_find(arcs, list(range(n)))


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


def test_symmetric_graph_slotform_matches_csr_decode(spark):
    # the edge-list layout must cut the same pair slot-form a CSR of the
    # symmetrized edges decodes to: both directions, duplicate arcs (a
    # repeated row, an arc given both ways) dropped, a self-loop kept once
    from webgraph_spark.plans.blockvec import (
        SymmetricGraph,
        block_ranges,
        build_pair_slotform,
        unpersist_pair_slotform,
    )

    arcs = er_arcs(60, 0.08, 4) + [(3, 7), (3, 7), (7, 3), (9, 9)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(60)], "id long")
    csr = build_csr(symmetrize_for_join(edges, "src"), num_blocks=3)
    graph = SymmetricGraph(edges, csr.cuts)
    ranges = block_ranges(
        nodes.withColumn("block_id", csr.node_block_id_col("id"))
        .groupBy("block_id")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .collect()
    )

    def rows(g):
        out = sorted(
            tuple(r) for r in build_pair_slotform(g, *ranges, 4).collect()
        )
        unpersist_pair_slotform(g)
        return out

    got = rows(graph)
    assert got == rows(csr)
    assert len(got) == len({r[:2] for r in got})  # one row per block pair


def test_sparse_ids_raise_before_allocating(spark):
    # dense block state would span 2**40 slots for two nodes: refuse, and
    # say how to fix it, instead of asking for terabytes
    from webgraph_spark.algo.components import hash_min_components

    edges = spark.createDataFrame([(0, 2**40)], "src long, dst long")
    with pytest.raises(Exception, match="dense block state needs dense ids"):
        hash_min_components(edges).components.collect()
