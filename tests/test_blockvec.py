"""The shared block-vector engine under PageRank, hash-min CC and LPA: its
plan shape per iteration and its input contract, pinned for all three."""

from __future__ import annotations

import pytest

from webgraph_spark.algo.components_block import hash_min_components_block
from webgraph_spark.algo.labelprop_block import label_propagation_block
from webgraph_spark.algo.pagerank_block import pagerank_block
from webgraph_spark.plans.csr import build_csr
from webgraph_spark.plans.partitioning import symmetrize_for_join

KERNELS = {
    "pagerank": lambda spark, csr, nodes, k: pagerank_block(
        spark, csr, nodes, tol=0.0, max_iter=k
    ),
    "components": lambda spark, csr, nodes, k: hash_min_components_block(
        spark, csr, nodes, max_iter=k
    ),
    "labelprop": lambda spark, csr, nodes, k: label_propagation_block(
        spark, csr, nodes, max_iter=k
    ),
}


def _csr(spark, kernel, arcs, num_blocks):
    edges = spark.createDataFrame(arcs, "src long, dst long")
    if kernel != "pagerank":
        edges = symmetrize_for_join(edges, "src")
    return build_csr(edges, num_blocks=num_blocks)


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_three_jobs_per_iteration(spark, kernel):
    # gather exchange of the state, fold exchange of the partials, and the
    # checkpoint: both cogroups read one state frame, so its exchange is
    # reused. Counted as jobs(2k) - jobs(k) over k = 2 iterations, after a
    # first run has cached the slot-form. On a 40-node path neither CC nor
    # LPA reaches its fixpoint within 4 rounds.
    csr = _csr(spark, kernel, [(i, i + 1) for i in range(39)], 3)
    nodes = spark.range(40).select("id")
    run = KERNELS[kernel]
    run(spark, csr, nodes, 1)
    sc = spark.sparkContext
    jobs = {}
    try:
        for k in (2, 4):
            group = f"blockvec-jobs-{kernel}-{k}"
            sc.setJobGroup(group, group)
            assert run(spark, csr, nodes, k).iterations == k
            jobs[k] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[4] - jobs[2] == 3 * 2


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_nodes_must_cover_every_edge_endpoint(spark, kernel):
    # node 5 is an arc endpoint missing from nodes: the gather would read
    # or scatter outside the state vector, so every kernel refuses to run
    csr = _csr(spark, kernel, [(0, 1), (1, 2), (2, 0), (2, 5)], 1)
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    with pytest.raises(Exception, match="ValueError") as exc:
        KERNELS[kernel](spark, csr, nodes, 3)
    assert "must cover every edge endpoint" in str(exc.value)
