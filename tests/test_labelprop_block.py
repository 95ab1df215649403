"""Block-vector LPA: closed-form fixtures + the python oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracles import er_arcs, lpa_sync
from webgraph_spark.algo.labelprop_block import label_propagation_block
from webgraph_spark.plans.csr import build_csr
from webgraph_spark.plans.partitioning import symmetrize_for_join


def _labels(df):
    return {r["id"]: r["label"] for r in df.collect()}


def _block_lpa(spark, edges, nodes, max_iter, num_blocks=4):
    sym = symmetrize_for_join(edges, "src")
    csr = build_csr(sym, num_blocks=num_blocks)
    return label_propagation_block(spark, csr, nodes, max_iter=max_iter)


def test_cliques_converge_to_min_label(spark):
    cl = lambda vs: [(a, b) for a in vs for b in vs if a != b]
    arcs = cl([0, 1, 2]) + cl([5, 6, 7, 8])
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = edges.select(F.col("src").alias("id")).union(
        edges.select("dst")
    ).distinct()
    res = _block_lpa(spark, edges, nodes, max_iter=10)
    assert _labels(res.labels) == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 7: 5, 8: 5}
    assert res.changed_per_iter[-1] == 0


def test_isolated_keeps_label(spark):
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,), (9,)], "id long")
    res = _block_lpa(spark, edges, nodes, max_iter=5)
    assert _labels(res.labels)[9] == 9


@pytest.mark.parametrize("seed,iters,blocks", [(1, 3, 4), (2, 5, 7), (3, 4, 1)])
def test_er_differential_vs_row_kernel_and_oracle(spark, seed, iters, blocks):
    # Same rounds, same deterministic tie-break: block kernel == python
    # oracle, exactly (integer votes — no float hazard).
    n = 60
    arcs = er_arcs(n, 0.05, seed)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = _labels(
        _block_lpa(spark, edges, nodes, max_iter=iters, num_blocks=blocks).labels
    )
    assert got == lpa_sync(arcs, list(range(n)), iters)


def test_initial_labels_respected(spark):
    # A path 0-1-2 with a pinned initial label on one end.
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    initial = spark.createDataFrame(
        [(0, 100), (1, 101), (2, 102)], "id long, label long"
    )
    got = _labels(
        label_propagation_block(
            spark,
            build_csr(symmetrize_for_join(edges, "src"), num_blocks=2),
            nodes,
            max_iter=1,
            initial=initial,
        ).labels
    )
    # one round: each end takes the middle's 101; the middle's tie
    # (100 vs 102) goes to the lower label
    assert got == {0: 101, 1: 100, 2: 101}
