"""Block-vector PageRank: dense/sparse emission, extrapolation, parity.

Differential strategy: the block kernel must agree with the driver numpy
oracle to float precision at fixed iteration counts; the A_{alpha^6}
extrapolated run must land on the SAME fixed point as the plain run (the
extrapolation is a linear combination of iterates — it changes the path,
never the destination).
"""

import numpy as np
import pytest

from webgraph_spark.algo import pagerank_block as pagerank_block_mod
from webgraph_spark.algo.pagerank import pagerank_numpy
from webgraph_spark.algo.pagerank_block import DENSE_THRESHOLD, pagerank_block
from webgraph_spark.plans.csr import build_csr


def _graph(spark, seed=5, n=400, m=2500):
    rng = np.random.default_rng(seed)
    arcs = sorted({(int(a), int(b)) for a, b in rng.integers(0, n, (m, 2))})
    e = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    return arcs, e, nodes, n


def _gather_at(threshold):
    real = pagerank_block_mod._gather

    def gather(st, ss, ds):
        # runs in a Python worker: set the constant where ``real`` reads it,
        # for this call only
        scope = real.__globals__
        saved, scope["DENSE_THRESHOLD"] = scope["DENSE_THRESHOLD"], threshold
        try:
            return real(st, ss, ds)
        finally:
            scope["DENSE_THRESHOLD"] = saved

    return gather


def _pair_occupancy(csr):
    # edges over destination span of each pair in the cached slot-form
    return [
        np.frombuffer(r["dst_slot"], np.int32).size
        / (np.frombuffer(r["dst_slot"], np.int32).max() + 1)
        for r in csr._pair_slotform_cache[1].collect()
    ]


@pytest.mark.parametrize("dense_threshold", [0.05, 1.1])
def test_block_matches_numpy_and_rows(spark, monkeypatch, dense_threshold):
    # a sparse random graph whose block pairs all hold between 0.05 and 1.1
    # edges per destination slot: 0.05 (the shipped value) sends every pair
    # down the dense path, 1.1 every pair down the sparse one
    monkeypatch.setattr(pagerank_block_mod, "_gather", _gather_at(dense_threshold))
    arcs, e, nodes, n = _graph(spark, m=600)
    csr = build_csr(e, num_blocks=4)
    rb = pagerank_block(spark, csr, nodes, tol=0.0, max_iter=7)
    occupancy = _pair_occupancy(csr)
    assert 0.05 <= min(occupancy) and max(occupancy) < 1.1
    oracle = pagerank_numpy(arcs, n, n_iter=7)
    gb = {r["id"]: r["rank"] for r in rb.ranks.collect()}
    assert len(gb) == n
    assert max(abs(gb[i] - oracle[i]) for i in range(n)) < 1e-13


def test_block_matches_numpy_dense_and_sparse_pairs(spark):
    # a dense random graph on 0..399 plus a 2000-node chain whose every
    # 100th node also links into the random part: with 4 blocks the chain
    # -> random-part pairs fall below DENSE_THRESHOLD, the rest above it
    arcs, _, _, n = _graph(spark)
    n_tail = 2000
    arcs = sorted(
        set(arcs)
        | {(i, i + 1) for i in range(n, n + n_tail - 1)}
        | {(i, i * 7 % n) for i in range(n, n + n_tail, 100)}
    )
    n += n_tail
    e = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    csr = build_csr(e, num_blocks=4)
    rb = pagerank_block(spark, csr, nodes, tol=0.0, max_iter=7)
    # the pair slot-form the run cached: both emission paths occurred
    occupancy = _pair_occupancy(csr)
    assert min(occupancy) < DENSE_THRESHOLD <= max(occupancy)
    oracle = pagerank_numpy(arcs, n, n_iter=7)
    gb = {r["id"]: r["rank"] for r in rb.ranks.collect()}
    assert len(gb) == n
    assert max(abs(gb[i] - oracle[i]) for i in range(n)) < 1e-13


def test_block_extrapolated_same_fixed_point(spark):
    # fast-mixing ER graph: the adaptive trigger must NOT fire (ratio well
    # below alpha), so iteration counts match exactly
    arcs, e, nodes, n = _graph(spark, seed=9)
    csr = build_csr(e, num_blocks=3)
    plain = pagerank_block(spark, csr, nodes, tol=1e-10, max_iter=250)
    fast = pagerank_block(
        spark, csr, nodes, tol=1e-10, max_iter=250, extrapolate=True
    )
    assert plain.converged and fast.converged
    assert fast.iterations == plain.iterations
    gp = {r["id"]: r["rank"] for r in plain.ranks.collect()}
    gf = {r["id"]: r["rank"] for r in fast.ranks.collect()}
    assert max(abs(gp[i] - gf[i]) for i in range(n)) < 1e-10


def test_block_extrapolation_fires_on_slow_mixing_graph(spark):
    # barbell: two complete digraphs joined by one two-way bridge — the
    # random walk's lambda_2 is ~1, so the PageRank error mode sits at
    # ~alpha and the adaptive A_{alpha^6} trigger must fire, cutting
    # iterations substantially with the fixed point unchanged
    a, b = 12, 8
    arcs = [(i, j) for i in range(a) for j in range(a) if i != j]
    arcs += [(a + i, a + j) for i in range(b) for j in range(b) if i != j]
    arcs += [(0, a), (a, 0)]
    e = spark.createDataFrame(sorted(set(arcs)), "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(a + b)], "id long")
    csr = build_csr(e, num_blocks=2)
    plain = pagerank_block(spark, csr, nodes, tol=1e-9, max_iter=300)
    fast = pagerank_block(
        spark, csr, nodes, tol=1e-9, max_iter=300, extrapolate=True
    )
    assert plain.converged and fast.converged
    assert fast.iterations < plain.iterations * 0.7
    gp = {r["id"]: r["rank"] for r in plain.ranks.collect()}
    gf = {r["id"]: r["rank"] for r in fast.ranks.collect()}
    assert max(abs(gp[i] - gf[i]) for i in gp) < 1e-8


def test_block_dangling_and_isolated_nodes(spark):
    # node 4 dangling, node 9 isolated (in nodes, no arcs)
    arcs = [(0, 1), (1, 2), (2, 0), (2, 4), (3, 4)]
    e = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 4, 9]], "id long")
    csr = build_csr(e, num_blocks=2)
    res = pagerank_block(spark, csr, nodes, tol=0.0, max_iter=10)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert set(got) == {0, 1, 2, 3, 4, 9}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # numpy oracle over the padded id space (10 ids, only 6 real nodes):
    # restrict comparison to real nodes with the same dangling handling
    oracle = pagerank_numpy(arcs, 10, n_iter=10)
    # ids 5..8 don't exist for the engine; the oracle spreads teleport over
    # all 10 — recompute with exact node set instead (manual iteration)
    ids = [0, 1, 2, 3, 4, 9]
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    src = np.array([idx[a] for a, _ in arcs])
    dst = np.array([idx[b] for _, b in arcs])
    deg = np.bincount(src, minlength=n)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, r[src] / deg[src])
        dangling = r[deg == 0].sum()
        r = (1 - 0.85) / n + 0.85 * (contrib + dangling / n)
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-12
