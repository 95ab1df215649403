"""PageRank: power iteration as a partition-local SpMV over CSR blocks.

Not present in the reference (no pagerank anywhere in /root/reference); the
iteration skeleton mirrors HyperBall's (``algo/HyperBall.java:1119,1330``):
driver loop, per-partition kernels over degree-balanced node ranges, a
convergence aggregate per pass, systolic state updates.

Update rule (standard power iteration with uniform teleport + dangling
redistribution)::

    r'[v] = (1-a)/n + a * ( sum_{u->v} r[u]/outdeg(u)  +  dangling_mass/n )
    dangling_mass = 1 - sum_{u: outdeg(u)>0} r[u]        (since sum r == 1)

Execution paths, differentially tested against each other and driver
numpy oracles:

- :func:`webgraph_spark.algo.pagerank_block.pagerank_block` — the scale
  path: rank state as dense per-block vectors on the shared block-vector
  fixpoint engine (:mod:`webgraph_spark.plans.blockvec`).
  :func:`personalized_pagerank` is that kernel with a teleport set.
- :func:`pagerank_edges` / :func:`pagerank_weighted` — plain DataFrame
  join/agg formulations, used as differential oracles and as the
  SQL-expressible fixed-iteration variants.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.plans.csr import CsrGraph
from webgraph_spark.plans.iterate import checkpoint_state


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, rank)
    iterations: int
    deltas: list[float] = field(default_factory=list)
    iter_seconds: list[float] = field(default_factory=list)
    converged: bool = False


def pagerank_edges(
    edges: DataFrame,
    nodes: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 200,
    n_iter: int | None = None,
) -> PageRankResult:
    """Plain join/agg PageRank — the differential/SQL-expressible path.

    ``n_iter`` runs exactly that many iterations (no convergence check),
    matching a fixed-iteration SQL oracle term for term.
    """
    n = nodes.count()
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    ).persist()
    n_src = deg.count()
    nodes = (
        nodes.select("id")
        .join(deg.select("id", F.lit(1.0).alias("__has_out")), "id", "left")
        .na.fill({"__has_out": 0.0})
        .persist()
    )
    from webgraph_spark.plans.partitioning import partition_for_join

    # big side cached hash-partitioned+sorted on the join key: the per-
    # iteration sort-merge join re-exchanges ONLY the O(n) rank table
    edeg = partition_for_join(
        edges.join(deg.withColumnRenamed("id", "src"), "src"), "src"
    ).persist()
    edeg.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).transform(checkpoint_state)
    non_dangling = n_src / n
    result = PageRankResult(ranks=ranks, iterations=0)
    total = n_iter if n_iter is not None else max_iter
    for it in range(total):
        # SHUFFLE_HASH on the rank side: the checkpointed rank state has
        # unknown stats while the persisted edeg side is small enough at
        # bench scale that AQE otherwise broadcast-builds the whole O(m)
        # edge table every iteration (verified via executedPlan). The hint
        # keeps edeg's cached hash layout (zero edge exchange); only the
        # O(n) rank table shuffles.
        # Self-row fusion: the contrib-vs-ranks back-join (an O(n) exchange
        # of ranks by id plus a join build per iteration) is folded into the
        # contribution aggregation — each node's state row rides in as a
        # tagged self row contributing 0.0 to the sum while carrying the old
        # rank and the __has_out flag through the same hash aggregate. The
        # rank update + L1 delta are then a pure projection. Per iteration:
        # 2 exchanges (ranks by src for the gather, partials by id) and 1
        # join, versus 3 exchanges and 2 joins for the join-back form.
        gather = edeg.join(
            ranks.hint("shuffle_hash"), edeg["src"] == ranks["id"]
        ).select(
            F.col("dst").alias("id"),
            (F.col("rank") / F.col("deg")).alias("__v"),
            F.lit(0).alias("__s"),
            F.lit(0.0).alias("__ho"),
        )
        self_rows = ranks.select(
            "id",
            F.col("rank").alias("__v"),
            F.lit(1).alias("__s"),
            F.col("__has_out").alias("__ho"),
        )
        # dangling mass of iteration t = 1 - non-dangling rank sum measured
        # on iteration t-1's OUTPUT (observed metric) — no extra scan job
        dangling = 1.0 - float(non_dangling)
        base = (1.0 - alpha) / n + alpha * dangling / n
        new_rank = F.lit(base) + F.lit(alpha) * F.col("__contrib")
        obs = Observation()
        updated = (
            gather.unionByName(self_rows)
            .groupBy("id")
            .agg(
                F.sum(
                    F.when(F.col("__s") == 0, F.col("__v")).otherwise(0.0)
                ).alias("__contrib"),
                F.max(F.when(F.col("__s") == 1, F.col("__v"))).alias("__oldr"),
                F.max("__ho").alias("__has_out"),
            )
            .select(
                "id",
                "__has_out",
                new_rank.alias("rank"),
                F.abs(new_rank - F.col("__oldr")).alias("__delta"),
            )
            .observe(
                obs,
                F.sum("__delta").alias("d"),
                F.sum(F.col("rank") * F.col("__has_out")).alias("nd"),
            )
            .transform(checkpoint_state)
        )
        agg = obs.get
        non_dangling = float(agg["nd"] or 0.0)
        result.iterations = it + 1
        ranks = updated.select("id", "__has_out", "rank")
        if n_iter is None:
            delta = float(agg["d"])
            result.deltas.append(delta)
            if delta < tol:
                result.converged = True
                break
    result.ranks = ranks.select("id", "rank")
    return result


def personalized_pagerank(
    spark: SparkSession,
    csr: CsrGraph,
    nodes: DataFrame,
    sources: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 200,
) -> PageRankResult:
    """Personalized PageRank: teleport (and dangling mass) goes to the
    ``sources`` set uniformly instead of all nodes.

    No reference counterpart (the reference has no PageRank at all); the
    standard PPR definition, run as the block kernel with ``sources`` as
    its teleport set. Nodes outside the reachable set of ``sources``
    converge to rank 0.
    """
    from webgraph_spark.algo.pagerank_block import pagerank_block

    return pagerank_block(
        spark, csr, nodes, alpha=alpha, tol=tol, max_iter=max_iter,
        teleport=sources,
    )


def pagerank_weighted(
    edges: DataFrame,
    nodes: DataFrame,
    weight_col: str = "weight",
    alpha: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 200,
    n_iter: int | None = None,
) -> PageRankResult:
    """Weighted PageRank over a labelled edge table ``(src, dst, weight)``:
    contributions proportional to edge weight / total out-weight.

    The labelled-graph analogue of :func:`pagerank_edges` (weights are arc
    labels in the reference's algebra, ``labelling/Label.java:72``); weights
    must be positive.
    """
    n = nodes.count()
    w = F.col(weight_col).cast("double")
    # zero-weight arcs carry no mass: drop them, so a node whose out-weights
    # sum to 0 is correctly dangling instead of dividing by zero (ANSI)
    edges = edges.filter(w > 0)
    totals = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum(w).alias("wtot")
    ).persist()
    n_src = totals.count()
    nodes = (
        nodes.select("id")
        .join(totals.select("id", F.lit(1.0).alias("__has_out")), "id", "left")
        .na.fill({"__has_out": 0.0})
        .persist()
    )
    from webgraph_spark.plans.partitioning import partition_for_join

    # big side cached hash-partitioned on the join key (see pagerank_edges)
    ew = partition_for_join(
        edges.select("src", "dst", w.alias("__w")).join(
            totals.withColumnRenamed("id", "src"), "src"
        ),
        "src",
    ).persist()
    ew.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).transform(checkpoint_state)
    non_dangling = n_src / n
    result = PageRankResult(ranks=ranks, iterations=0)
    total = n_iter if n_iter is not None else max_iter
    for it in range(total):
        # same shuffle_hash rationale as pagerank_edges: never rebroadcast
        # or re-exchange the O(m) weighted edge table per iteration
        contrib = (
            ew.join(ranks.hint("shuffle_hash"), ew["src"] == ranks["id"])
            .select(
                F.col("dst"),
                (F.col("rank") * F.col("__w") / F.col("wtot")).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = 1.0 - float(non_dangling)
        base = (1.0 - alpha) / n + alpha * dangling / n
        new_rank = (
            F.lit(base) + F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
        )
        obs = Observation()
        updated = (
            ranks.join(contrib.withColumnRenamed("dst", "id"), "id", "left")
            .select(
                "id",
                "__has_out",
                new_rank.alias("rank"),
                F.abs(new_rank - F.col("rank")).alias("__d"),
            )
            .observe(
                obs,
                F.sum("__d").alias("d"),
                F.sum(F.col("rank") * F.col("__has_out")).alias("nd"),
            )
            .transform(checkpoint_state)
        )
        agg = obs.get
        non_dangling = float(agg["nd"] or 0.0)
        result.iterations = it + 1
        ranks = updated.select("id", "__has_out", "rank")
        if n_iter is None:
            delta = float(agg["d"])
            result.deltas.append(delta)
            if delta < tol:
                result.converged = True
                break
    result.ranks = ranks.select("id", "rank")
    return result


def pagerank_weighted_numpy(
    arcs: list[tuple[int, int, float]], n: int, alpha: float = 0.85,
    n_iter: int = 20,
) -> np.ndarray:
    src = np.array([a for a, _, _ in arcs], dtype=np.int64)
    dst = np.array([b for _, b, _ in arcs], dtype=np.int64)
    wts = np.array([w for _, _, w in arcs], dtype=np.float64)
    wtot = np.zeros(n)
    np.add.at(wtot, src, wts)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, r[src] * wts / wtot[src])
        dangling = r[wtot == 0].sum()
        r = (1 - alpha) / n + alpha * (contrib + dangling / n)
    return r


def ppr_numpy(
    arcs: list[tuple[int, int]], n: int, sources: list[int],
    alpha: float = 0.85, tol: float = 1e-9, max_iter: int = 200,
) -> np.ndarray:
    """Driver-side personalized-PageRank oracle."""
    src = np.array([a for a, _ in arcs], dtype=np.int64)
    dst = np.array([b for _, b in arcs], dtype=np.int64)
    deg = np.bincount(src, minlength=n)
    tele = np.zeros(n)
    tele[np.asarray(sources)] = 1.0 / len(sources)
    r = tele.copy()
    for _ in range(max_iter):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, r[src] / deg[src])
        dangling = r[deg == 0].sum()
        r_new = (1 - alpha) * tele + alpha * (contrib + dangling * tele)
        delta = np.abs(r_new - r).sum()
        r = r_new
        if delta < tol:
            break
    return r


def pagerank_numpy(
    arcs: list[tuple[int, int]], n: int, alpha: float = 0.85, tol: float = 1e-9,
    max_iter: int = 200, n_iter: int | None = None,
) -> np.ndarray:
    """Driver-side dense oracle (test-scale only)."""
    src = np.array([a for a, _ in arcs], dtype=np.int64)
    dst = np.array([b for _, b in arcs], dtype=np.int64)
    deg = np.bincount(src, minlength=n)
    r = np.full(n, 1.0 / n)
    total = n_iter if n_iter is not None else max_iter
    for _ in range(total):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, r[src] / deg[src])
        dangling = r[deg == 0].sum()
        r_new = (1 - alpha) / n + alpha * (contrib + dangling / n)
        delta = np.abs(r_new - r).sum()
        r = r_new
        if n_iter is None and delta < tol:
            break
    return r
