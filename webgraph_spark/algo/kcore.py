"""k-core: maximal subgraph where every node has undirected degree >= k.

No reference counterpart (lfoscari/webgraph has no core decomposition); the
semantics are the standard peeling fixpoint (Seidman 1983): repeatedly drop
nodes of degree < k in the remaining subgraph. Deterministic given (graph, k).

Scale shape: the symmetrized edge set is cached hash-partitioned by src once
(one shuffle); degrees are maintained INCREMENTALLY — each peel round gathers
only the arcs incident to the nodes dropped that round (shuffle-hash join
with the O(dropped) side as build, so the cached edge layout streams with no
exchange) and subtracts their counts from the surviving degree table. Per-
round cost is O(edges incident to the dropped frontier), not O(m) — the
distributed analogue of the sequential peel's "decrement my neighbours"
step — and the survivor count rides the eager state checkpoint as an
observed metric: one Spark action per round. Rounds are bounded by the
peeling depth (each round removes every node below k simultaneously). State
per round is the surviving (id, deg) table — O(n), never O(m).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webgraph_spark.plans.iterate import checkpoint_state
from webgraph_spark.plans.partitioning import symmetrize_for_join


@dataclass
class KCoreResult:
    nodes: DataFrame  # (id) — members of the k-core
    iterations: int
    dropped_per_iter: list[int] = field(default_factory=list)
    iter_seconds: list[float] = field(default_factory=list)


def k_core(edges: DataFrame, k: int, max_iter: int = 1000) -> KCoreResult:
    """Node set of the k-core of the symmetrized, loop-free graph."""
    sym = (
        symmetrize_for_join(edges, "src")
        .filter(F.col("src") != F.col("dst"))
        .persist()
    )
    sym.count()
    obs0 = Observation()
    cur = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .transform(checkpoint_state)
    )
    n_alive = int(obs0.get["n"] or 0)
    result = KCoreResult(nodes=cur.select("id"), iterations=0)
    for it in range(max_iter):
        t0 = time.monotonic()
        # invariant: cur.deg = degree within the surviving subgraph. Nodes
        # below k leave this round; each of their arcs decrements the
        # surviving endpoint's degree (arcs between two dropped nodes land
        # on filtered-out ids and vanish). SHUFFLE_HASH with the O(dropped)
        # frontier as build side: the cached src-partitioned edge set
        # streams with no exchange, and AQE can't broadcast the edge side
        # against the unknown-stats checkpointed state.
        dropped_ids = cur.filter(F.col("deg") < k).select(
            F.col("id").alias("src")
        )
        dec = (
            sym.join(dropped_ids.hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).alias("__dec"))
        )
        obs = Observation()
        nxt = (
            cur.filter(F.col("deg") >= k)
            .join(dec, "id", "left")
            .select(
                "id",
                (F.col("deg") - F.coalesce("__dec", F.lit(0))).alias("deg"),
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .transform(checkpoint_state)
        )
        new_alive = int(obs.get["n"] or 0)
        dropped = n_alive - new_alive
        wall = time.monotonic() - t0
        cur = nxt
        n_alive = new_alive
        result.dropped_per_iter.append(dropped)
        result.iter_seconds.append(wall)
        result.iterations = it + 1
        if dropped == 0:
            break
    sym.unpersist()
    result.nodes = cur.select("id")
    return result


def k_core_edges(edges: DataFrame, k: int) -> DataFrame:
    """Arcs of the original (directed) graph induced on the k-core nodes."""
    core = k_core(edges, k).nodes
    return (
        edges.join(core.withColumnRenamed("id", "src"), "src", "leftsemi")
        .join(core.withColumnRenamed("id", "dst"), "dst", "leftsemi")
    )


def degeneracy_order_bound(edges: DataFrame, k_max: int = 64) -> int:
    """Largest k <= k_max with a non-empty k-core (the graph's degeneracy,
    capped) — found by doubling + binary search over k, each probe one
    peeling fixpoint. Test-scale helper; at corpus scale run the single
    ``k_core`` you need instead."""
    lo_k, hi_k = 0, 1
    while hi_k <= k_max and k_core(edges, hi_k).nodes.limit(1).count() > 0:
        lo_k, hi_k = hi_k, hi_k * 2
    hi_k = min(hi_k, k_max + 1)
    while lo_k + 1 < hi_k:
        mid = (lo_k + hi_k) // 2
        if k_core(edges, mid).nodes.limit(1).count() > 0:
            lo_k = mid
        else:
            hi_k = mid
    return lo_k
