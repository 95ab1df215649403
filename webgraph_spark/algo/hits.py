"""HITS hubs & authorities (Kleinberg 1999) by coupled power iteration.

No reference counterpart (lfoscari/webgraph ships PageRank-era spectral
tools in its companion law library, not HITS); semantics are the standard
mutual recursion: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each
L2-normalized per half-step. Deterministic given (graph, max_iter, tol).

Scale shape: the edge table is cached hash-partitioned TWICE — by src for
the authority gather (which joins hub scores ON src) and by dst for the hub
gather (which joins authority scores ON dst) — so neither half-step
re-exchanges the graph; only the O(n) score table moves, and the post-join
groupBy shrinks via partial aggregation before its exchange (the same trade
the LPA/CC loops document). One iteration is
exactly TWO Spark actions (one per half-step): each half-step's squared
norm rides its eager checkpoint as an observed metric and is applied as a
driver-scalar divide inside the NEXT half-step's expressions (the same
broadcast-scalar trick as PageRank's dangling mass), and convergence uses
the L2 identity ||new−old||² = 2 − 2·⟨raw,old⟩/‖raw‖ over unit vectors, so
the delta needs only two more observed scalars — never a third pass.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webgraph_spark.plans.iterate import checkpoint_state
from webgraph_spark.plans.partitioning import partition_for_join


@dataclass
class HitsResult:
    scores: DataFrame  # (id, hub, auth) — L2-normalized
    iterations: int
    deltas: list[float] = field(default_factory=list)  # L2 of hub change
    iter_seconds: list[float] = field(default_factory=list)
    converged: bool = False


def hits(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    tol: float = 1e-8,
) -> HitsResult:
    """Coupled hub/authority power iteration to an L2 fixpoint.

    One iteration = authority half-step then hub half-step (one power step
    of A^T A on the hub vector); convergence is the L2 delta of the
    normalized hub vector between iterations.
    """
    arcs = edges.select("src", "dst")
    by_dst = partition_for_join(arcs, "dst").persist()
    by_src = partition_for_join(arcs, "src").persist()
    by_dst.count()
    by_src.count()
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    nodes = nodes.select("id").persist()
    n = nodes.count()

    h0 = 1.0 / (n ** 0.5)  # unit-L2 uniform start
    state = (
        nodes.withColumn("hub", F.lit(h0))
        .withColumn("auth", F.lit(0.0))
        .transform(checkpoint_state)
    )
    result = HitsResult(scores=state, iterations=0)
    for it in range(max_iter):
        t0 = time.monotonic()
        # authority half-step: raw gather + its squared norm on the action
        a_obs = Observation()
        # SHUFFLE_HASH on the state side: the checkpointed score frame has
        # unknown stats (ExistingRDD) — without the hint AQE can broadcast-
        # build the persisted EDGE side each half-step; with it the O(n)
        # scores shuffle and the cached pre-partitioned arcs stream with no
        # exchange.
        auth_raw = (
            by_src.join(
                state.select(F.col("id").alias("src"), "hub").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("auth_raw"))
        )
        a_state = (
            state.select("id", "hub")
            .join(auth_raw, "id", "left")
            .select(
                "id",
                "hub",
                F.coalesce("auth_raw", F.lit(0.0)).alias("auth_raw"),
            )
            .observe(a_obs, F.sum(F.col("auth_raw") ** 2).alias("sq"))
            .transform(checkpoint_state)
        )
        a_norm = float(a_obs.get["sq"] or 0.0) ** 0.5
        if a_norm == 0.0:
            break  # no arcs: keep the initial state
        # hub half-step over scalar-normalized authorities; the squared
        # norm AND ⟨raw, old⟩ ride the same action for the L2 delta
        h_obs = Observation()
        hub_raw = (
            by_dst.join(
                a_state.select(
                    F.col("id").alias("dst"),
                    (F.col("auth_raw") / a_norm).alias("auth"),
                ).hint("shuffle_hash"),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("hub_raw"))
        )
        h_state = (
            a_state.select(
                "id", "hub", (F.col("auth_raw") / a_norm).alias("auth")
            )
            .join(hub_raw, "id", "left")
            .select(
                "id",
                "hub",
                "auth",
                F.coalesce("hub_raw", F.lit(0.0)).alias("hub_raw"),
            )
            .observe(
                h_obs,
                F.sum(F.col("hub_raw") ** 2).alias("sq"),
                F.sum(F.col("hub_raw") * F.col("hub")).alias("dot"),
            )
            .transform(checkpoint_state)
        )
        h_norm = float(h_obs.get["sq"] or 0.0) ** 0.5
        if h_norm == 0.0:
            break
        dot = float(h_obs.get["dot"] or 0.0)
        # ||raw/h − old||² = 1 − 2·dot/h + 1 (both unit vectors)
        delta = max(0.0, 2.0 - 2.0 * dot / h_norm) ** 0.5
        state = h_state.select(
            "id", (F.col("hub_raw") / h_norm).alias("hub"), "auth"
        )
        result.deltas.append(delta)
        result.iter_seconds.append(time.monotonic() - t0)
        result.iterations = it + 1
        if delta < tol:
            result.converged = True
            break
    by_dst.unpersist()
    by_src.unpersist()
    result.scores = state.select("id", "hub", "auth")
    return result
