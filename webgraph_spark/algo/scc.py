"""Strongly connected components by iterative forward-min coloring.

Reference: ``algo/StronglyConnectedComponents.java:70-218`` (sequential
iterative Tarjan). Tarjan's DFS stack does not distribute; the standard
distributed reformulation (Orzan's coloring / FW-BW-min) is used instead —
outputs are identical as a partition of the vertex set, and component labels
here are canonical (min member id), so results are exactly reproducible.

One outer round:

1. **Forward coloring**: ``col(x) = min id that reaches x`` via hash-min
   propagated along arc direction to fixpoint (systolic: only colors that
   changed last round are re-sent).
2. **Roots**: nodes with ``col(x) == x``. Root r's SCC is exactly
   ``{x : col(x) = r, x reaches r}``, and r is its minimum member.
3. **Backward containment**: BFS from the roots along REVERSED arcs,
   restricted to arcs whose endpoints share a color; every node reached
   is assigned ``scc = col``.
4. Peel assigned nodes off and repeat on the remainder.

Each round settles at least one SCC per color class; typical graphs finish
in a handful of rounds (a long chain of SCCs degrades to O(chain) rounds —
acceptable: the reference is O(n) sequential anyway).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webgraph_spark.plans.iterate import checkpoint_state

from webgraph_spark.plans.partitioning import partition_for_join


@dataclass
class SccResult:
    components: DataFrame  # (id, comp) — comp = min member id of the SCC
    rounds: int = 0
    iter_seconds: list[float] = field(default_factory=list)


def _forward_min_coloring(edges: DataFrame, nodes: DataFrame, max_iter: int) -> DataFrame:
    # systolic: colors only decrease — changed nodes alone need to send
    # (same argument as hash-min CC / HyperBall's systolic mode)
    col = (
        nodes.withColumn("col", F.col("id"))
        .withColumn("__ch", F.lit(1))
        .transform(checkpoint_state)
    )
    for _ in range(max_iter):
        # SHUFFLE_HASH on the state side: checkpointed color state has
        # unknown stats (ExistingRDD), so without the hint AQE broadcast-
        # builds the persisted edge side every round; with it the
        # O(changed) sender set shuffles and the pre-partitioned edges
        # stream with no exchange.
        # Self-row fusion: state rows ride
        # into the gather aggregation as tagged self rows instead of being
        # joined back afterwards — one hash aggregate yields the neighbour
        # min AND the carried old color, saving an O(n) exchange of the
        # state plus a join build per round.
        gather = edges.join(
            col.filter(F.col("__ch") == 1).hint("shuffle_hash"),
            edges["src"] == col["id"],
        ).select(
            F.col("dst").alias("id"),
            F.col("col").alias("__v"),
            F.lit(0).alias("__s"),
        )
        self_rows = col.select(
            "id", F.col("col").alias("__v"), F.lit(1).alias("__s")
        )
        obs = Observation()
        updated = (
            gather.unionByName(self_rows)
            .groupBy("id")
            .agg(
                F.min(F.when(F.col("__s") == 0, F.col("__v"))).alias("__nm"),
                F.min(F.when(F.col("__s") == 1, F.col("__v"))).alias("__old"),
            )
            .select(
                "id",
                F.least("__old", "__nm").alias("col"),
                (F.col("__nm") < F.col("__old")).cast("int").alias("__ch"),
            )
            .observe(obs, F.sum("__ch").alias("c"))
            .transform(checkpoint_state)
        )
        changed = int(obs.get["c"] or 0)
        col = updated
        if changed == 0:
            break
    return col.select("id", "col")


def strongly_connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_rounds: int = 64,
    max_color_iter: int = 128,
) -> SccResult:
    """(id, comp) with comp = min member id; exact, deterministic."""
    edges = partition_for_join(edges.select("src", "dst"), "src").persist()
    edges.count()
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    remaining_nodes = nodes.select("id").transform(checkpoint_state)
    remaining_edges = edges
    result = SccResult(components=None)
    assigned_parts: list[DataFrame] = []

    for rnd in range(max_rounds):
        t0 = time.monotonic()
        if remaining_nodes.isEmpty():
            break
        col = _forward_min_coloring(
            remaining_edges, remaining_nodes, max_color_iter
        ).persist()
        # color-respecting reversed arcs
        cs = col.select(F.col("id").alias("src"), F.col("col").alias("__cs"))
        cd = col.select(F.col("id").alias("dst"), F.col("col").alias("__cd"))
        same_col_rev = partition_for_join(
            remaining_edges.join(cs, "src")
            .join(cd, "dst")
            .filter(F.col("__cs") == F.col("__cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            "src",
        ).persist()
        roots = col.filter(F.col("id") == F.col("col")).select("id", "col")
        visited = roots.transform(checkpoint_state)
        frontier = visited
        while True:
            # one action per level: the frontier count rides the eager
            # checkpoint as an observed metric (same pattern as
            # components.py / bfs.py — no separate isEmpty job), and
            # ``visited`` stays a lazy union of already-checkpointed level
            # frames (re-checkpointing the growing union each level would
            # re-copy all visited rows per level).
            obs = Observation()
            nxt = (
                same_col_rev.join(
                    frontier.hint("shuffle_hash"),
                    same_col_rev["src"] == frontier["id"],
                )
                .select(F.col("dst").alias("id"), F.col("col"))
                .distinct()
                .join(
                    visited.select("id").hint("shuffle_hash"), "id", "left_anti"
                )
                .observe(obs, F.count(F.lit(1)).alias("c"))
                .transform(checkpoint_state)
            )
            if int(obs.get["c"] or 0) == 0:
                break
            visited = visited.unionByName(nxt)
            frontier = nxt
        part = visited.select("id", F.col("col").alias("comp"))
        assigned_parts.append(part)
        remaining_nodes = (
            remaining_nodes.join(part.select("id"), "id", "left_anti")
            .transform(checkpoint_state)
        )
        remaining_edges = (
            remaining_edges.join(
                remaining_nodes.withColumnRenamed("id", "src"), "src", "leftsemi"
            )
            .join(
                remaining_nodes.withColumnRenamed("id", "dst"), "dst", "leftsemi"
            )
            .transform(checkpoint_state)
        )
        col.unpersist()
        same_col_rev.unpersist()
        result.rounds = rnd + 1
        result.iter_seconds.append(time.monotonic() - t0)

    if not assigned_parts:
        # empty graph: no rounds ran — return an empty (id, comp) frame
        spark = edges.sparkSession
        result.components = spark.createDataFrame([], "id long, comp long")
        return result
    out = assigned_parts[0]
    for p in assigned_parts[1:]:
        out = out.unionByName(p)
    result.components = out
    return result


def scc_condensation(edges: DataFrame, components: DataFrame) -> DataFrame:
    """Condensation DAG: arcs between distinct SCCs (``(comp_src, comp_dst)``),
    the structure the reference's bucket analysis walks
    (``StronglyConnectedComponents.java`` buckets = terminal components)."""
    cs = components.select(F.col("id").alias("src"), F.col("comp").alias("comp_src"))
    cd = components.select(F.col("id").alias("dst"), F.col("comp").alias("comp_dst"))
    return (
        edges.join(cs, "src")
        .join(cd, "dst")
        .filter(F.col("comp_src") != F.col("comp_dst"))
        .select("comp_src", "comp_dst")
        .dropDuplicates(["comp_src", "comp_dst"])
    )


def terminal_components(edges: DataFrame, components: DataFrame) -> DataFrame:
    """SCCs with no outgoing arc in the condensation — the reference's
    'buckets' (terminal non-dangling components)."""
    cond = scc_condensation(edges, components)
    all_comps = components.select("comp").distinct()
    return all_comps.join(
        cond.select(F.col("comp_src").alias("comp")).distinct(),
        "comp",
        "left_anti",
    )
