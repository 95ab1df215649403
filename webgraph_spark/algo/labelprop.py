"""Synchronous label propagation with deterministic min tie-break.

Not in the reference (no label propagation anywhere in /root/reference);
semantics fixed for exact reproducibility (north_rule): at each round every
node simultaneously takes the most frequent label among its in-neighbours
over the symmetrized graph; ties broken by the smallest label; nodes with no
neighbours keep their label. Deterministic given (graph, max_iter).

Scale-path note (round 4): the DESIGNATED scale path for LPA is the
bit-identical block-vector kernel (:mod:`webgraph_spark.algo.labelprop_block`,
on the fixpoint engine shared with PageRank and CC,
:mod:`webgraph_spark.plans.blockvec` — measured N→4N efficiency 1.01 at
113.7M edges under the pinned protocol, vs 0.695 for this row kernel at the
same size; docs/SCALING.md §7b). This kernel stays as the small-graph/ad-hoc
path, the differential-test twin, and the oracle surface.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webgraph_spark.plans.iterate import checkpoint_state


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id, label)
    iterations: int
    changed_per_iter: list[int] = field(default_factory=list)
    iter_seconds: list[float] = field(default_factory=list)


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 20,
    checkpointer=None,
    initial: DataFrame | None = None,
    start_iteration: int = 0,
) -> LabelPropResult:
    """Synchronous LPA. Stops at fixpoint or after ``max_iter`` rounds
    (synchronous LPA can 2-cycle on bipartite structure — the cap is part of
    the deterministic contract, mirrored by the fixed-iteration SQL oracle).
    """
    from webgraph_spark.plans.partitioning import symmetrize_for_join

    sym = symmetrize_for_join(edges, "src").persist()
    sym.count()
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    nodes = nodes.select("id").persist()
    n_nodes = nodes.count()
    labels = (
        initial.select("id", "label")
        if initial is not None
        else nodes.withColumn("label", F.col("id"))
    ).transform(checkpoint_state)

    changed_set = labels.select("id")  # first round: everyone "changed"
    changed = n_nodes  # first round: everyone "changed"
    result = LabelPropResult(labels=labels, iterations=start_iteration)
    for it in range(start_iteration, max_iter):
        t0 = time.monotonic()
        # Affected-set restriction: a node's mode can only change if at
        # least one in-neighbour's label changed last round, so recompute
        # the vote ONLY for dsts adjacent to the changed set (the mode still
        # needs ALL their neighbours' labels — LPA is not monotone like
        # hash-min, so the restriction is on which dsts recompute, not on
        # which sources send). The restriction costs two extra exchanges of
        # the edge set (the semi-join key is dst, not sym's partition key),
        # so apply it only once the changed set is small — in early rounds
        # nearly every node flips and the "restricted" vote is the full
        # vote plus two wasted shuffles.
        if changed > n_nodes // 5:
            vote_edges = sym
        else:
            affected = (
                sym.join(
                    changed_set.withColumnRenamed("id", "src"), "src", "leftsemi"
                )
                .select("dst")
                .distinct()
            )
            vote_edges = sym.join(affected, "dst", "leftsemi")
        # winner per dst via two-phase count + max(struct): most frequent
        # label, ties to the LOWEST value (the struct (count, -label) is
        # unique per label, so the max is deterministic). NOT F.mode: its
        # TypedImperativeAggregate buffer is catastrophic under the eager
        # localCheckpoint job that closes each round — 34 s vs 2.3 s for
        # this exact iteration-1 plan at sf0.1 (the count()-based A/B that
        # originally picked mode() hid the regression; the checkpoint action
        # is the one that matters). NOT max_by(label, struct): partial_max_by
        # over a struct ordering plans as SortAggregate — a full sort of the
        # (dst,label) rows every round — where max over a struct is
        # declarative (greatest) and hash-aggregates with map-side partials.
        # The SHUFFLE_HASH hint on the labels side keeps the join shape
        # scale-correct at every size: labels (O(state), changes every
        # round) shuffles to sym's HashPartitioning(src) and builds the
        # per-partition hash table; the persisted edge side streams with NO
        # exchange. Without the hint, AQE broadcast-builds the EDGE side —
        # re-collecting and re-broadcasting the whole graph every iteration.
        # Self-row fusion: the old-label back-join (labels ⋈ winner by id —
        # an O(n) exchange of labels plus a join build per round) is folded
        # into the vote aggregation. Each node's state row enters the
        # (id, label) count as a tagged self row that contributes ZERO votes
        # (count counts only __s=0 rows) but marks which label is the
        # node's current one; the second aggregate then produces the vote
        # winner (max over labels with at least one real vote) AND the
        # carried old label in one pass, making the update + changed flag a
        # projection. Nodes with no (recomputed) votes — isolated nodes, or
        # unaffected dsts under the restriction — have only their self row
        # and keep their label via the coalesce. Per round: 3 exchanges
        # (labels by src, partials by (id,label), partials by id) and 1
        # join, versus 4 and 2 for the join-back formulation.
        # NOT a 2-exchange round: an earlier revision inserted one explicit
        # repartition(p, id) after the gather so both groupBys ran
        # exchange-free (2 exchanges + 2 stage floors per round) — faster at
        # sf0.1-ish sizes where the per-stage launch floor dominates
        # (28.4M edges, 8 cores: 10.2 s vs 13.8 s per round), but the
        # repartition moves the RAW vote rows where groupBy(id, label)
        # map-side combines them first, and once labels collapse (round 2+)
        # the combined exchange is several-fold smaller. Measured under the
        # pinned two-level protocol at 113.7M edges the raw-exchange round
        # shape halved 8-core throughput (96.4 s/iter vs 52.2 s/iter) and
        # dropped N→4N efficiency 0.695 → 0.419 — the per-stage floor it
        # saved is exactly the term that vanishes at real scale, while the
        # partial-aggregation bytes it gave up are the term that grows.
        # Partial-agg formulation kept; exchange bytes are the currency.
        gather = vote_edges.join(
            labels.hint("shuffle_hash"), F.col("src") == labels["id"]
        ).select(F.col("dst").alias("id"), "label", F.lit(0).alias("__s"))
        self_rows = labels.select("id", "label", F.lit(1).alias("__s"))
        counted = (
            gather.unionByName(self_rows)
            .groupBy("id", "label")
            .agg(
                F.count(F.when(F.col("__s") == 0, 1)).alias("__c"),
                F.max("__s").alias("__self"),
            )
        )
        # changed flag computed in the same aggregate/select that applies
        # the update; the changed-count rides on the eager checkpoint job as
        # an observed metric — ONE action per round.
        obs = Observation()
        updated = (
            counted.groupBy("id")
            .agg(
                F.max(
                    F.when(
                        F.col("__c") > 0,
                        F.struct(F.col("__c"), (-F.col("label")).alias("__n")),
                    )
                ).alias("__m"),
                F.max(F.when(F.col("__self") == 1, F.col("label"))).alias(
                    "__old"
                ),
            )
            .select(
                "id",
                F.coalesce(-F.col("__m.__n"), F.col("__old")).alias("label"),
                (F.coalesce(-F.col("__m.__n"), F.col("__old")) != F.col("__old"))
                .cast("int")
                .alias("__ch"),
            )
            .observe(obs, F.sum("__ch").alias("c"))
            .transform(checkpoint_state)
        )
        changed = int(obs.get["c"] or 0)
        new_labels = updated.select("id", "label")
        changed_set = updated.filter(F.col("__ch") == 1).select("id")
        wall = time.monotonic() - t0
        result.changed_per_iter.append(changed)
        result.iter_seconds.append(wall)
        result.iterations = it + 1
        if checkpointer is not None:
            checkpointer.save_iteration(
                new_labels, it + 1, wall_s=wall, delta=float(changed)
            )
        labels = new_labels
        if changed == 0:
            break
    result.labels = labels
    return result
