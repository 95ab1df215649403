"""Synchronous label propagation with deterministic min tie-break.

Not in the reference (no label propagation anywhere in /root/reference);
semantics fixed for exact reproducibility (north_rule): at each round every
node simultaneously takes the most frequent label among its in-neighbours
over the symmetrized graph; ties broken by the smallest label; nodes with no
neighbours keep their label. Deterministic given (graph, max_iter).

One LPA kernel: :func:`webgraph_spark.algo.labelprop_block
.label_propagation_block`, on the block-vector fixpoint engine shared with
PageRank and CC (:mod:`webgraph_spark.plans.blockvec`).
:func:`label_propagation` is its edge-level entry point.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


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
    initial: DataFrame | None = None,
) -> LabelPropResult:
    """Synchronous LPA. Stops at fixpoint or after ``max_iter`` rounds
    (synchronous LPA can 2-cycle on bipartite structure — the cap is part of
    the deterministic contract, mirrored by the fixed-iteration SQL oracle).

    ``nodes`` defaults to every edge endpoint and must cover them all;
    ``initial`` is an ``(id, label)`` warm start (nodes it misses start from
    their own id). Node ids must be dense, as for
    :func:`webgraph_spark.algo.components.hash_min_components`. Caches
    nothing past the call.
    """
    from webgraph_spark.algo.labelprop_block import label_propagation_block
    from webgraph_spark.plans.blockvec import symmetric_graph

    with symmetric_graph(edges, nodes) as (graph, nodes):
        return label_propagation_block(
            edges.sparkSession, graph, nodes, max_iter=max_iter, initial=initial
        )
