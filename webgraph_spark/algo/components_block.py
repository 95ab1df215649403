"""Block-vector connected components: hash-min as a min-SpMV over CSR.

The one hash-min kernel (semantics after ``ConnectedComponents.java:69-173``):
the synchronous fixpoint component label = min over own label and all
neighbours' labels, per round, over the symmetrized graph, on the shared
block-vector engine (:mod:`webgraph_spark.plans.blockvec`):

- gather: source labels by slot, PRE-COMBINED per destination slot with one
  ``np.minimum.reduceat`` after a slot sort — at most one (slot, min) entry
  per distinct destination per block pair, binary-packed;
- fold: ``new = minimum(old, incoming)``, counting changed live slots; the
  run stops when no label changes.

Exact integer minima; the fixpoint is the min node id per component
(differential-tested against union-find). Rounds are O(diameter) like any
hash-min. The edge-level entry point
:func:`webgraph_spark.algo.components.hash_min_components` lays the edge list
out as a :class:`webgraph_spark.plans.blockvec.SymmetricGraph`, runs this
kernel and owns the large-star/small-star finish for pathological diameters;
this kernel owns checkpoint/resume.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.algo.components import ComponentsResult
from webgraph_spark.plans.blockvec import BlockSpec, fixpoint
from webgraph_spark.plans.csr import CsrGraph


def _min_per_slot(ds: np.ndarray, vals: np.ndarray):
    """(slots, per-slot minimum) over (slot, value) pairs."""
    order = np.argsort(ds, kind="stable")
    ds, vals = ds[order], vals[order]
    first = np.empty(ds.size, dtype=bool)
    first[0] = True
    np.not_equal(ds[1:], ds[:-1], out=first[1:])
    starts = np.flatnonzero(first)
    return ds[starts], np.minimum.reduceat(vals, starts)


def _gather(st, ss, ds):
    slots, mins = _min_per_slot(ds, st["comps"][ss])
    return slots.astype(np.int32).tobytes(), mins.astype(np.int64).tobytes()


def _fold(st, parts):
    old, new, changed = st["comps"], st["comps"], 0
    if parts.num_rows:
        # one combine over all incoming partials, then a single vectorized
        # fold — np.minimum.at is an order of magnitude slower than the
        # sort + reduceat path on large slot arrays
        slots = np.concatenate(
            [np.frombuffer(v.as_py(), dtype=np.int32) for v in parts.column("slots")]
        )
        mins = np.concatenate(
            [np.frombuffer(v.as_py(), dtype=np.int64) for v in parts.column("mins")]
        )
        u_slots, u_mins = _min_per_slot(slots, mins)
        new = old.copy()
        new[u_slots] = np.minimum(old[u_slots], u_mins)
        changed = int(np.count_nonzero((new != old) & (st["mask"] > 0)))
    return {"comps": new, "block_changed": changed}


def hash_min_components_block(
    spark: SparkSession,
    csr_sym: CsrGraph,
    nodes: DataFrame,
    max_iter: int = 200,
    checkpointer=None,
    initial_state: DataFrame | None = None,
    start_iteration: int = 0,
) -> ComponentsResult:
    """Hash-min CC over a CSR of the SYMMETRIZED loop-free graph.

    ``csr_sym`` is a :class:`webgraph_spark.plans.blockvec.SymmetricGraph`
    or a CSR built from the symmetrized edge set (see
    :func:`webgraph_spark.plans.partitioning.symmetrize_for_join`); the
    caller owns that contract. ``nodes`` must cover every edge endpoint
    (``ValueError`` otherwise). Converges when no label changes.
    """
    spec = BlockSpec(
        value="comps",
        vectors={"comps": "int64"},
        metrics={"block_changed": "long"},
        partials=("slots", "mins"),
        gather=_gather,
        fold=_fold,
        stop=lambda m: m["block_changed"] == 0,
    )
    run = fixpoint(
        spark, csr_sym, spec, nodes.select("id", F.col("id").alias("comps")),
        max_iter, checkpointer=checkpointer, initial_state=initial_state,
        start_iteration=start_iteration,
    )
    return ComponentsResult(
        components=run.explode("comp"),
        iterations=run.iterations,
        changed_per_iter=run.metric("block_changed"),
        iter_seconds=run.iter_seconds,
    )
