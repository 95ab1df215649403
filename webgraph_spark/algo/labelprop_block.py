"""Block-vector label propagation: label state as per-block dense vectors.

The one LPA kernel. It runs on the shared block-vector engine
(:mod:`webgraph_spark.plans.blockvec`) over a CSR of the SYMMETRIZED graph:

- gather: source labels by slot, and the (dst_slot, label) votes of each
  block pair PRE-COMBINED with one lexsort — one compact binary row per
  block pair (slots + labels + counts), never one row per edge. Shuffle
  bytes are bounded by the DISTINCT (dst, label) pairs per source block,
  which start ≤ m and collapse as labels coalesce (the whole point of LPA).
- fold: merge the partial counts (one lexsort over the concatenated
  triples), pick each slot's winner (max count, ties to the LOWEST label —
  the same deterministic rule as the SQL oracle and ``tests.oracles
  .lpa_sync``), keep the old label where no vote arrived, and count changed
  live slots.

Votes are integer counts, so there is no float-order hazard at all. The
edge-level entry point :func:`webgraph_spark.algo.labelprop
.label_propagation` lays the edge list out as a
:class:`webgraph_spark.plans.blockvec.SymmetricGraph` and runs this kernel;
this kernel owns checkpoint/resume.

Under the pinned two-level protocol of earlier rounds it measured scaling
efficiency 1.01 at 113.7M edges (``BENCH_SCALING.json``
``fixpoint_suite.lpa_block``, 2 interleaved reps; docs/SCALING.md §7b).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.algo.labelprop import LabelPropResult
from webgraph_spark.plans.blockvec import BlockSpec, fixpoint
from webgraph_spark.plans.csr import CsrGraph


def _combine_votes(ds: np.ndarray, lab: np.ndarray, cnt: np.ndarray):
    """Sum counts over equal (slot, label) pairs; returns sorted triples
    (slot asc, label asc within slot)."""
    order = np.lexsort((lab, ds))
    ds, lab, cnt = ds[order], lab[order], cnt[order]
    if ds.size == 0:
        return ds, lab, cnt
    new_run = np.empty(ds.size, dtype=bool)
    new_run[0] = True
    np.not_equal(ds[1:], ds[:-1], out=new_run[1:])
    np.logical_or(new_run[1:], lab[1:] != lab[:-1], out=new_run[1:])
    starts = np.flatnonzero(new_run)
    sums = np.add.reduceat(cnt.astype(np.int64), starts)
    return ds[starts], lab[starts], sums


def _gather(st, ss, ds):
    u_ds, u_lab, u_cnt = _combine_votes(
        ds, st["labels"][ss], np.ones(ds.size, dtype=np.int32)
    )
    return (
        u_ds.astype(np.int32).tobytes(),
        u_lab.astype(np.int64).tobytes(),
        u_cnt.astype(np.int64).tobytes(),
    )


def _fold(st, parts):
    old, new, changed = st["labels"], st["labels"], 0
    if parts.num_rows:
        ds, lab, cnt = (
            np.concatenate(
                [np.frombuffer(v.as_py(), dtype=dtype) for v in parts.column(c)]
            )
            for c, dtype in (("slots", np.int32), ("labs", np.int64),
                             ("cnts", np.int64))
        )
        ds, lab, cnt = _combine_votes(ds, lab, cnt)
        # winner per slot: max count, ties to the LOWEST label — sort by
        # (slot asc, count desc, label asc), take each slot's first
        order = np.lexsort((lab, -cnt, ds))
        ds, lab = ds[order], lab[order]
        first = np.empty(ds.size, dtype=bool)
        first[0] = True
        np.not_equal(ds[1:], ds[:-1], out=first[1:])
        new = old.copy()
        new[ds[first]] = lab[first]
        changed = int(np.count_nonzero((new != old) & (st["mask"] > 0)))
    return {"labels": new, "block_changed": changed}


def label_propagation_block(
    spark: SparkSession,
    csr_sym: CsrGraph,
    nodes: DataFrame,
    max_iter: int = 20,
    initial: DataFrame | None = None,
    checkpointer=None,
    initial_state: DataFrame | None = None,
    start_iteration: int = 0,
) -> LabelPropResult:
    """Synchronous LPA over a CSR of the SYMMETRIZED loop-free graph.

    ``csr_sym`` is a :class:`webgraph_spark.plans.blockvec.SymmetricGraph`
    or a CSR built from the symmetrized edge set (both directions present,
    duplicates removed) — the caller owns that contract; see
    :func:`webgraph_spark.plans.partitioning.symmetrize_for_join`. ``nodes``
    must cover every edge endpoint (``ValueError`` otherwise). Stops at
    fixpoint or after ``max_iter`` rounds.
    """
    values = nodes.select("id")
    if initial is not None:
        # nodes missing from a partial `initial` keep their id as the label;
        # without the coalesce the NULL would cast to INT64_MIN in the
        # kernel and win every min tie-break
        values = values.join(initial.select("id", "label"), "id", "left")
        values = values.select("id", F.coalesce("label", "id").alias("labels"))
    else:
        values = values.select("id", F.col("id").alias("labels"))
    spec = BlockSpec(
        value="labels",
        vectors={"labels": "int64"},
        metrics={"block_changed": "long"},
        partials=("slots", "labs", "cnts"),
        gather=_gather,
        fold=_fold,
        stop=lambda m: m["block_changed"] == 0,
    )
    run = fixpoint(
        spark, csr_sym, spec, values, max_iter, checkpointer=checkpointer,
        initial_state=initial_state, start_iteration=start_iteration,
    )
    return LabelPropResult(
        labels=run.explode("label"),
        iterations=run.iterations,
        changed_per_iter=run.metric("block_changed"),
        iter_seconds=run.iter_seconds,
    )
