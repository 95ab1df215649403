"""Block-vector PageRank on the shared fixpoint engine.

Rank state is one dense vector per CSR block (:mod:`webgraph_spark.plans
.blockvec`), next to each node's out-degree, its teleport membership and
the extrapolation snapshot. One iteration:

1. gather, per (src_block, dst_block) pair of the cached slot-form:
   ``r[src] / deg[src]`` per edge, scattered into ONE partial per pair —
   a dense vector when the pair's edges fill at least ``DENSE_THRESHOLD``
   of the destination span, else (slots, vals) sparse arrays, so the
   shuffle stays ≤ min(dense, sparse) at any block count;
2. fold: sum the partials, apply teleport + dangling mass, and write the
   block's L1 delta and non-dangling mass (Σ rank over ``deg > 0``) as
   columns; their global sums ride the eager checkpoint as observed
   metrics.

The teleport + dangling term of iteration t comes from the non-dangling
mass observed at the end of iteration t-1 — a driver scalar that rides the
shared state frame as a column (north_star: driver broadcast), so an
iteration stays three Spark jobs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.algo.pagerank import PageRankResult
from webgraph_spark.plans.blockvec import BlockSpec, fixpoint
from webgraph_spark.plans.csr import CsrGraph

_STRIDE = 6  # extrapolation stride: kills modes with lambda^6 = alpha^6

# a block pair whose edges cover at least this fraction of the destination
# span ships a dense partial vector; sparser pairs ship (slots, vals)
DENSE_THRESHOLD = 0.05


def _gather(st, ss, ds):
    vals = st["ranks"][ss] / st["deg"][ss]
    if ds.size >= DENSE_THRESHOLD * (int(ds.max()) + 1):
        return None, np.bincount(ds, weights=vals).tobytes()
    # sparse pair: pre-combine duplicates, emit (slots, vals)
    uniq, inv = np.unique(ds, return_inverse=True)
    return uniq.astype(np.int32).tobytes(), np.bincount(inv, weights=vals).tobytes()


def _fold_factory(alpha: float):
    def fold(st, parts):
        mask, tele, old = st["mask"], st["tele"], st["ranks"]
        acc = np.zeros(old.size)
        for slots, vals in zip(parts.column("slots"), parts.column("vals")):
            vals = np.frombuffer(vals.as_py(), dtype=np.float64)
            if slots.is_valid:
                np.add.at(acc, np.frombuffer(slots.as_py(), np.int32), vals)
            else:
                acc[: vals.size] += vals
        new = mask * (alpha * acc) + tele * st["__base"]
        out = {}
        if st["__extrap"]:
            # A_{alpha^s} power extrapolation (stride s = 6; Kamvar et al.
            # 2003 generalized): the Google matrix's subdominant spectrum
            # has modulus <= alpha, with the bulk EXACTLY at alpha times a
            # low-order root of unity (2-cycles, layered 3-cycles), so
            #   x* = (x_k - alpha^s x_{k-s}) / (1 - alpha^s)
            # annihilates every mode with lambda^s = alpha^s while scaling
            # any other mode by |lambda^s - alpha^s|/(1 - alpha^s) <=
            # 2 alpha^s/(1-alpha^s)  (~1.2 at alpha=.85, s=6) — it can slow
            # an iteration slightly but can never diverge. The fixed point
            # is unchanged and mass is preserved. x_{k-s} comes from the
            # snapshot taken s iterations earlier via the __snap flag.
            a_s = alpha ** _STRIDE
            new = mask * ((new - a_s * st["prev"]) / (1.0 - a_s))
        if st["__snap"]:
            out["prev"] = new
        out["ranks"] = new
        out["block_delta"] = float(np.abs(new - old).sum())
        out["block_nd"] = float((new * (st["deg"] > 0)).sum())
        return out

    return fold


def pagerank_block(
    spark: SparkSession,
    csr: CsrGraph,
    nodes: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 200,
    extrapolate: bool | int | None = None,
    checkpointer=None,
    initial_state: DataFrame | None = None,
    start_iteration: int = 0,
    initial: DataFrame | None = None,
    teleport: DataFrame | None = None,
) -> PageRankResult:
    """CSR block-vector PageRank to convergence (L1 delta < tol).

    ``nodes`` is the full node table ``(id)``, dangling nodes included; it
    must cover every edge endpoint (``ValueError`` otherwise).

    ``teleport`` ``(id)`` restricts the teleport (and dangling) mass to that
    node set, uniformly — personalized PageRank; default all nodes. The
    cold start is the teleport distribution. ``initial`` ``(id, rank)``
    warm-starts from a previous rank vector; nodes it misses start cold.
    ``checkpointer`` saves every iteration's block state, and
    ``initial_state``/``start_iteration`` resume from one.

    ``extrapolate=True`` enables ADAPTIVE A_{alpha^6} power extrapolation
    (Kamvar et al. 2003, generalized to stride 6): when the driver-observed
    L1 contraction ratio sits at ~alpha (the error is dominated by modes of
    modulus alpha — the real alpha mode plus the alpha·root-of-unity modes
    of 2-/3-periodic link structure), a snapshot is armed and, six
    iterations later, ``x* = (x_k − alpha^6 x_{k−6}) / (1 − alpha^6)``
    annihilates all lambda^6 = alpha^6 modes in one linear shot. The
    trigger matters: on fast-mixing graphs (ratio ≪ alpha) extrapolation
    with a 6-stale iterate AMPLIFIES small modes by ~(alpha/λ)^6, so it
    only fires while the measured ratio stays within 3% of alpha. The
    fixed point is unchanged either way, and the L1 < tol stop criterion
    still measures a genuine successive-iterate delta. Leave ``None`` for
    fixed-iteration runs that must match a term-by-term oracle.
    """
    n = nodes.count()
    ids = nodes.select("id")
    if teleport is None:
        n_t = n
        tagged = ids.withColumn("tele", F.lit(1))
    else:
        tele = teleport.select("id").distinct().withColumn("tele", F.lit(1))
        tagged = ids.join(tele, "id", "left").na.fill({"tele": 0})
        n_t = tagged.filter(F.col("tele") == 1).count()

    if initial_state is not None:
        # the checkpointed state carries the non-dangling mass the next
        # iteration's teleport term needs
        non_dangling = float(
            initial_state.agg(F.sum("block_nd")).collect()[0][0] or 0.0
        )
    else:
        deg = csr.blocks.select(
            F.explode(F.arrays_zip("srcs", "degs")).alias("s")
        ).select(
            F.col("s.srcs").alias("id"), F.col("s.degs").cast("double").alias("deg")
        )
        cold = F.when(F.col("tele") == 1, F.lit(1.0 / n_t)).otherwise(0.0)
        tagged = tagged.join(deg, "id", "left").na.fill({"deg": 0.0})
        if initial is not None:
            tagged = tagged.join(initial.select("id", "rank"), "id", "left")
            cold = F.coalesce("rank", cold)
        tagged = tagged.withColumns({"ranks": cold, "prev": F.lit(0.0)}).persist()
        if initial is None:
            has_out = (F.col("deg") > 0) & (F.col("tele") == 1)
            non_dangling = tagged.filter(has_out).count() / n_t
        else:
            non_dangling = float(
                tagged.agg(F.sum(F.when(F.col("deg") > 0, F.col("ranks"))))
                .collect()[0][0] or 0.0
            )

    armed_at: int | None = None

    def scalars(records):
        # adaptive A_{alpha^6}: arm a snapshot while the L1 contraction
        # ratio sits at ~alpha; fire the extrapolation exactly _STRIDE
        # iterations later if it still does (see docstring)
        nonlocal armed_at
        it = len(records)
        nd = records[-1].metrics["block_nd"] if records else non_dangling
        d = [r.metrics["block_delta"] for r in records]
        alpha_dominated = (
            len(d) >= 3
            and d[-2] > 0
            and d[-3] > 0
            and abs(d[-1] / d[-2] - alpha) < 0.03 * alpha
            and abs(d[-2] / d[-3] - alpha) < 0.03 * alpha
        )
        do_snap = bool(extrapolate) and armed_at is None and alpha_dominated
        do_extrap = (
            bool(extrapolate)
            and armed_at is not None
            and it == armed_at + _STRIDE
            and alpha_dominated
        )
        if do_snap:
            armed_at = it
        if armed_at is not None and it >= armed_at + _STRIDE:
            armed_at = None  # fired or gone stale — re-arm on next signal
        base = (1.0 - alpha) / n_t + alpha * (1.0 - nd) / n_t
        return {"__base": base, "__extrap": int(do_extrap), "__snap": int(do_snap)}

    spec = BlockSpec(
        value="ranks",
        vectors={"tele": "int8", "deg": "float64", "ranks": "float64",
                 "prev": "float64"},
        metrics={"block_delta": "double", "block_nd": "double"},
        partials=("slots", "vals"),
        gather=_gather,
        fold=_fold_factory(alpha),
        stop=lambda m: m["block_delta"] < tol,
        scalars=scalars,
    )
    run = fixpoint(
        spark, csr, spec, tagged, max_iter, checkpointer=checkpointer,
        initial_state=initial_state, start_iteration=start_iteration,
    )
    tagged.unpersist()  # the init state it fed is checkpointed eagerly
    return PageRankResult(
        ranks=run.explode("rank"),
        iterations=run.iterations,
        deltas=run.metric("block_delta"),
        iter_seconds=run.iter_seconds,
        converged=run.converged,
    )
