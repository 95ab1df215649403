"""HyperBall-lite: HyperLogLog ball sizes, neighbourhood function, and
geometric centralities as an iterative DataFrame job.

Reference: ``algo/HyperBall.java:222`` — per-node HLL counters; each
iteration every node takes the register-wise **max** of its successors'
counters merged with its own (``HyperBall.java:913``); convergence when no
register changes (``:1349``). Per-node centralities accumulate from the
per-iteration ball-size increments (``:266-279``): at distance t with
increment Δ_t, harmonic += Δ_t / t, sum_dist += t·Δ_t (closeness = 1/sum_dist,
Lin = reachable² / sum_dist — ``GeometricCentralities.java:184-202`` gives
the exact-BFS analogues used as test oracles).

Spark formulation: state table ``(id, regs binary, est, harmonic,
sum_dist)``; one iteration = edges ⋈ state on dst (gather successors'
counters) unioned with the state itself, ``groupBy(id).applyInPandas`` doing
the numpy register max-merge — vectorized, no per-row Python hashing (node
seeds are hashed once at init by ``xxhash64`` JVM-side). The changed-counter
and NF aggregates ride on the checkpointed result (one extra cheap scan, no
recompute), mirroring how the reference piggybacks ``modified()`` on the
iteration barrier.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webgraph_spark.plans.iterate import checkpoint_state


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _estimate(regs: np.ndarray, m: int) -> np.ndarray:
    """Standard HLL estimate with linear-counting small-range correction.
    ``regs``: (rows, m) uint8."""
    inv = np.power(2.0, -regs.astype(np.float64)).sum(axis=1)
    est = _alpha(m) * m * m / inv
    zeros = (regs == 0).sum(axis=1)
    small = (est <= 2.5 * m) & (zeros > 0)
    with np.errstate(divide="ignore"):
        lc = m * np.log(m / np.maximum(zeros, 1).astype(np.float64))
    return np.where(small, lc, est)


@dataclass
class HyperBallResult:
    state: DataFrame  # (id, regs, est, harmonic, sum_dist)
    nf: list[float] = field(default_factory=list)  # approx N(t), t=0..T
    iterations: int = 0
    converged: bool = False
    iter_seconds: list[float] = field(default_factory=list)


_STATE_SCHEMA = (
    "id long, regs binary, est double, harmonic double, sum_dist double, "
    "changed int"
)


def _schema_with_discounts(disc_names: list[str]) -> str:
    base = "id long, regs binary, est double, harmonic double, sum_dist double"
    for name in disc_names:
        base += f", {name} double"
    return base + ", changed int"


def _merge_factory(m: int, t: int, disc_factors: dict[str, float] | None = None):
    """Partition-wise vectorized register merge.

    Input partitions are hash-partitioned and sorted by (id, is_own desc),
    so each node's rows are contiguous with its own state row first; one
    ``np.maximum.reduceat`` merges every group in the partition at once
    (no per-group Python call — the reference's broadword register max,
    ``HyperBall.java:913``, in numpy form).
    """

    def merge(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if pdf.empty:
            return
        ids = pdf["id"].to_numpy(np.int64)
        regs = np.frombuffer(
            b"".join(pdf["regs"].tolist()), dtype=np.uint8
        ).reshape(len(pdf), m)
        uniq, starts = np.unique(ids, return_index=True)
        # rows arrive sorted by (id, is_own desc): starts index the own rows.
        # A group with NO own row (an edge src absent from `nodes`) would
        # otherwise mint a phantom state row with est_old = 0 — drop it.
        own_first = pdf["is_own"].to_numpy(np.int32)[starts] == 1
        merged = np.maximum.reduceat(regs, starts, axis=0)
        if not own_first.all():
            uniq, starts = uniq[own_first], starts[own_first]
            merged = merged[own_first]
            if uniq.size == 0:
                return
        old = regs[starts]
        changed = (merged != old).any(axis=1).astype(np.int32)
        est_new = _estimate(merged, m)
        est_old = pdf["est"].to_numpy(np.float64)[starts]
        delta = np.maximum(est_new - est_old, 0.0)
        harmonic = pdf["harmonic"].to_numpy(np.float64)[starts] + delta / t
        sum_dist = pdf["sum_dist"].to_numpy(np.float64)[starts] + delta * t
        out = {
            "id": uniq,
            "regs": [r.tobytes() for r in merged],
            "est": est_new,
            "harmonic": harmonic,
            "sum_dist": sum_dist,
        }
        # discounted centralities (HyperBall.java:232-250): each named
        # discount accumulates delta * f(t); f(t) is evaluated driver-side
        # once per iteration and closed over here.
        for name, factor in (disc_factors or {}).items():
            out[name] = pdf[name].to_numpy(np.float64)[starts] + delta * factor
        out["changed"] = changed
        yield pd.DataFrame(out)

    return merge


def hyperball(
    edges: DataFrame,
    nodes: DataFrame,
    log2m: int = 6,
    seed: int = 42,
    max_iter: int = 64,
    weights: DataFrame | None = None,
    discounts: dict | None = None,
    hash_fn: str = "xxhash64",
) -> HyperBallResult:
    """Run to the exact register fixpoint (``modified()==0``) or ``max_iter``.

    ``nf[t]`` approximates the number of pairs within distance <= t;
    ``state.est`` is each node's reachable-set size estimate; ``harmonic``
    and ``sum_dist`` give harmonic/closeness/Lin centralities.

    ``weights``: optional ``(id, weight)`` with NONNEGATIVE INTEGER weights
    (``HyperBall.java:259``): node y counts weight(y) times in every ball —
    realized exactly as the reference does, by inserting weight(y) distinct
    hashed copies of y into its own counter at init. Weight-0 nodes exist
    but contribute no mass. ``est``/``nf``/centralities then measure
    weighted reachable mass.

    ``discounts``: optional ``{name: f}`` of discount functions
    (``HyperBall.java:232-250``): for each, an accumulator column ``name``
    collects ``Σ_t Δ_t · f(t)`` (harmonic centrality is the special case
    ``f(t) = 1/t``). ``f`` is called driver-side once per iteration.

    ``hash_fn="portable"`` seeds the registers from the md5-based 60-bit
    hash (``functions/porthash.py``) of ``"{id}:{k}"`` instead of xxhash64,
    so a DuckDB oracle can replay register indices and ranks (rho =
    trailing zeros + 1 = ``bit_count((h & -h) - 1) + 1`` in SQL) and hence
    the whole NF curve. The merge/estimate kernels are hash-agnostic.
    """
    from webgraph_spark.plans.partitioning import partition_for_join

    m = 1 << log2m
    disc_names = sorted(discounts) if discounts else []
    schema = _schema_with_discounts(disc_names)
    # gather joins on dst every iteration — cache the graph pre-partitioned
    # on dst so only the state table shuffles (see partition_for_join)
    edges = partition_for_join(edges.select("src", "dst"), "dst").persist()
    edges.count()
    spark = edges.sparkSession

    # init: one seeded register per (node, copy) pair, hashed JVM-side;
    # copies realize integer weights (weight 1 = the classic single insert).
    if weights is None:
        seeded = nodes.select("id", F.lit(0).alias("k"))
    else:
        w = nodes.join(weights.select("id", "weight"), "id", "left").na.fill(
            {"weight": 1}
        )
        seeded = w.select(
            "id",
            F.explode_outer(
                F.when(
                    F.col("weight") > 0,
                    F.sequence(F.lit(0), F.col("weight").cast("long") - 1),
                )
            ).alias("k"),
        )
    # null k (weight-0 node) → live=0 row with j=0, h2=0: contributes no
    # register mass but keeps the node's state row. Nulls are resolved
    # JVM-side — h2 is a full 64-bit hash and must never round-trip through
    # pandas' nullable float64.
    live_c = F.col("k").isNotNull().cast("int")
    if hash_fn == "portable":
        from webgraph_spark.functions.porthash import portable_hash60

        key = F.concat(
            F.col("id").cast("string"), F.lit(":"), F.col("k").cast("string")
        )
        j = F.when(
            F.col("k").isNotNull(),
            portable_hash60(key, f"#j{seed}") % F.lit(m),
        ).otherwise(F.lit(0))
        h2 = F.when(
            F.col("k").isNotNull(), portable_hash60(key, f"#h{seed}")
        ).otherwise(F.lit(0))
    else:
        j = F.when(
            F.col("k").isNotNull(),
            F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.col("k")), F.lit(m)),
        ).otherwise(F.lit(0))
        h2 = F.when(
            F.col("k").isNotNull(),
            F.xxhash64(F.lit(seed + 1), F.col("id"), F.col("k")),
        ).otherwise(F.lit(0))

    def init_kernel(pdf_iter):
        pdfs = list(pdf_iter)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if pdf.empty:
            return
        n = len(pdf)
        ids = pdf["id"].to_numpy(np.int64)
        live = pdf["live"].to_numpy(np.int32) == 1
        js = pdf["j"].to_numpy(np.int64)
        h2s = pdf["h2"].to_numpy(np.int64).astype(np.uint64)
        # rho: position of first 1-bit from LSB side + 1 (geometric)
        v = h2s.copy()
        mask = (v != 0) & live
        # count trailing zeros vectorized
        tz = np.zeros(n, dtype=np.int64)
        vv = v.copy()
        for b in (32, 16, 8, 4, 2, 1):
            low = (vv & ((np.uint64(1) << np.uint64(b)) - np.uint64(1))) == 0
            step = mask & low & (tz + b <= 62)
            tz = np.where(step, tz + b, tz)
            vv = np.where(step, vv >> np.uint64(b), vv)
        rho = np.where(mask, tz + 1, np.where(live, 1, 0)).astype(np.uint8)
        # merge copies of the same node: rows sorted by id, reduceat max
        uniq, starts = np.unique(ids, return_index=True)
        regs = np.zeros((n, m), dtype=np.uint8)
        regs[np.arange(n), js] = rho
        regs = np.maximum.reduceat(regs, starts, axis=0)
        g = uniq.size
        est = _estimate(regs, m)
        out = {
            "id": uniq,
            "regs": [r.tobytes() for r in regs],
            "est": est,
            "harmonic": np.zeros(g),
            "sum_dist": np.zeros(g),
        }
        for name in disc_names:
            out[name] = np.zeros(g)
        out["changed"] = np.ones(g, dtype=np.int32)
        yield pd.DataFrame(out)

    state = (
        seeded.select("id", j.alias("j"), h2.alias("h2"), live_c.alias("live"))
        .repartition("id")
        .sortWithinPartitions("id")
        .mapInPandas(init_kernel, schema=schema)
        .transform(checkpoint_state)
    )
    result = HyperBallResult(state=state)
    nf0 = state.agg(F.sum("est")).collect()[0][0]
    result.nf.append(float(nf0))

    for t in range(1, max_iter + 1):
        t0 = time.monotonic()
        own = state.select(
            "id",
            "regs",
            "est",
            "harmonic",
            "sum_dist",
            *disc_names,
            F.lit(1).alias("is_own"),
        )
        # Systolic gather (HyperBall.java:120-135): a successor whose
        # registers did NOT change last iteration contributes nothing new
        # (its registers were already max-merged in), so only changed nodes
        # send messages — the tail iterations touch a shrinking frontier.
        # SHUFFLE_HASH on the state side: the checkpointed register state
        # has unknown stats (ExistingRDD) — without the hint AQE can
        # broadcast-build the cached edge side each iteration, defeating
        # the partition_for_join layout.
        msgs = edges.join(
            state.filter(F.col("changed") == 1).select(
                F.col("id").alias("dst"), "regs"
            ).hint("shuffle_hash"),
            "dst",
        ).select(
            F.col("src").alias("id"),
            "regs",
            F.lit(0.0).alias("est"),
            F.lit(0.0).alias("harmonic"),
            F.lit(0.0).alias("sum_dist"),
            *[F.lit(0.0).alias(name) for name in disc_names],
            F.lit(0).alias("is_own"),
        )
        disc_factors = {
            name: float(discounts[name](t)) for name in disc_names
        }
        obs = Observation()
        merged = (
            own.unionByName(msgs)
            .repartition("id")
            .sortWithinPartitions("id", F.desc("is_own"))
            .mapInPandas(_merge_factory(m, t, disc_factors), schema=schema)
            .observe(
                obs, F.sum("changed").alias("ch"), F.sum("est").alias("nf")
            )
            .transform(checkpoint_state)
        )
        agg = obs.get
        state = merged
        result.state = state
        result.iterations = t
        result.iter_seconds.append(time.monotonic() - t0)
        result.nf.append(float(agg["nf"]))
        if int(agg["ch"] or 0) == 0:
            result.converged = True
            # last append duplicates the fixpoint value; drop it
            result.nf.pop()
            break
    return result


def nf_statistics(nf: list[float]) -> dict:
    """Derived statistics of a neighbourhood function
    (``NeighbourhoodFunction.java:155-281``): CDF, PMF, median distance,
    average distance, spid (variance/mean of the distance distribution),
    and harmonic diameter. Driver-side numpy — the NF array is tiny."""
    arr = np.asarray(nf, dtype=np.float64)
    total = arr[-1]
    cdf = arr / total
    pmf = np.diff(arr, prepend=0.0) / total
    dists = np.arange(len(arr))
    mean = float((pmf * dists).sum())
    var = float((pmf * dists**2).sum() - mean**2)
    median = int(np.searchsorted(cdf, 0.5))
    n = arr[0]
    # harmonic diameter: n(n-1) / sum over pairs of 1/d
    inv_sum = float((pmf[1:] * total / dists[1:]).sum()) if len(arr) > 1 else 0.0
    harmonic_diameter = n * (n - 1) / inv_sum if inv_sum else float("inf")
    return {
        "cdf": cdf.tolist(),
        "pmf": pmf.tolist(),
        "median_distance": median,
        "average_distance": mean,
        "spid": var / mean if mean else 0.0,
        "harmonic_diameter": harmonic_diameter,
        "reachable_pairs": float(total),
    }


def combine_nfs(nfs: list[list[float]]) -> list[float]:
    """Pointwise mean of sampled NFs, ragged tails extended with each run's
    last value (``ApproximateNeighbourhoodFunctions.combine``,
    ``ApproximateNeighbourhoodFunctions.java:34``)."""
    t = max(len(nf) for nf in nfs)
    padded = np.stack(
        [np.pad(np.asarray(nf, float), (0, t - len(nf)), mode="edge") for nf in nfs]
    )
    return padded.mean(axis=0).tolist()


def jackknife(nfs: list[list[float]], statistic) -> dict:
    """Leave-one-out jackknife estimate ± standard error of a scalar
    statistic of the combined NF (the reference's jackknife over sampled
    ANFs, ``ApproximateNeighbourhoodFunctions.java:34``; ruby original
    ``ruby/jackknife.rb``)."""
    k = len(nfs)
    full = statistic(combine_nfs(nfs))
    loo = np.array(
        [statistic(combine_nfs(nfs[:i] + nfs[i + 1:])) for i in range(k)]
    )
    bias = (k - 1) * (loo.mean() - full)
    se = float(np.sqrt((k - 1) / k * ((loo - loo.mean()) ** 2).sum()))
    return {"estimate": full - bias, "standard_error": se, "raw": full}


def centralities(result: HyperBallResult) -> DataFrame:
    """(id, reachable, harmonic, closeness, lin[, discounts...]) from a
    finished run (``HyperBall.java:266-279`` accumulators; discount columns
    per ``HyperBall.java:232-250`` pass through by name)."""
    s = result.state
    extra = [
        c
        for c in s.columns
        if c not in ("id", "regs", "est", "harmonic", "sum_dist", "changed")
    ]
    return s.select(
        "id",
        F.col("est").alias("reachable"),
        "harmonic",
        *extra,
        F.when(F.col("sum_dist") > 0, 1.0 / F.col("sum_dist"))
        .otherwise(0.0)
        .alias("closeness"),
        F.when(F.col("sum_dist") > 0, F.col("est") * F.col("est") / F.col("sum_dist"))
        .otherwise(1.0)
        .alias("lin"),
    )
