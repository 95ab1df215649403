"""Diameter bounds and distance statistics from BFS sweeps.

Reference counterparts: the double/four-sweep heuristics
(``algo/FourSweepIterativeFringeDiameter.java:104``, and the sweep phase of
``algo/SumSweepDirectedDiameterRadius.java:137``) and the sampled distance
CDF (``algo/SampleDistanceCumulativeDistributionFunction.java:49``). Exact
SumSweep bound refinement is out of scope (SURVEY §2.6); the sweeps give the
cheap, standard lower bound used as a bench metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_spark.algo.bfs import bfs_distances, eccentricity_info
from webgraph_spark.operators.transform import transpose


def double_sweep_lower_bound(
    edges: DataFrame, start: int | None = None, sweeps: int = 2
) -> dict:
    """Double-sweep (sweeps=2) / multi-sweep diameter lower bound on a
    directed graph: BFS from a start, then from the farthest node found,
    alternating forward/backward so the bound holds for directed diameter."""
    if start is None:
        start = int(edges.agg(F.min("src")).collect()[0][0])
    fwd, rev = edges.persist(), transpose(edges).persist()
    fwd.count(), rev.count()
    best, node = 0, start
    history = []
    for s in range(sweeps):
        g = fwd if s % 2 == 0 else rev
        src = edges.sparkSession.createDataFrame([(node,)], "id long")
        ecc, far = eccentricity_info(bfs_distances(g, src, max_depth=128)).values()
        history.append({"sweep": s, "source": node, "ecc": ecc, "far": far})
        best = max(best, ecc)
        node = far
    return {"diameter_lower_bound": best, "sweeps": history}


def distance_cdf(
    edges: DataFrame, sources: DataFrame, max_depth: int = 64
) -> DataFrame:
    """Sampled distance CDF: (dist, pairs, cum_pairs) over BFS from the given
    source sample (``SampleDistanceCumulativeDistributionFunction.java:49``).

    One frontier BFS per multi-source batch — all sources expand together;
    ``pairs`` at distance d counts (source, node) pairs... sources are run as
    one multi-source BFS, so overlapping balls merge (matches the reference's
    per-sample accumulation when sources are processed independently only if
    you pass one source per call; for the CDF shape the batched version is
    the cheap bench statistic).
    """
    dist = bfs_distances(edges, sources, max_depth=max_depth)
    hist = dist.groupBy("dist").agg(F.count(F.lit(1)).alias("pairs"))
    from pyspark.sql import Window

    w = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)
    return hist.withColumn("cum_pairs", F.sum("pairs").over(w))
