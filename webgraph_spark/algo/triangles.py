"""Exact triangle counting via degree-oriented edge iteration.

Not in the reference (no triangle code anywhere in /root/reference); input
semantics come from its ``simplify`` transform (``Transform.java:835-894``):
triangles are counted on the symmetrized, loop-free graph. Orientation by
(degree, id) — each undirected edge directed from the lower-ranked endpoint —
bounds every successor array near √(2m) (the standard trick that keeps hubs
from exploding the work). One plan finds triangles: each oriented edge
(u, v) is joined with the sorted successor arrays of both endpoints, and
``array_intersect(succ(u), succ(v))`` holds exactly the third corners w of
the triangles whose lowest-ranked edge is (u, v) — each triangle once. The
count sums the intersect sizes; the per-vertex listing explodes them.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webgraph_spark.plans.iterate import checkpoint_state


def _symmetric(edges: DataFrame) -> DataFrame:
    """Symmetrized, loop-free, deduplicated arcs, hash-partitioned by src.

    Built in one shuffle: dedup clusters by (src, dst), which the
    src-partitioning already satisfies, and a degree aggregate over the
    result then needs no exchange of its own — two exchanges saved vs the
    naive ``simplify() + groupBy`` plan.
    """
    p = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .repartition(p, "src")
        .dropDuplicates(["src", "dst"])
    )


def _oriented(edges: DataFrame, pre_symmetrized: bool = False) -> DataFrame:
    """Orient each undirected edge low->high by (undirected degree, id).

    ``pre_symmetrized=True`` skips the ``_symmetric`` build: the caller
    asserts ``edges`` is already symmetric, loop-free, deduplicated, and
    hash-partitioned by src (the clustering entry points construct exactly
    that frame and persist it) — re-symmetrizing it would be a wasted
    O(2m) shuffle + dedup per call.

    Partition sizing (measured, docs/SCALING.md §7d): the layout knob is
    ``spark.sql.shuffle.partitions``; size it so each partition holds
    ~3.5M INPUT arcs (the measured-best 113.7M-arc run used 32 partitions
    = 3.55M arcs each; the oriented set a partition ends up holding is
    roughly half that after symmetrize-dedup-orient). Larger partitions
    spill in the downstream array join (14.2M input arcs/partition cost
    +30% wall at m=114M); much smaller ones pay per-task array
    (de)serialization churn (0.9M input arcs/partition cost 2× at m=28M).
    Count scales with data, bytes/partition is the invariant.
    """
    simple = edges if pre_symmetrized else _symmetric(edges)
    und = simple.filter(F.col("src") < F.col("dst"))
    deg = simple.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    du = deg.select(F.col("id").alias("src"), F.col("deg").alias("__ds"))
    dv = deg.select(F.col("id").alias("dst"), F.col("deg").alias("__dd"))
    ranked = und.join(du, "src").join(dv, "dst")
    fwd = (F.col("__ds") < F.col("__dd")) | (
        (F.col("__ds") == F.col("__dd")) & (F.col("src") < F.col("dst"))
    )
    return ranked.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


@contextmanager
def _oriented_adjacency(edges: DataFrame, pre_symmetrized: bool = False):
    """Yield ``(v, u, su, sv)``: every oriented edge (u, v) with the sorted
    successor arrays of both endpoints. The oriented set and the adjacency
    are cached for the ``with`` block and released on exit, so a caller
    must run (or checkpoint) its action inside the block.

    The oriented set feeds three consumers (adjacency build + both join
    sides) and the adjacency two (both array sides), so BOTH are persisted
    AND eagerly materialized before the caller's action: inside a single
    action the consumer stages launch concurrently and race to populate the
    cache, each recomputing the full symmetrize+orient subtree (measured at
    sf0.1 on 24 cores: 12.4 s single-action vs 1.9 + 0.5 + 0.9 s
    materialized — the cache only dedupes work that finished before the
    next reader).

    The dominant shuffle is NOT the edge rows but the per-edge successor
    arrays: joining ``sv`` onto the edge list moves Σ_(u,v) |succ(u)| ids —
    the wedge count in bytes. When the max node id fits in int32 (checked
    for free on the materialization action via ``observe``) every id in
    that shuffle is narrowed long→int, halving the hot shuffle volume and
    executor array footprint; the yielded ids are then ints. At 10^12-file
    scale node ids exceed int32 and the plan transparently stays on longs.
    """
    obs = Observation()
    o = (
        _oriented(edges, pre_symmetrized=pre_symmetrized)
        .observe(obs, F.max(F.greatest("src", "dst")).alias("mx"))
        .persist()
    )
    adj = None
    try:
        o.count()
        mx = obs.get["mx"]
        oc = o
        if mx is not None and mx < 2**31:
            oc = o.select(
                F.col("src").cast("int").alias("src"),
                F.col("dst").cast("int").alias("dst"),
            )
        adj = (
            oc.groupBy("src")
            .agg(F.array_sort(F.collect_list("dst")).alias("succ"))
            .persist()
        )
        adj.count()
        au = adj.select(F.col("src").alias("u"), F.col("succ").alias("su"))
        av = adj.select(F.col("src").alias("v"), F.col("succ").alias("sv"))
        yield (
            oc.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .join(au, "u")
            .join(av, "v")  # v with no oriented successors closes no triangle
        )
    finally:
        o.unpersist()
        if adj is not None:
            adj.unpersist()


def _corner_counts(per_edge: DataFrame) -> DataFrame:
    """``(id, triangles)`` from ``_oriented_adjacency``'s rows: each
    (u, v, w) corner triple counts once at each of its three corners."""
    return (
        per_edge.select(
            "u", "v", F.explode(F.array_intersect("su", "sv")).alias("w")
        )
        .select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
        .select(F.col("id").cast("long").alias("id"), "triangles")
    )


def triangle_count_adjacency(
    edges: DataFrame, pre_symmetrized: bool = False
) -> int:
    """Global exact triangle count: per oriented edge (u, v),
    |succ(u) ∩ succ(v)| summed — the sorted-array-intersection formulation
    (SURVEY §2.6), expressed with JVM-side ``array_intersect`` (no wedge
    materialization, no Python). ``pre_symmetrized`` as in ``_oriented``."""
    with _oriented_adjacency(edges, pre_symmetrized) as per_edge:
        row = (
            per_edge.select(F.size(F.array_intersect("su", "sv")).alias("t"))
            .agg(F.sum("t").alias("total"))
            .collect()[0]
        )
    return int(row["total"] or 0)


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """``(id, triangles)`` — number of triangles each vertex participates in.
    Vertices in no triangle are omitted (join against nodes to zero-fill).
    The n-row result is checkpointed; nothing stays cached after the call."""
    with _oriented_adjacency(edges) as per_edge:
        return _corner_counts(per_edge).transform(checkpoint_state)


def local_clustering_coefficient(edges: DataFrame) -> DataFrame:
    """``(id, lcc)`` over the symmetrized loop-free graph:
    lcc(v) = 2·T(v) / (d(v)·(d(v)−1)), 0 when d(v) < 2.

    Per-vertex triangle counts plus the undirected degree table — both
    read the one persisted symmetrized set, which is materialized EAGERLY
    (the concurrent-populate race ``_oriented_adjacency`` describes). Every
    node gets a row (zero-filled), matching the usual definition. The
    n-row result is checkpointed before the caches are released.
    """
    simple = _symmetric(edges).persist()
    try:
        simple.count()
        deg = simple.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        with _oriented_adjacency(simple, pre_symmetrized=True) as per_edge:
            out = deg.join(_corner_counts(per_edge), "id", "left").select(
                "id",
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                )
                .otherwise(F.lit(0.0))
                .alias("lcc"),
            )
            return out.transform(checkpoint_state)
    finally:
        simple.unpersist()


def global_clustering_coefficient(edges: DataFrame) -> float:
    """Transitivity: 3·triangles / wedges, wedges = Σ_v d(v)·(d(v)−1)/2
    over the symmetrized loop-free graph. 0.0 on wedge-free graphs."""
    simple = _symmetric(edges).persist()
    try:
        wedges_row = (
            simple.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"))
            .collect()[0]
        )
        wedges = float(wedges_row["w"] or 0.0)
        if wedges == 0.0:
            return 0.0
        t = triangle_count_adjacency(simple, pre_symmetrized=True)
        return 3.0 * t / wedges
    finally:
        simple.unpersist()
