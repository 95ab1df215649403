"""Connected components by hash-min label exchange, renumbered by size.

Reference: ``algo/ConnectedComponents.java:69-173`` computes CCs by parallel
BFS rounds over a *symmetric* graph and renumbers components by decreasing
size (``sortBySize``, ``:163-173``). The distributed formulation here is
hash-min fixpoint (comp <- min(comp, min over neighbours' comp)), which
yields the same partition of the vertex set; after canonical renumbering
(size desc, then min-member asc) the outputs match the reference exactly.

One hash-min kernel:
:func:`webgraph_spark.algo.components_block.hash_min_components_block`, on
the block-vector fixpoint engine shared with PageRank and LPA
(:mod:`webgraph_spark.plans.blockvec`). :func:`hash_min_components` is its
edge-level entry point and adds the one thing the kernel lacks, a
star-contraction finish for long chains. :func:`star_contraction_components`
is id-agnostic (no dense block state), which is what the near-duplicate
clusterers need for arbitrary document ids.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webgraph_spark.plans.iterate import checkpoint_state

# unconverged hash-min rounds before the star-contraction finish: more means
# a long-chain region (diameter >> typical web-graph depth)
STAR_FINISH_AFTER = 24


@dataclass
class ComponentsResult:
    components: DataFrame  # (id, comp) — comp = min node id in component
    iterations: int
    changed_per_iter: list[int] = field(default_factory=list)
    iter_seconds: list[float] = field(default_factory=list)


def hash_min_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 100,
) -> ComponentsResult:
    """Hash-min fixpoint over the symmetrized edge set.

    Convergence in O(diameter) rounds. Isolated nodes (present in ``nodes``
    but no arcs) keep their own id as component; ``nodes`` defaults to every
    edge endpoint and must cover them all. Node ids must be dense (the block
    state is one vector cell per id in each block's range): ids spread far
    wider than their count raise (renumber with
    ``sources.ids.mint_dense_ids``; a constant offset is fine). Caches
    nothing past the call.

    If still unconverged after :data:`STAR_FINISH_AFTER` rounds (and
    ``max_iter`` allows that many), finishes with
    :func:`star_contraction_components` (O(log n) rounds), seeded with the
    labels already computed so earlier rounds aren't wasted; its rounds count
    in ``iterations`` with a changed count of -1.
    """
    from webgraph_spark.algo.components_block import hash_min_components_block
    from webgraph_spark.plans.blockvec import symmetric_graph

    with symmetric_graph(edges, nodes) as (graph, nodes):
        result = hash_min_components_block(
            edges.sparkSession, graph, nodes,
            max_iter=min(max_iter, STAR_FINISH_AFTER),
        )
        if (
            result.iterations < STAR_FINISH_AFTER
            or result.changed_per_iter[-1] == 0  # converged
        ):
            return result
        # long-chain graph: the partial labels are same-component by
        # construction, so they seed the contraction as extra edges
        comps = result.components
        seed_edges = graph.edges.select("src", "dst").union(
            comps.filter(F.col("id") != F.col("comp")).select(
                F.col("id").alias("src"), F.col("comp").alias("dst")
            )
        )
        star = star_contraction_components(seed_edges, nodes)
        result.iterations += star.iterations
        result.iter_seconds.extend(star.iter_seconds)
        result.changed_per_iter.extend([-1] * star.iterations)
        result.components = star.components
        return result


def star_contraction_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_rounds: int = 64,
) -> ComponentsResult:
    """Connected components by alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
    — O(log n) rounds regardless of diameter, the scale path for
    high-diameter graphs where hash-min's O(diameter) rounds degenerate
    (a 10⁴-diameter crawl chain = 10⁴ shuffles).

    large-star: every node points its larger neighbours at the minimum of
    its neighbourhood; small-star: every node and its smaller neighbours
    collapse onto that minimum. The edge multiset converges to per-component
    stars rooted at the component's minimum id. Convergence is detected by
    an order-insensitive (count, bit_xor-hash) signature of the edge set
    that rides the round's eager-checkpoint action via ``observe()`` —
    ONE action per round, same shape as every other fixpoint loop here
    (a separate signature collect would re-scan the checkpointed rows).
    """

    def _checkpoint_with_sig(e: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
        obs = Observation()
        ck = e.observe(
            obs,
            F.count(F.lit(1)).alias("c"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).transform(checkpoint_state)
        m = obs.get
        return ck, (int(m["c"] or 0), int(m["h"] or 0))

    def _large(e: DataFrame) -> DataFrame:
        sym = (
            e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .union(e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
            .distinct()
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("src"),
                F.least("mn", F.col("u")).alias("dst"),
            )
            .distinct()
        )

    def _small(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("mn"))
        pointed = oriented.join(mins, "u").select(
            F.col("v").alias("src"), F.col("mn").alias("dst")
        )
        self_edges = mins.select(
            F.col("u").alias("src"), F.col("mn").alias("dst")
        )
        return (
            pointed.union(self_edges)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    e, prev = _checkpoint_with_sig(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    )
    result = ComponentsResult(components=None, iterations=0)
    for rnd in range(max_rounds):
        t0 = time.monotonic()
        e, sig = _checkpoint_with_sig(_small(_large(e)))
        result.iterations = rnd + 1
        result.iter_seconds.append(time.monotonic() - t0)
        if sig == prev:
            break
        prev = sig
    # final stars: (v → component min); roots + isolated nodes map to self
    assigned = e.select(F.col("src").alias("id"), F.col("dst").alias("comp"))
    comps = (
        nodes.select("id")
        .join(assigned, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
    )
    result.components = comps
    return result


def renumber_by_size(components: DataFrame) -> DataFrame:
    """Relabel components 0,1,2,... by decreasing size, ties by min member id
    (``ConnectedComponents.sortBySize``, ``ConnectedComponents.java:163-173``).

    Ranks are minted with the two-pass dense-id pattern on ``(-size, comp)``
    — range-partitioned sort + per-partition offsets — so a shattered graph
    with O(n) tiny components (the near-dup-cluster output shape) never
    funnels through a single-partition window.
    """
    from webgraph_spark.sources.ids import mint_dense_ids

    sizes = components.groupBy("comp").agg(F.count(F.lit(1)).alias("size"))
    keyed = sizes.select((-F.col("size")).alias("__negsz"), "comp")
    mapping = mint_dense_ids(keyed, ["__negsz", "comp"], id_col="component")
    return components.join(mapping.select("comp", "component"), "comp").select(
        "id", "component"
    )


def largest_component(components: DataFrame) -> DataFrame:
    """Node set of the largest component (``ConnectedComponents.java:111``)."""
    top = (
        components.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("comp"))
        .limit(1)
    )
    return components.join(top.select("comp"), "comp").select("id")
