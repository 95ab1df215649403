"""Connected components by hash-min label exchange, renumbered by size.

Reference: ``algo/ConnectedComponents.java:69-173`` computes CCs by parallel
BFS rounds over a *symmetric* graph and renumbers components by decreasing
size (``sortBySize``, ``:163-173``). The distributed formulation here is
hash-min fixpoint (comp <- min(comp, min over neighbours' comp)), which
yields the same partition of the vertex set; after canonical renumbering
(size desc, then min-member asc) the outputs match the reference exactly.

Two formulations of the same synchronous fixpoint: :func:`hash_min_components`
(row state, with a star-contraction finish for long chains; it backs the
driver oracle queries) and the throughput path
:func:`webgraph_spark.algo.components_block.hash_min_components_block`, which
runs on the block-vector fixpoint engine shared with PageRank and LPA
(:mod:`webgraph_spark.plans.blockvec`).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from webgraph_spark.plans.iterate import checkpoint_state


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
    checkpointer=None,
    initial: DataFrame | None = None,
    start_iteration: int = 0,
    star_fallback_after: int | None = 24,
) -> ComponentsResult:
    """Hash-min fixpoint over the symmetrized edge set.

    Convergence in O(diameter) rounds; the changed-count aggregate doubles as
    the per-round action (no extra count job). Isolated nodes (present in
    ``nodes`` but no arcs) keep their own id as component.

    ``star_fallback_after``: if still unconverged after that many rounds the
    graph has a long-chain region (diameter ≫ typical web-graph depth) —
    switch to :func:`star_contraction_components` (O(log n) rounds), seeding
    it with the labels already computed so earlier rounds aren't wasted.
    ``None`` disables the fallback.
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
    comps = (
        initial.select("id", "comp")
        if initial is not None
        else nodes.withColumn("comp", F.col("id"))
    ).withColumn("__ch", F.lit(1)).transform(checkpoint_state)

    result = ComponentsResult(components=comps, iterations=start_iteration)
    for it in range(start_iteration, max_iter):
        t0 = time.monotonic()
        # Systolic gather: component labels only ever DECREASE, so a
        # neighbour whose label did not change last round contributes the
        # same min it already contributed — only changed nodes need to send
        # (HyperBall's systolic argument, ``HyperBall.java:120-135``). Then
        # least() applies the hash-min update and the changed flag rides on
        # the checkpointed rows, so the convergence count is a cheap scan,
        # not a separate new⋈old join job.
        # SHUFFLE_HASH on the state side: the checkpointed comps frame has
        # unknown stats (ExistingRDD), so without the hint AQE broadcast-
        # builds the persisted EDGE side — re-broadcasting the graph every
        # round. With it the O(changed) sender set shuffles and the cached
        # pre-partitioned sym streams with no exchange.
        # Self-row fusion: instead of aggregating neighbour mins by dst and
        # LEFT-JOINING the result back onto the state (a second O(n)
        # exchange of comps by id plus a join build per round), the state
        # rows ride INTO the same aggregation as tagged "self" rows
        # (__s=1). One hash aggregate then yields, per node, both the
        # neighbour min (min over __s=0 rows) and the carried old label
        # (min over __s=1 rows — exactly one such row per node), so the
        # update + changed flag are a pure projection. Per round:
        # 2 exchanges (senders by src, partial-agg rows by id) and 1 join,
        # versus 3 exchanges and 2 joins for the join-back formulation.
        gather = sym.join(
            comps.filter(F.col("__ch") == 1).hint("shuffle_hash"),
            sym["src"] == comps["id"],
        ).select(
            F.col("dst").alias("id"),
            F.col("comp").alias("__v"),
            F.lit(0).alias("__s"),
        )
        self_rows = comps.select(
            "id", F.col("comp").alias("__v"), F.lit(1).alias("__s")
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
                F.least("__old", "__nm").alias("comp"),
                (F.col("__nm") < F.col("__old")).cast("int").alias("__ch"),
            )
            .observe(obs, F.sum("__ch").alias("c"))
            .transform(checkpoint_state)
        )
        changed = int(obs.get["c"] or 0)
        new_comps = updated
        wall = time.monotonic() - t0
        result.changed_per_iter.append(changed)
        result.iter_seconds.append(wall)
        result.iterations = it + 1
        if checkpointer is not None:
            checkpointer.save_iteration(
                new_comps, it + 1, wall_s=wall, delta=float(changed)
            )
        comps = new_comps
        if changed == 0:
            break
        if (
            star_fallback_after is not None
            and it - start_iteration + 1 >= star_fallback_after
        ):
            # long-chain graph: finish with O(log n) star contraction,
            # seeded by the partial labels (same-component by construction)
            seed_edges = sym.select("src", "dst").union(
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
    result.components = comps.select("id", "comp")
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
