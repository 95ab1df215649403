"""LinkGraph: the engine's graph handle — a thin wrapper over ``edges(src, dst)``.

The reference's fundamental abstraction is ``ImmutableGraph``
(``ImmutableGraph.java:169``): dense int node ids, sorted duplicate-free
successor lists, sequential/random access, split iterators for parallelism.
Here the canonical truth is an immutable edge DataFrame; "successor lists"
materialize only inside CSR Arrow blocks (:mod:`webgraph_spark.plans.csr`),
and "split node iterators" are Spark partitions of the range-partitioned
CSR table. Flyweight ``copy()`` (``ImmutableGraph.java:157-165``) is free —
DataFrames are immutable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_spark.operators import transform as T


class LinkGraph:
    """Immutable directed graph backed by a deduplicated edge DataFrame."""

    def __init__(self, edges: DataFrame, num_nodes: int | None = None):
        self.edges = edges.select(
            F.col("src").cast("long"), F.col("dst").cast("long")
        )
        self._num_nodes = num_nodes

    @classmethod
    def from_arcs(cls, spark, arcs) -> "LinkGraph":
        """Test-fixture builder (reference: ``ArrayListMutableGraph.java:49``)."""
        return cls(
            T.normalize(spark.createDataFrame(arcs, "src long, dst long"))
        )

    # -- basic accessors ---------------------------------------------------
    def nodes(self) -> DataFrame:
        """All node ids appearing as an endpoint, one column ``id``."""
        return (
            self.edges.select(F.col("src").alias("id"))
            .union(self.edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    def num_nodes(self) -> int:
        """Node count = max id + 1 if ids are dense, else endpoint count
        (``ImmutableGraph.numNodes``, ``ImmutableGraph.java:254``)."""
        if self._num_nodes is None:
            self._num_nodes = self.nodes().count()
        return self._num_nodes

    def num_arcs(self) -> int:
        """(``ImmutableGraph.numArcs``, ``ImmutableGraph.java:260``)."""
        return self.edges.count()

    def out_degrees(self) -> DataFrame:
        """``(id, deg)`` including zero-outdegree endpoints
        (``ImmutableGraph.outdegrees()``, ``ImmutableGraph.java:452-479``)."""
        d = self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        return self.nodes().join(d, "id", "left").na.fill({"deg": 0})

    def in_degrees(self) -> DataFrame:
        d = self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        return self.nodes().join(d, "id", "left").na.fill({"deg": 0})

    # -- transforms (views; see operators.transform for citations) ----------
    def transpose(self) -> "LinkGraph":
        return LinkGraph(T.transpose(self.edges), self._num_nodes)

    def symmetrize(self) -> "LinkGraph":
        return LinkGraph(T.symmetrize(self.edges), self._num_nodes)

    def simplify(self) -> "LinkGraph":
        return LinkGraph(T.simplify(self.edges), self._num_nodes)

    def filter_arcs(self, predicate) -> "LinkGraph":
        return LinkGraph(T.filter_arcs(self.edges, predicate))

    def map_nodes(self, mapping: DataFrame) -> "LinkGraph":
        return LinkGraph(T.map_nodes(self.edges, mapping))

    def union(self, other: "LinkGraph") -> "LinkGraph":
        return LinkGraph(T.union_graphs(self.edges, other.edges))

    def compose(self, other: "LinkGraph") -> "LinkGraph":
        return LinkGraph(T.compose(self.edges, other.edges))

    def subgraph(self, node_subset: DataFrame) -> "LinkGraph":
        return LinkGraph(T.subgraph(self.edges, node_subset))

    # -- checks / equality ---------------------------------------------------
    def is_symmetric(self) -> bool:
        """``Check.symmetry`` (``Check.java:44-101``): g == transpose(g)."""
        swapped = T.transpose(self.edges).select("src", "dst")
        return (
            self.edges.exceptAll(swapped).isEmpty()
            and swapped.exceptAll(self.edges).isEmpty()
        )

    def equals(self, other: "LinkGraph") -> bool:
        """Arc-set equality — the reference's per-node successor-list equality
        (``ImmutableGraph.java:731-749``) collapses to set equality because
        both sides are duplicate-free."""
        return (
            self.edges.exceptAll(other.edges).isEmpty()
            and other.edges.exceptAll(self.edges).isEmpty()
        )

    def checksum(self) -> int:
        """Order-insensitive arc-set checksum (test oracle helper).
        bit_xor, not sum: a wrapping sum overflows int64 under ANSI mode."""
        row = self.edges.select(
            F.expr("bit_xor(xxhash64(src, dst))").alias("h")
        ).collect()[0]
        return int(row["h"] or 0)

    # -- analytics facade ----------------------------------------------------
    # One handle for the whole engine: each method delegates to the algo
    # module (which documents semantics + reference citations).

    def to_csr(self, **kwargs):
        from webgraph_spark.plans.csr import build_csr

        return build_csr(self.edges, **kwargs)

    def pagerank(self, **kwargs):
        """Block-vector CSR PageRank (the scale path)."""
        csr = kwargs.pop("csr", None) or self.to_csr()
        from webgraph_spark.algo.pagerank_block import pagerank_block

        return pagerank_block(self.edges.sparkSession, csr, self.nodes(), **kwargs)

    def connected_components(self, **kwargs):
        from webgraph_spark.algo.components import hash_min_components

        return hash_min_components(self.edges, self.nodes(), **kwargs)

    def strongly_connected_components(self, **kwargs):
        from webgraph_spark.algo.scc import strongly_connected_components

        return strongly_connected_components(self.edges, self.nodes(), **kwargs)

    def label_propagation(self, **kwargs):
        from webgraph_spark.algo.labelprop import label_propagation

        return label_propagation(self.edges, self.nodes(), **kwargs)

    def triangle_count(self) -> int:
        from webgraph_spark.algo.triangles import triangle_count_adjacency

        return triangle_count_adjacency(self.edges)

    def k_core(self, k: int, **kwargs):
        from webgraph_spark.algo.kcore import k_core

        return k_core(self.edges, k, **kwargs)

    def hits(self, **kwargs):
        from webgraph_spark.algo.hits import hits

        return hits(self.edges, self.nodes(), **kwargs)

    def clustering_coefficients(self) -> DataFrame:
        from webgraph_spark.algo.triangles import local_clustering_coefficient

        return local_clustering_coefficient(self.edges)

    def bfs(self, sources, **kwargs):
        from webgraph_spark.algo.bfs import bfs_distances

        return bfs_distances(self.edges, sources, **kwargs)

    def hyperball(self, **kwargs):
        from webgraph_spark.algo.hyperball import hyperball

        return hyperball(self.edges, self.nodes(), **kwargs)

    def betweenness(self, **kwargs):
        from webgraph_spark.algo.betweenness import betweenness

        return betweenness(self.edges, self.nodes(), **kwargs)

    def diameter_radius(self, **kwargs):
        """Exact directed diameter/radius (SumSweep); intended for strongly
        connected graphs — compose with largest-SCC extraction otherwise."""
        from webgraph_spark.algo.sumsweep import sumsweep_diameter_radius

        return sumsweep_diameter_radius(self.edges, self.nodes(), **kwargs)

    def has_arcs(self, pairs: DataFrame, csr=None) -> DataFrame:
        """Bulk adjacency probes (EFGraph skipTo analogue) over CSR blocks."""
        from webgraph_spark.plans.csr import csr_has_arcs

        return csr_has_arcs(csr or self.to_csr(), pairs)

    def permute_gray(self) -> DataFrame:
        """(id, new_id) Gray-code compression ordering."""
        from webgraph_spark.operators.permutations import gray_code_permutation

        return gray_code_permutation(self.edges, self.nodes())

    def save(self, path: str, properties: dict | None = None) -> dict:
        from webgraph_spark.sources.tables import save_graph

        return save_graph(self.edges, path, properties)

    @classmethod
    def load(cls, spark, path: str, verify: bool = True) -> "LinkGraph":
        from webgraph_spark.sources.tables import load_graph

        edges, meta = load_graph(spark, path, verify)
        return cls(edges, num_nodes=meta.get("nodes"))

    # -- statistics (Stats.java:65, outputs :167-258) ------------------------
    def stats(self) -> dict:
        """One-pass global statistics, the ``Stats`` tool's scalar outputs."""
        e = self.edges
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        in_deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("deg"))
        nodes = self.nodes()
        n = nodes.count()
        m = e.count()
        loops = e.filter(F.col("src") == F.col("dst")).count()
        od = (
            nodes.join(out_deg.withColumnRenamed("src", "id"), "id", "left")
            .na.fill({"deg": 0})
            .agg(
                F.min("deg").alias("minoutdegree"),
                F.max("deg").alias("maxoutdegree"),
                F.avg("deg").alias("avgoutdegree"),
                F.sum(F.when(F.col("deg") == 0, 1).otherwise(0)).alias(
                    "dangling"
                ),
            )
            .collect()[0]
        )
        idg = (
            nodes.join(in_deg.withColumnRenamed("dst", "id"), "id", "left")
            .na.fill({"deg": 0})
            .agg(
                F.min("deg").alias("minindegree"),
                F.max("deg").alias("maxindegree"),
                F.avg("deg").alias("avgindegree"),
            )
            .collect()[0]
        )
        return {
            "nodes": n,
            "arcs": m,
            "loops": loops,
            "minoutdegree": od["minoutdegree"],
            "maxoutdegree": od["maxoutdegree"],
            "avgoutdegree": od["avgoutdegree"],
            "dangling": od["dangling"],
            "minindegree": idg["minindegree"],
            "maxindegree": idg["maxindegree"],
            "avgindegree": idg["avgindegree"],
        }

    def outdegree_distribution(self) -> DataFrame:
        """``(deg, frequency)`` (``examples/OutdegreeStats.java:42``)."""
        return (
            self.out_degrees()
            .groupBy("deg")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
