"""webgraph_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the capabilities of the WebGraph framework (reference:
lfoscari/webgraph, a WebGraph 3.6.x fork) Spark-first:

- the canonical graph form is an **edge DataFrame** ``edges(src: long, dst: long)``
  (reference: sorted successor lists, ``ImmutableGraph.java:307-341``);
- the physical cache is a **CSR block table** — partition-local, gap-encoded
  successor lists inside Arrow batches (reference: BVGraph gap coding,
  ``BVGraph.java:139-221``);
- analytics (PageRank, connected components, label propagation, triangle
  counting, BFS) are **iterative DataFrame jobs** with vectorized pandas/Arrow
  UDF kernels, salted skew-aware shuffles, and parquet-backed checkpoint/resume
  with per-partition lineage.

No RDDs, no per-row Python UDFs on hot paths, no code copied from the
reference (which is Java; this engine is a new design on Spark).
"""

from webgraph_spark import _worker  # noqa: F401  (prunes a Spark worker's import caches)

__version__ = "0.1.0"

__all__ = ["LinkGraph", "get_spark", "__version__"]


def __getattr__(name):  # lazy: keep `import webgraph_spark.functions.codes` pyspark-free
    if name == "LinkGraph":
        from webgraph_spark.graph import LinkGraph

        return LinkGraph
    if name == "get_spark":
        from webgraph_spark.session import get_spark

        return get_spark
    raise AttributeError(name)
