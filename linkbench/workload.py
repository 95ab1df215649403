"""Workloads and the round of engine calls each run makes.

One round is a closed loop with one client: the driver makes one public
call at a time and waits for it. Every call is timed from outside, inside a
span named after the module it enters, so a traced run can attribute Spark's
jobs, stages and tasks to that module.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from webgraph_spark.algo.components_block import hash_min_components_block
from webgraph_spark.algo.hyperball import hyperball
from webgraph_spark.algo.labelprop_block import label_propagation_block
from webgraph_spark.algo.pagerank_block import pagerank_block
from webgraph_spark.algo.triangles import triangle_count_adjacency
from webgraph_spark.checkpoint import CheckpointManager
from webgraph_spark.plans.csr import build_csr
from webgraph_spark.plans.partitioning import symmetrize_for_join
from webgraph_spark.sources.corpus import (
    corpus_edges,
    corpus_nodes,
    verify_content_sha,
)


PR_ITERS = 6  # fixed-iteration PageRank: tol 0, no extrapolation
LPA_ITERS = 1
HB_ITERS = 1
ROUND_S = 30.0  # wall of one round on a 4-core host; --seconds / ROUND_S rounds


@dataclass(frozen=True)
class Workload:
    name: str
    n_repos: int
    files_per_repo: int
    stop_at: int  # PageRank and CC save every iteration to here, then resume

    @property
    def files(self) -> int:
        return self.n_repos * self.files_per_repo


# floor: 1,000 files, so kernel work is near zero and every iteration pays the
# fixed per-job, per-task and Python-worker cost; checkpoint_resume: five times
# the corpus and twice the saved iterations per kernel before the resume. The
# repo counts are chosen so that CC reaches its fixpoint in the same number of
# iterations for every seed (6 and 7 over seeds 1-20), so a seed changes the
# edges but not how much work a run does
WORKLOADS = {
    w.name: w
    for w in (
        Workload("floor", n_repos=5, files_per_repo=200, stop_at=1),
        Workload("checkpoint_resume", n_repos=20, files_per_repo=250, stop_at=2),
    )
}


class Ops:
    """Counts calls into the engine and times each inside a span."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def call(self, name: str):
        """Yields a dict whose ``s`` is the call's wall once it returns."""
        self.attempted += 1
        rec = {}
        t = time.monotonic()
        try:
            with self.tracer.span(name):
                yield rec
        except Exception:
            self.failed += 1
            raise
        rec["s"] = time.monotonic() - t


@dataclass
class Graph:
    ids: object
    edges: object
    sym: object
    csr: object
    csym: object
    n: int
    m: int
    sha_violations: int
    cached: list = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.cached:
            df.unpersist()


@dataclass
class Drill:
    """A kernel run checkpointed to ``stop_at``, then resumed to the end."""

    label: str
    first: object = None  # result of the checkpointed leg
    resumed: object = None  # result of the resumed leg
    first_s: float = 0.0
    resume_s: float = 0.0  # latest_iteration + load_iteration + resumed leg
    load_s: float = 0.0
    save_s: list[float] = field(default_factory=list)
    save_bytes: list[int] = field(default_factory=list)
    manager: CheckpointManager | None = None
    fresh_root: bool = False  # the checkpoint root did not exist before
    published: list[int] = field(default_factory=list)
    staging: list[str] = field(default_factory=list)
    latest: int | None = None
    lineage: object = None

    @property
    def iter_seconds(self) -> list[float]:
        return self.first.iter_seconds + self.resumed.iter_seconds

    @property
    def prep_s(self) -> float:
        """Checkpointed leg's wall outside its iterations and saves."""
        return self.first_s - sum(self.first.iter_seconds) - sum(self.save_s)


@dataclass
class Round:
    graph: Graph | None = None  # from set-up's first ingest pass
    ingest_s: float = 0.0  # the round's own ingest pass, on a warm session
    reingested: Graph | None = None
    pr: Drill | None = None
    cc: Drill | None = None
    lpa: object = None
    lpa_s: float = 0.0
    triangles: int | None = None
    tri_s: float = 0.0
    hb: object = None
    hb_s: float = 0.0
    workload_s: float = 0.0

    def metrics(self) -> dict[str, float]:
        # the first iteration of each PageRank call also builds and caches
        # its inputs, so it is left out of the steady iterations. Edges over
        # their mean, not their median: the mean covers every steady second
        steady = self.pr.first.iter_seconds[1:] + self.pr.resumed.iter_seconds[1:]
        return {
            "ingest_s": self.ingest_s,
            "pagerank_edges_per_s": self.graph.m * len(steady) / sum(steady),
            "fixpoint_s": self.cc.first_s + self.cc.resume_s + self.lpa_s,
            "checkpointed_run_s": self.pr.first_s + self.cc.first_s,
            "resume_s": self.pr.resume_s + self.cc.resume_s,
            "workload_s": self.workload_s,
        }


def ingest(spark, ops: Ops, corpus_path: str) -> Graph:
    """Corpus table -> sha256 check -> dense ids -> edges -> directed and
    symmetrized CSR, each materialized."""
    corpus = spark.read.parquet(corpus_path)
    with ops.call("sources.corpus.verify_content_sha"):
        bad = verify_content_sha(corpus)
    with ops.call("sources.corpus.corpus_nodes"):
        nodes = corpus_nodes(corpus).persist()
        n = nodes.count()
    with ops.call("sources.corpus.corpus_edges"):
        edges = corpus_edges(corpus, nodes, no_loops=True).persist()
        m = edges.count()
    with ops.call("plans.csr.build_csr"):
        csr = build_csr(edges)
        csr.blocks = csr.blocks.persist()
        csr.blocks.count()
    with ops.call("plans.partitioning.symmetrize_for_join"):
        sym = symmetrize_for_join(edges).persist()
        sym.count()
    with ops.call("plans.csr.build_csr"):
        csym = build_csr(sym)
        csym.blocks = csym.blocks.persist()
        csym.blocks.count()
    return Graph(nodes.select("id"), edges, sym, csr, csym, n, m, bad,
                 [nodes, edges, csr.blocks, sym, csym.blocks])


class _Saves:
    """Caller-side wrapper around ``save_iteration``: times each save in its
    own span and records the bytes it published."""

    def __init__(self, ops: Ops, drill: Drill):
        ck = drill.manager
        self.inner = ck.save_iteration
        self.ops, self.drill = ops, drill
        ck.save_iteration = self

    def __call__(self, state, iteration, wall_s, delta):
        with self.ops.call("checkpoint.save_iteration") as c:
            self.inner(state, iteration, wall_s=wall_s, delta=delta)
        self.drill.save_s.append(c["s"])
        root = self.drill.manager.root
        final = os.path.join(root, "state", f"iter={iteration:06d}")
        lineage = os.path.join(root, "lineage", f"iter_{iteration:06d}.parquet")
        self.drill.save_bytes.append(_tree_bytes(final) + os.path.getsize(lineage))


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def checkpointed_leg(spark, ops: Ops, d: Drill, root: str, run, stop_at: int) -> None:
    """Run ``run`` to ``stop_at``, saving every iteration under a fresh
    ``root``. ``run(max_iter_or_None, checkpointer, initial_state, start)``
    makes one call into the engine."""
    d.fresh_root = not os.path.exists(root)
    d.manager = CheckpointManager(spark, root, run_id=f"{d.label}-{uuid.uuid4().hex[:8]}")
    _Saves(ops, d)
    t = time.monotonic()
    d.first = run(stop_at, d.manager, None, 0)
    d.first_s = time.monotonic() - t


def resumed_leg(ops: Ops, d: Drill, run) -> None:
    """Resume from ``latest_iteration()``/``load_iteration()`` to the end."""
    t = time.monotonic()
    with ops.call("checkpoint.load_iteration") as c:
        last = d.manager.latest_iteration()
        state = d.manager.load_iteration(last)
    d.load_s = c["s"]
    d.resumed = run(None, None, state, last)
    d.resume_s = time.monotonic() - t
    root = d.manager.root
    d.published = _published(root)
    d.staging = _staging(root)
    d.latest = d.manager.latest_iteration()
    d.lineage = d.manager.lineage()


def _published(root: str) -> list[int]:
    pat = re.compile(r"^iter=(\d{6,})$")
    names = os.listdir(os.path.join(root, "state"))
    return sorted(int(m.group(1)) for n in names if (m := pat.match(n)))


def _staging(root: str) -> list[str]:
    return [
        os.path.join(d, n)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
        if ".tmp" in n
    ]


def run_round(spark, ops: Ops, spec: Workload, g: Graph, corpus_path: str,
              work: str) -> Round:
    """PageRank and CC each checkpointed and stopped, LPA, an ingest pass of
    the corpus table, then PageRank and CC resumed, on set-up's graph ``g``.
    Each kernel is stopped early and resumed late, so its iterations sample
    the host at both ends of the round."""
    r = Round(graph=g)
    t0 = time.monotonic()
    with ops.tracer.span("round"):

        def pagerank(max_iter, checkpointer, initial_state, start):
            with ops.call("algo.pagerank_block"):
                return pagerank_block(
                    spark, g.csr, g.ids, tol=0.0,
                    max_iter=max_iter or PR_ITERS,
                    checkpointer=checkpointer,
                    initial_state=initial_state, start_iteration=start,
                )

        def components(max_iter, checkpointer, initial_state, start):
            with ops.call("algo.components_block"):
                return hash_min_components_block(
                    spark, g.csym, g.ids, max_iter=max_iter or 200,
                    checkpointer=checkpointer,
                    initial_state=initial_state, start_iteration=start,
                )

        def ckpt_root(name: str) -> str:
            return os.path.join(work, f"ckpt-{name}-{uuid.uuid4().hex}")

        r.pr, r.cc = Drill("pagerank"), Drill("components")
        checkpointed_leg(spark, ops, r.pr, ckpt_root("pagerank"), pagerank, spec.stop_at)
        checkpointed_leg(spark, ops, r.cc, ckpt_root("components"), components, spec.stop_at)

        with ops.call("algo.labelprop_block") as c:
            r.lpa = label_propagation_block(spark, g.csym, g.ids, max_iter=LPA_ITERS)
        r.lpa_s = c["s"]

        t = time.monotonic()
        with ops.tracer.span("phase.ingest"):
            r.reingested = ingest(spark, ops, corpus_path)
        r.ingest_s = time.monotonic() - t

        resumed_leg(ops, r.pr, pagerank)
        resumed_leg(ops, r.cc, components)
    r.workload_s = time.monotonic() - t0
    return r


def side_kernels(ops: Ops, r: Round) -> None:
    """Triangle count and HyperBall on the round's graph."""
    g = r.graph
    with ops.call("algo.triangles") as c:
        r.triangles = triangle_count_adjacency(g.sym, pre_symmetrized=True)
    r.tri_s = c["s"]
    with ops.call("algo.hyperball") as c:
        r.hb = hyperball(g.edges, g.ids, max_iter=HB_ITERS)
    r.hb_s = c["s"]


def probe_iterations(spark, ops: Ops, g: Graph, k: int) -> None:
    """Fixed-iteration calls with ``k`` and ``2k`` iterations, so a traced
    run can take per-iteration counts as (stats(2k) - stats(k)) / k."""
    for it in (k, 2 * k):
        with ops.call(f"probe.pagerank_block.{it}"):
            pagerank_block(spark, g.csr, g.ids, tol=0.0, max_iter=it)
        with ops.call(f"probe.components_block.{it}"):
            hash_min_components_block(spark, g.csym, g.ids, max_iter=it)
        with ops.call(f"probe.labelprop_block.{it}"):
            label_propagation_block(spark, g.csym, g.ids, max_iter=it)
        with ops.call(f"probe.hyperball.{it}"):
            hyperball(g.edges, g.ids, max_iter=it)
