"""Checkpoint/resume with per-partition lineage (north_rule M5).

The kill-and-resume contract: a run interrupted after iteration k, resumed
from the checkpoint, must produce the same final state as an uninterrupted
run (allclose for float state; exact for integer state)."""

from __future__ import annotations

import numpy as np

from tests.oracles import er_arcs
from webgraph_spark.algo.components import hash_min_components
from webgraph_spark.algo.components_block import hash_min_components_block
from webgraph_spark.algo.pagerank_block import pagerank_block
from webgraph_spark.checkpoint import CheckpointManager, partition_lineage
from webgraph_spark.plans.csr import build_csr
from webgraph_spark.plans.partitioning import symmetrize_for_join


def _vec(df, n):
    out = np.zeros(n)
    for r in df.collect():
        out[r["id"]] = r["rank"]
    return out


def test_lineage_accounting(spark, tmp_path):
    df = spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(4)
    lin = partition_lineage(df)
    assert lin["row_count"].sum() == 1000
    # checksum reproducible
    lin2 = partition_lineage(df)
    assert sorted(lin["checksum"]) == sorted(lin2["checksum"])


def test_cc_resume_exact(spark, tmp_path):
    arcs = [(i, i + 1) for i in range(40)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    full = hash_min_components(edges, max_iter=50)
    csr = build_csr(symmetrize_for_join(edges, "src"))
    nodes = spark.range(41)
    ck = CheckpointManager(spark, str(tmp_path / "cc"), run_id="c1")
    hash_min_components_block(spark, csr, nodes, max_iter=3, checkpointer=ck)
    state = ck.load_iteration(ck.latest_iteration())
    resumed = hash_min_components_block(
        spark, csr, nodes, max_iter=50, initial_state=state, start_iteration=3
    )
    a = {r["id"]: r["comp"] for r in full.components.collect()}
    b = {r["id"]: r["comp"] for r in resumed.components.collect()}
    assert a == b


def test_pagerank_checkpoint_and_resume(spark, tmp_path):
    n = 80
    arcs = er_arcs(n, 0.05, 4)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.range(n).selectExpr("id")
    csr = build_csr(edges, num_blocks=3)

    # Uninterrupted run.
    full = pagerank_block(spark, csr, nodes, tol=1e-10, max_iter=60)
    assert full.converged

    # Interrupted run: stop after 5 iterations (simulated kill), resume.
    ck_root = str(tmp_path / "ck")
    ck = CheckpointManager(spark, ck_root, run_id="r1")
    pagerank_block(spark, csr, nodes, tol=1e-10, max_iter=5, checkpointer=ck)
    last = ck.latest_iteration()
    assert last == 5
    state = ck.load_iteration(last)
    ck2 = CheckpointManager(spark, ck_root, run_id="r2")
    resumed = pagerank_block(
        spark, csr, nodes, tol=1e-10, max_iter=60,
        checkpointer=ck2, initial_state=state, start_iteration=last,
    )
    assert resumed.converged
    assert np.allclose(_vec(full.ranks, n), _vec(resumed.ranks, n), atol=1e-12)

    # Lineage: every iteration accounted at block granularity (3 state rows
    # per iteration), wall time recorded.
    lin = ck.lineage()
    per_iter = lin.groupby("iteration")["row_count"].sum()
    assert (per_iter == 3).all()
    assert (lin["wall_ms"] > 0).all()
    assert {"run_id", "iteration", "partition_id", "row_count", "checksum",
            "wall_ms", "delta"} <= set(lin.columns)


def test_pagerank_block_resume_allclose(spark, tmp_path):
    n = 80
    arcs = er_arcs(n, 0.05, 4)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.range(n).selectExpr("id")
    csr = build_csr(edges, num_blocks=3)

    full = pagerank_block(spark, csr, nodes, tol=0.0, max_iter=20)
    ck = CheckpointManager(spark, str(tmp_path / "prb"), run_id="b1")
    pagerank_block(spark, csr, nodes, tol=0.0, max_iter=5, checkpointer=ck)
    last = ck.latest_iteration()
    assert last == 5
    resumed = pagerank_block(
        spark, csr, nodes, tol=0.0, max_iter=20,
        initial_state=ck.load_iteration(last), start_iteration=last,
    )
    # fixed-iteration, no extrapolation: resume is bit-identical arithmetic
    assert np.allclose(_vec(full.ranks, n), _vec(resumed.ranks, n), atol=0.0)
    # lineage granularity = blocks: 3 state rows per iteration
    lin = ck.lineage()
    assert (lin.groupby("iteration")["row_count"].sum() == 3).all()


def test_block_cc_and_lpa_resume_exact(spark, tmp_path):
    from webgraph_spark.algo.labelprop_block import label_propagation_block

    arcs = [(i, i + 1) for i in range(40)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(41)], "id long")
    csr = build_csr(symmetrize_for_join(edges, "src"), num_blocks=3)

    full = hash_min_components_block(spark, csr, nodes, max_iter=50)
    ck = CheckpointManager(spark, str(tmp_path / "ccb"), run_id="c1")
    hash_min_components_block(spark, csr, nodes, max_iter=3, checkpointer=ck)
    resumed = hash_min_components_block(
        spark, csr, nodes, max_iter=50,
        initial_state=ck.load_iteration(ck.latest_iteration()),
        start_iteration=3,
    )
    a = {r["id"]: r["comp"] for r in full.components.collect()}
    b = {r["id"]: r["comp"] for r in resumed.components.collect()}
    assert a == b

    lfull = label_propagation_block(spark, csr, nodes, max_iter=6)
    ck2 = CheckpointManager(spark, str(tmp_path / "lpb"), run_id="l1")
    label_propagation_block(spark, csr, nodes, max_iter=2, checkpointer=ck2)
    lres = label_propagation_block(
        spark, csr, nodes, max_iter=6,
        initial_state=ck2.load_iteration(ck2.latest_iteration()),
        start_iteration=2,
    )
    la = {r["id"]: r["label"] for r in lfull.labels.collect()}
    lb = {r["id"]: r["label"] for r in lres.labels.collect()}
    assert la == lb


def test_resume_from_partially_written_iteration(spark, tmp_path):
    """Kill-mid-WRITE drill (round-3 verdict item 10): a run killed while
    iteration k+1's state parquet was still streaming into its staging dir
    leaves `iter=NNNNNN.tmp-<uuid>` + a `.parquet.tmp` lineage file behind.
    The atomic-rename contract says those partial artifacts are invisible:
    resume sees k as latest, re-runs k+1, publishes it cleanly, and the
    final state matches an uninterrupted run."""
    import os

    n = 80
    arcs = er_arcs(n, 0.05, 4)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = spark.range(n).selectExpr("id")
    csr = build_csr(edges, num_blocks=3)

    full = pagerank_block(spark, csr, nodes, tol=1e-10, max_iter=60)
    assert full.converged

    root = str(tmp_path / "ck")
    ck = CheckpointManager(spark, root, run_id="k1")
    pagerank_block(spark, csr, nodes, tol=1e-10, max_iter=3, checkpointer=ck)

    # simulate the kill: a half-written iteration-4 staging dir (truncated,
    # unreadable parquet bytes) and its in-flight lineage temp file
    partial = os.path.join(root, "state", "iter=000004.tmp-deadbeef")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1\x00\x01truncated-mid-write")
    with open(
        os.path.join(root, "lineage", "iter_000004.parquet.tmp"), "wb"
    ) as f:
        f.write(b"PAR1\x00garbage")

    # read side: partial artifacts are invisible
    ck2 = CheckpointManager(spark, root, run_id="k2")
    assert ck2.latest_iteration() == 3
    assert set(ck2.lineage()["iteration"]) == {1, 2, 3}

    # resume re-runs iteration 4 and publishes it over the wreckage
    resumed = pagerank_block(
        spark, csr, nodes, tol=1e-10, max_iter=60,
        checkpointer=ck2, initial_state=ck2.load_iteration(3),
        start_iteration=3,
    )
    assert resumed.converged
    assert np.allclose(_vec(full.ranks, n), _vec(resumed.ranks, n), atol=1e-12)
    # iteration 4 is now a clean publish: readable state (one row per
    # block) + exactly one lineage record; the stale staging dir still
    # doesn't surface
    assert ck2.load_iteration(4).count() == 3
    lin4 = ck2.lineage().query("iteration == 4")
    assert lin4["row_count"].sum() == 3
    assert lin4["run_id"].unique().tolist() == ["k2"]


def test_pagerank_block_sigkill_mid_fixpoint_resume(spark, tmp_path):
    """Round-4 verdict item 7: the drill above simulates the kill's
    filesystem wreckage; this one actually DELIVERS it. A separate driver
    process runs pagerank_block with per-iteration checkpoints and is
    SIGKILL'd (whole process group — JVM included) as soon as iteration 3
    publishes, i.e. mid-fixpoint and quite possibly mid-write of the next
    iteration. Resume from whatever survived must hash-match an
    uninterrupted run of the same deterministic arithmetic.

    The victim SAVES its CSR layout (block cuts included) and the resumer
    loads it rather than rebuilding: block cuts come from approxQuantile,
    whose sketch depends on input partitioning, so a layout rebuilt in a
    different session need not match the checkpointed block state — at
    scale the layout is a persisted table and resume reads THE layout the
    killed run used (same contract as BVGraph's offsets living next to
    the graph file)."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    from webgraph_spark.algo.pagerank_block import pagerank_block
    from webgraph_spark.plans.csr import CsrGraph

    n = 120
    root = str(tmp_path / "killdrill")
    csr_path = str(tmp_path / "csr")
    script = tmp_path / "victim.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, {repr(os.getcwd())})
from tests.oracles import er_arcs
from webgraph_spark.algo.pagerank_block import pagerank_block
from webgraph_spark.checkpoint import CheckpointManager
from webgraph_spark.plans.csr import build_csr
from webgraph_spark.session import get_spark
from webgraph_spark.sources.tables import save_csr

spark = get_spark("kill-victim", master="local[2]", shuffle_partitions=2,
                  extra_conf={{"spark.ui.enabled": "false",
                               "spark.driver.memory": "2g"}})
edges = spark.createDataFrame(er_arcs({n}, 0.05, 4), "src long, dst long")
csr = build_csr(edges, num_blocks=3)
save_csr(csr.blocks, {repr(csr_path)},
         properties={{"cuts": csr.cuts, "num_edges": csr.num_edges}})
ck = CheckpointManager(spark, {repr(root)}, run_id="victim")
pagerank_block(spark, csr, spark.range({n}).selectExpr("id"),
               tol=0.0, max_iter=12, extrapolate=False, checkpointer=ck)
"""
    )
    env = dict(os.environ, PYTHONPATH=os.getcwd())
    proc = subprocess.Popen(
        [sys.executable, str(script)], cwd=os.getcwd(), env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,  # own process group: the kill takes the JVM too
    )
    def kill():
        # the victim can exit between a poll and the kill
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def published():
        return os.path.isdir(os.path.join(root, "state", "iter=000003"))

    deadline = time.time() + 180
    try:
        while time.time() < deadline and proc.poll() is None and not published():
            time.sleep(0.05)
        # checked again: the victim can publish, or finish, between two polls
        if not published():
            raise AssertionError("victim never published iteration 3")
        kill()
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            kill()

    ck2 = CheckpointManager(spark, root, run_id="resumer")
    latest = ck2.latest_iteration()
    assert latest is not None and 3 <= latest <= 12

    with open(os.path.join(csr_path, "_meta.json")) as f:
        meta = json.load(f)
    csr = CsrGraph(
        blocks=spark.read.parquet(csr_path),
        cuts=meta["cuts"],
        num_edges=meta["num_edges"],
    )
    nodes = spark.range(n).selectExpr("id")
    full = pagerank_block(spark, csr, nodes, tol=0.0, max_iter=12,
                          extrapolate=False)
    resumed = pagerank_block(
        spark, csr, nodes, tol=0.0, max_iter=12, extrapolate=False,
        initial_state=ck2.load_iteration(latest), start_iteration=latest,
    )
    # fixed-iteration, no extrapolation: identical arithmetic -> exact match
    assert np.allclose(_vec(full.ranks, n), _vec(resumed.ranks, n), atol=0.0)


def test_latest_iteration_widths_beyond_six_digits(spark, tmp_path):
    """f"{i:06d}" is a MINIMUM width: iteration 1,000,000 publishes a
    7-digit dir and must stay visible to resume (the {6,} regex), while
    staging dirs of any width stay invisible."""
    import os

    root = str(tmp_path / "wide")
    ck = CheckpointManager(spark, root, run_id="w")
    sd = os.path.join(root, "state")
    os.makedirs(os.path.join(sd, "iter=000007"))
    os.makedirs(os.path.join(sd, "iter=1000000"))
    os.makedirs(os.path.join(sd, "iter=1000001.tmp-deadbeef"))
    assert ck.latest_iteration() == 1_000_000
