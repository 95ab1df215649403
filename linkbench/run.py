"""Link-graph benchmark: one workload, one seed, one fresh Spark driver.

Run from the repository root::

    python3 linkbench/run.py --workload floor --seed 1 --seconds 30 --trace 0

Set-up starts the Spark session at ``local[<cores>]``, writes the seed's
synthetic source-code corpus (``synth_corpus``) as parquet and ingests it once
into the graph the rounds run on; the engine reads only that table. A round
of calls into the engine's public functions follows (see
:mod:`linkbench.workload`), repeated ``round(seconds / ROUND_S)`` times, at
least once, each end-to-end metric being the median over rounds. Every output
is checked after its round, outside the timers. ``--trace 1`` turns on Spark's
event log and job groups, adds untimed triangle, HyperBall and
fixed-iteration probe calls and reports the per-layer metrics instead.

All files go under ``.linkbench/`` in the repository root; the run's own
directory is removed when it ends. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".linkbench")
RECORDS = os.path.join(STATE, "untraced.jsonl")

E2E_UNITS = {
    "setup_s": "s",
    "ingest_s": "s",
    "pagerank_edges_per_s": "1/s",
    "fixpoint_s": "s",
    "checkpointed_run_s": "s",
    "resume_s": "s",
    "workload_s": "s",
    "peak_rss_mb": "MB",
}
DRIVER_MEMORY = "2g"  # local mode: the driver JVM is the executor
PROBE_K = 1  # per-iteration counts from k- and 2k-iteration probe calls


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _session(work: str, cpus: int, trace: bool):
    from webgraph_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap keeps the JVM's resident size from following GC timing
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work}/tmp "
        f"-Dderby.system.home={work}/tmp",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            }
        )
    spark = get_spark(
        app_name="linkbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _set_up(spark, tracer, ops, spec, seed: int, work: str):
    """The session's first jobs: write the seed's corpus table, then a first
    ingest pass over it, which pays most of the JIT, codegen and Python-worker
    start (cold, it costs five to seven times a warm pass). Returns the wall,
    the table's path and the graph the rounds run on."""
    from linkbench.workload import ingest
    from webgraph_spark.sources.corpus import synth_corpus

    path = os.path.join(work, "corpus.parquet")
    t = time.monotonic()
    with tracer.span("session.warmup"):
        synth_corpus(spark, spec.n_repos, spec.files_per_repo, seed=seed).write.parquet(path)
        graph = ingest(spark, ops, path)
    return time.monotonic() - t, path, graph


def _shut_down(spark) -> None:
    """Stop the session, end the JVM (it exits on EOF on its stdin) and wait
    until it and the Python workers it started are gone."""
    from pyspark import SparkContext

    from linkbench.host import descendants

    started = descendants(os.getpid())  # orphans once the JVM is gone
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{pid}") for pid in started
    ):
        time.sleep(0.1)


def _untraced_workload_s(workload: str, seed: int) -> float | None:
    """Recorded untraced ``workload_s``: this seed's runs, else all seeds'."""
    if not os.path.exists(RECORDS):
        return None
    with open(RECORDS) as f:
        rows = [r for r in map(json.loads, f) if r["workload"] == workload]
    same = [r["workload_s"] for r in rows if r["seed"] == seed]
    vals = same or [r["workload_s"] for r in rows]
    return statistics.median(vals) if vals else None


def _layer_metrics(args, tracer, work, rnd, setup, facts, workload_s) -> dict:
    from linkbench import eventlog, layers

    (log,) = os.listdir(os.path.join(work, "eventlog"))
    groups = eventlog.read(os.path.join(work, "eventlog", log))
    st = layers.SpanStats(tracer.spans, groups)
    out = layers.layer_metrics(st, rnd, setup, PROBE_K, facts)
    # traced minus untraced workload_s; with no untraced run recorded in this
    # checkout, only the time the tracer spent setting job groups
    reference = _untraced_workload_s(args.workload, args.seed)
    out["trace.overhead_s"] = (
        tracer.group_s if reference is None else workload_s - reference
    )
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    tracer.write(
        os.path.join(STATE, "traces", f"{args.workload}-{args.seed}-{tracer.run_id}.json")
    )
    return {k: {"value": v, "unit": layers.unit(k)} for k, v in out.items()}


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        from linkbench import checks, host, workload
        from linkbench.trace import Tracer
    except ImportError as e:  # not run from a checkout of the repository
        print(f"linkbench: {e}; run from the repository root", file=sys.stderr)
        return 2
    spec = workload.WORKLOADS.get(args.workload)
    if spec is None:
        print(f"linkbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workload.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(STATE, f"run-{run_id}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ops = workload.Ops(tracer)
    cpu0, load0 = host.cpu_times(), host.loadavg()
    rss = host.RssSampler().start()
    spark, rounds, outcomes, error = None, [], [], None
    try:
        t = time.monotonic()
        with tracer.span("session.start"):
            spark = _session(work, cpus, bool(args.trace))
        setup = {"start_s": time.monotonic() - t}
        tracer.sc = spark.sparkContext
        setup["warmup_s"], corpus_path, graph = _set_up(
            spark, tracer, ops, spec, args.seed, work
        )
        setup["setup_s"] = setup["start_s"] + setup["warmup_s"]

        oracle = checks.DuckOracle(spec.n_repos, spec.files_per_repo, args.seed)
        for _ in range(max(1, round(args.seconds / workload.ROUND_S))):
            rounds.append(workload.run_round(spark, ops, spec, graph, corpus_path, work))
            outcomes += checks.check_round(rounds[-1], spec, oracle)
            rounds[-1].reingested.unpersist()
        if args.trace:  # untimed calls: triangles, HyperBall and the probes
            workload.side_kernels(ops, rounds[-1])
            outcomes += checks.check_triangles(rounds[-1], oracle)
            workload.probe_iterations(spark, ops, graph, PROBE_K)
            facts = checks.csr_facts(graph.csr)
        oracle.close()
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        if spark is not None:
            _shut_down(spark)
        peak = rss.stop()
    cpu1, load1 = host.cpu_times(), host.loadavg()

    failed_checks = [o for o in outcomes if not o["ok"]]
    attempted = ops.attempted + len(outcomes)
    failed = ops.failed + len(failed_checks)
    if error is not None and ops.failed == 0:  # failed outside an engine call
        attempted, failed = attempted + 1, failed + 1
    metrics = {}
    if rounds and error is None:
        per_round = [r.metrics() for r in rounds]
        values = {k: statistics.median(m[k] for m in per_round) for k in per_round[0]}
        values["setup_s"] = setup["setup_s"]
        values["peak_rss_mb"] = peak / 2**20
        if args.trace:
            metrics = _layer_metrics(
                args, tracer, work, rounds[-1], setup, facts, values["workload_s"]
            )
        else:
            metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
            with open(RECORDS, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                    "workload_s": values["workload_s"]}) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    calls: dict[str, list[float]] = {}
    for sp in tracer.spans:
        if sp["end"] is not None:
            calls.setdefault(sp["name"], []).append(round(sp["end"] - sp["start"], 3))
    # diagnostics, not metrics: the host the run saw and each call's wall
    print("host " + json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "rounds": len(rounds),
        "nproc": os.cpu_count(),
        "parallelism": cpus,
        "loadavg_start": load0,
        "loadavg_end": load1,
        **host.cpu_shares(cpu0, cpu1),
    }))
    print("calls " + json.dumps(calls))
    print("checks " + json.dumps({
        "failed_ops_frac": failed / attempted if attempted else 1.0,
        "passed": len(outcomes) - len(failed_checks),
        "failed": {o["name"]: o["detail"] for o in failed_checks},
    }))
    print(json.dumps({
        "correct": error is None and not failed_checks and bool(rounds),
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
