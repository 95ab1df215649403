"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Times come from the benchmark's own timers; jobs, stages, tasks, bytes and
executor times come from the Spark event log, attributed to spans through
their job groups. Per-iteration counts are taken from outside as
``(stats(2k) - stats(k)) / k`` over the fixed-iteration probe calls.
"""

from __future__ import annotations

import statistics

import numpy as np

from linkbench import eventlog
from linkbench.eventlog import GroupStats


def unit(name: str) -> str:
    base = name.removesuffix("_per_iter")
    if base.endswith("_per_s"):
        return "1/s"
    if base.endswith("bits_per_link"):
        return "bits/link"
    if "bytes" in base:
        return "bytes"
    if base.endswith("_s") or "_s_p" in base:
        return "s"
    if base.endswith("_frac"):
        return "frac"
    return "count"


class SpanStats:
    """Event-log totals of a span and all spans below it."""

    def __init__(self, spans: list[dict], groups: dict[str | None, GroupStats]):
        self.spans = spans
        self.groups = groups
        self.children: dict[str, list[dict]] = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def total(self, span: dict) -> GroupStats:
        out = GroupStats()
        todo = [span]
        while todo:
            s = todo.pop()
            out.add(self.groups.get(s["id"], GroupStats()))
            todo.extend(self.children.get(s["id"], ()))
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def summed(self, name: str) -> GroupStats:
        """Totals over every span called ``name``."""
        out = GroupStats()
        for s in self.named(name):
            out.add(self.total(s))
        return out

    def per_iteration(self, probe: str, k: int) -> dict[str, float]:
        (a,) = self.named(f"{probe}.{k}")
        (b,) = self.named(f"{probe}.{2 * k}")
        sa, sb = self.total(a), self.total(b)
        tasks = sb.tasks - sa.tasks
        gap_a = eventlog.driver_gap_s(sa, a["start"], a["end"])
        gap_b = eventlog.driver_gap_s(sb, b["start"], b["end"])
        return {
            "jobs_per_iter": (sb.jobs - sa.jobs) / k,
            "stages_per_iter": (sb.stages - sa.stages) / k,
            "tasks_per_iter": tasks / k,
            "empty_task_frac": (sb.empty_tasks - sa.empty_tasks) / tasks if tasks else 0.0,
            "shuffle_bytes_per_iter": (sb.shuffle_write_bytes - sa.shuffle_write_bytes) / k,
            "executor_run_s_per_iter": (sb.executor_run_ms - sa.executor_run_ms) / 1000 / k,
            "deserialize_s_per_iter": (sb.deserialize_ms - sa.deserialize_ms) / 1000 / k,
            "driver_gap_s_per_iter": (gap_b - gap_a) / k,
        }


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _iter_stats(it: list[float], prep_s: float, iterations: int, p90: bool = False) -> dict:
    out = {
        "prep_s": prep_s,
        "iter_s_p50": statistics.median(it),
        "iterations": iterations,
    }
    if p90:
        out["iter_s_p90"] = float(np.percentile(it, 90))
    return out


def layer_metrics(st: SpanStats, rnd, setup: dict, k: int, facts: dict) -> dict:
    """All per-layer metrics of one traced run."""
    out: dict[str, float] = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
    }
    g = rnd.graph

    # ingest layers: medians over ingest passes, event-log totals per pass
    passes = st.named("phase.ingest")
    kids = [st.children[p["id"]] for p in passes]

    def med(name: str) -> float:
        return statistics.median(
            sum(_dur(s) for s in ks if s["name"] == name) for ks in kids
        )

    def per_pass(prefix: str) -> GroupStats:
        tot = GroupStats()
        for ks in kids:
            for s in ks:
                if s["name"].startswith(prefix):
                    tot.add(st.total(s))
        return tot

    src = per_pass("sources.corpus.")
    n_pass = len(passes)
    sha_s = med("sources.corpus.verify_content_sha")
    nodes_s = med("sources.corpus.corpus_nodes")
    edges_s = med("sources.corpus.corpus_edges")
    out.update(
        {
            "sources.corpus.verify_sha_s": sha_s,
            "sources.corpus.nodes_s": nodes_s,
            "sources.corpus.edges_s": edges_s,
            "sources.corpus.edges": g.m,
            "sources.corpus.rows_per_s": g.n / (sha_s + nodes_s + edges_s),
            "sources.corpus.jobs": src.jobs / n_pass,
            "sources.corpus.shuffle_bytes": src.shuffle_write_bytes / n_pass,
            "sources.corpus.executor_run_s": src.executor_run_ms / 1000 / n_pass,
            "sources.corpus.spill_bytes": src.spill_bytes / n_pass,
        }
    )
    sym = per_pass("plans.partitioning.")
    csr = per_pass("plans.csr.")
    out.update(
        {
            "plans.partitioning.symmetrize_s": med("plans.partitioning.symmetrize_for_join"),
            "plans.partitioning.shuffle_bytes": sym.shuffle_write_bytes / n_pass,
            "plans.csr.build_s": med("plans.csr.build_csr"),
            "plans.csr.blocks": facts["blocks"],
            "plans.csr.bits_per_link": facts["bits_per_link"],
            "plans.csr.shuffle_bytes": csr.shuffle_write_bytes / n_pass,
        }
    )

    lpa = rnd.lpa
    for layer, probe, vals in (
        ("algo.pagerank_block", "probe.pagerank_block",
         _iter_stats(rnd.pr.iter_seconds, rnd.pr.prep_s, rnd.pr.resumed.iterations, p90=True)),
        ("algo.components_block", "probe.components_block",
         _iter_stats(rnd.cc.iter_seconds, rnd.cc.prep_s, rnd.cc.resumed.iterations)),
        ("algo.labelprop_block", "probe.labelprop_block",
         _iter_stats(lpa.iter_seconds, rnd.lpa_s - sum(lpa.iter_seconds), lpa.iterations)),
    ):
        vals.update(st.per_iteration(probe, k))
        out.update({f"{layer}.{name}": v for name, v in vals.items()})
    cc_changed = rnd.cc.first.changed_per_iter + rnd.cc.resumed.changed_per_iter
    out["algo.components_block.changed_frac"] = sum(cc_changed) / (
        g.n * rnd.cc.resumed.iterations
    )
    out["algo.labelprop_block.changed_frac"] = sum(lpa.changed_per_iter) / (
        g.n * lpa.iterations
    )

    hb = st.per_iteration("probe.hyperball", k)
    out.update(
        {
            "algo.hyperball.call_s": rnd.hb_s,
            "algo.hyperball.iter_s_p50": statistics.median(rnd.hb.iter_seconds),
            "algo.hyperball.iterations": rnd.hb.iterations,
            "algo.hyperball.jobs_per_iter": hb["jobs_per_iter"],
            "algo.hyperball.shuffle_bytes_per_iter": hb["shuffle_bytes_per_iter"],
            "algo.hyperball.executor_run_s_per_iter": hb["executor_run_s_per_iter"],
            "algo.hyperball.driver_gap_s_per_iter": hb["driver_gap_s_per_iter"],
        }
    )

    # event-log totals per call, over every round's calls
    tri = st.summed("algo.triangles")
    n_tri = len(st.named("algo.triangles"))
    out.update(
        {
            "algo.triangles.count_s": rnd.tri_s,
            "algo.triangles.shuffle_bytes": tri.shuffle_write_bytes / n_tri,
            "algo.triangles.executor_run_s": tri.executor_run_ms / 1000 / n_tri,
            "algo.triangles.spill_bytes": tri.spill_bytes / n_tri,
        }
    )

    save_s = rnd.pr.save_s + rnd.cc.save_s
    saves = st.summed("checkpoint.save_iteration")
    out.update(
        {
            "checkpoint.save_s_p50": statistics.median(save_s),
            "checkpoint.jobs_per_save": saves.jobs / len(st.named("checkpoint.save_iteration")),
            "checkpoint.bytes_per_save": statistics.mean(rnd.pr.save_bytes + rnd.cc.save_bytes),
            "checkpoint.saves": len(save_s),
            "checkpoint.load_s": statistics.median([rnd.pr.load_s, rnd.cc.load_s]),
        }
    )

    run = GroupStats()
    for grp in st.groups.values():
        run.add(grp)
    out.update(
        {
            "spark.gc_s": run.gc_ms / 1000,
            "spark.fetch_wait_s": run.fetch_wait_ms / 1000,
            "spark.failed_tasks": run.failed_tasks,
        }
    )
    return out
