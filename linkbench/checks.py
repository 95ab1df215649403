"""Output checks, run outside every timer.

Each oracle is independent of the engine: DuckDB regenerates the corpus edges
from ``corpus_sql_ctes`` and counts triangles in SQL; numpy runs the PageRank
power iteration; a union-find labels components.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

from linkbench.workload import PR_ITERS
from webgraph_spark.plans.csr import compression_stats, verify_accounting
from webgraph_spark.sources.corpus import corpus_sql_ctes


# resumed PageRank vs the power iteration, relative: the fixed-iteration
# block kernel agrees with it to a few ulps
RESUME_RTOL = 1e-12


def edge_checksum(src: np.ndarray, dst: np.ndarray) -> int:
    """Order-insensitive checksum of a set of (src, dst) pairs."""
    with np.errstate(over="ignore"):
        h = src.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + dst.astype(
            np.uint64
        )
        h ^= h >> np.uint64(31)
        h *= np.uint64(0xBF58476D1CE4E5B9)
        return int(h.sum(dtype=np.uint64))


class DuckOracle:
    """The corpus edge list and triangle count, derived in DuckDB."""

    def __init__(self, n_repos: int, files_per_repo: int, seed: int):
        ctes = corpus_sql_ctes(n_repos, files_per_repo, seed=seed)
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE edges AS WITH {ctes['idx']}, {ctes['imp']}, "
            f"{ctes['edges']} SELECT src, dst FROM cedges"
        )

    def edges(self) -> tuple[np.ndarray, np.ndarray]:
        df = self.con.execute("SELECT src, dst FROM edges").fetchnumpy()
        return np.asarray(df["src"], np.int64), np.asarray(df["dst"], np.int64)

    def triangles(self) -> int:
        return self.con.execute(
            """
            WITH und AS (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges
            )
            SELECT count(*) FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            """
        ).fetchone()[0]

    def close(self) -> None:
        self.con.close()


def pagerank_power(
    src: np.ndarray, dst: np.ndarray, n: int, iterations: int, alpha: float = 0.85
) -> np.ndarray:
    """Plain power iteration from the uniform vector; dangling mass and
    teleport are spread uniformly."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    dangling = deg == 0
    for _ in range(iterations):
        contrib = np.bincount(dst, weights=r[src] / deg[src], minlength=n)
        r = (1 - alpha) / n + alpha * (contrib + r[dangling].sum() / n)
    return r


def union_find_labels(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Component label = the smallest node id in the node's component."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(x) for x in range(n)], dtype=np.int64)


def dense(pdf, value: str, n: int) -> np.ndarray:
    """(id, value) frame -> dense vector indexed by id; ids must be 0..n-1."""
    ids = pdf["id"].to_numpy(np.int64)
    if len(ids) != n or len(np.unique(ids)) != n:
        raise ValueError(f"expected {n} distinct ids, got {len(ids)}")
    out = np.empty(n, dtype=pdf[value].dtype)
    out[ids] = pdf[value].to_numpy()
    return out


def csr_facts(csr) -> dict:
    """Block count and bits per link of a CSR, for the traced run."""
    stats = compression_stats(csr)
    return {"blocks": stats["blocks"], "bits_per_link": stats["bits_per_link"]}


def check_triangles(rnd, oracle: DuckOracle) -> list[dict]:
    tri = oracle.triangles()
    return [{"name": "triangles_duckdb", "ok": rnd.triangles == tri,
             "detail": f"{rnd.triangles} vs {tri}"}]


def check_round(rnd, spec, oracle: DuckOracle) -> list[dict]:
    """Every output check of one round, as ``{"name", "ok", "detail"}``."""
    g = rnd.graph
    out: list[dict] = []

    def check(name: str, ok: bool, detail: object = "") -> None:
        out.append({"name": name, "ok": bool(ok), "detail": str(detail)})

    src, dst = oracle.edges()
    want = (len(src), edge_checksum(src, dst))
    for tag, gr in (("", g), ("_reingested", rnd.reingested)):
        check(f"content_sha{tag}", gr.sha_violations == 0, gr.sha_violations)
        check(f"node_count{tag}", gr.n == spec.files, gr.n)
        e = gr.edges.select("src", "dst").toPandas()
        got = (len(e), edge_checksum(e["src"].to_numpy(), e["dst"].to_numpy()))
        check(f"edges_match_duckdb{tag}", got == want, f"{got} vs {want}")

    acct = {"pagerank": verify_accounting(g.csr), "components": verify_accounting(g.csym)}
    check("csr_accounting", all(a["ok"] for a in acct.values()), acct)

    # PageRank and CC run only as checkpoint drills (stopped, then resumed),
    # so the resumed result is held to the oracles: the block kernel's
    # arithmetic matches the power iteration to rounding, while a lost or
    # repeated iteration moves ranks by orders of magnitude more
    ranks = dense(rnd.pr.resumed.ranks.toPandas(), "rank", g.n)
    oracle_ranks = pagerank_power(src, dst, g.n, PR_ITERS)
    err = float(np.max(np.abs(ranks - oracle_ranks) / oracle_ranks))
    check("pagerank_power_iteration", err <= 1e-6, err)
    check("pagerank_resume_exact", err <= RESUME_RTOL, err)

    comps = dense(rnd.cc.resumed.components.toPandas(), "comp", g.n)
    uf = union_find_labels(src, dst, g.n)
    check("components_resume_union_find", np.array_equal(comps, uf), int((comps != uf).sum()))


    for d in (rnd.pr, rnd.cc):
        saves = len(d.save_s)
        check(f"{d.label}_latest_is_saves", d.latest == saves == len(d.published),
              f"latest {d.latest}, saves {saves}, published {d.published}")
        blocks = acct[d.label]["blocks"]
        per_iter = d.lineage.groupby("iteration")["row_count"].sum()
        check(f"{d.label}_lineage_per_block",
              list(per_iter.index) == d.published and bool((per_iter == blocks).all()),
              f"{dict(per_iter)} vs {blocks} blocks")
        # a reused root would let save_iteration skip existing iterations
        check(f"{d.label}_fresh_root", d.fresh_root
              and set(d.lineage["run_id"]) == {d.manager.run_id}, d.manager.run_id)
        check(f"{d.label}_no_staging_left", not d.staging, d.staging)
        d.manager.clear()
        check(f"{d.label}_root_removed", not os.path.exists(d.manager.root))
    return out
