"""End-to-end flagship job: corpus → link graph → CSR → analytics → tables.

The spark-submit entry point the north rule describes: run it locally
(`python scripts/demo_pipeline.py --files 5000`) or on a cluster
(`spark-submit --py-files dist/webgraph_spark.zip scripts/demo_pipeline.py`).

Pipeline: synthesize/ingest the source-code corpus, verify the sha256
invariant, derive the import graph, persist it with properties metadata,
compact to CSR blocks, run PageRank (checkpointed + resumable), connected
components, LPA, triangles, and write all result tables + a JSON report.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from webgraph_spark.algo.components import hash_min_components, renumber_by_size
from webgraph_spark.algo.labelprop import label_propagation
from webgraph_spark.algo.pagerank_block import pagerank_block
from webgraph_spark.algo.triangles import triangle_count_adjacency
from webgraph_spark.checkpoint import CheckpointManager
from webgraph_spark.plans.csr import build_csr, compression_stats
from webgraph_spark.session import get_spark, local_cpus
from webgraph_spark.sources.corpus import (
    corpus_edges,
    corpus_nodes,
    synth_corpus,
    verify_content_sha,
)
from webgraph_spark.sources.tables import save_csr, save_graph


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=5000)
    ap.add_argument("--repos", type=int, default=50)
    ap.add_argument("--out", default="/tmp/webgraph_demo")
    ap.add_argument("--cpus", default=local_cpus())
    ap.add_argument(
        "--pr-iters",
        type=int,
        default=200,
        help="PageRank iteration cap (lower it for smoke runs; "
        "convergence to tol 1e-9 needs ~140 at alpha=0.85)",
    )
    args = ap.parse_args()
    spark = get_spark(
        app_name="webgraph-demo",
        master=f"local[{args.cpus}]" if "SPARK_MASTER" not in os.environ else None,
        shuffle_partitions=int(args.cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {}
    t_start = time.monotonic()

    corpus = synth_corpus(
        spark, n_repos=args.repos, files_per_repo=args.files // args.repos
    ).persist()
    report["corpus_rows"] = corpus.count()
    report["sha_violations"] = verify_content_sha(corpus)
    assert report["sha_violations"] == 0

    nodes = corpus_nodes(corpus).persist()
    edges = corpus_edges(corpus, nodes, no_loops=True)
    meta = save_graph(edges, f"{args.out}/edges", {"source": "synth_corpus"})
    report["graph"] = {k: meta[k] for k in ("nodes", "arcs", "arc_checksum")}

    csr = build_csr(edges)
    save_csr(csr.blocks, f"{args.out}/csr")
    report["csr"] = compression_stats(csr)

    ckpt = CheckpointManager(spark, f"{args.out}/ckpt")
    ids = nodes.select("id")
    pr = pagerank_block(
        spark, csr, ids, tol=1e-9, max_iter=args.pr_iters, checkpointer=ckpt
    )
    report["pagerank"] = {
        "iterations": pr.iterations,
        "converged": pr.converged,
        "final_l1": pr.deltas[-1] if pr.deltas else None,
    }
    pr.ranks.write.mode("overwrite").parquet(f"{args.out}/ranks")
    top = (
        pr.ranks.join(nodes, "id")
        .orderBy(F.desc("rank"))
        .limit(5)
        .select("repo", "path", F.round("rank", 6).alias("rank"))
        .collect()
    )
    report["top_ranked_files"] = [
        {"repo": r["repo"], "path": r["path"], "rank": r["rank"]} for r in top
    ]

    cc = hash_min_components(edges, ids)
    renumber_by_size(cc.components).write.mode("overwrite").parquet(
        f"{args.out}/components"
    )
    report["cc_iterations"] = cc.iterations
    lpa = label_propagation(edges, ids, max_iter=5)
    lpa.labels.write.mode("overwrite").parquet(f"{args.out}/labels")
    report["lpa_labels"] = lpa.labels.select("label").distinct().count()
    report["triangles"] = triangle_count_adjacency(edges)
    report["wall_seconds"] = round(time.monotonic() - t_start, 1)

    with open(f"{args.out}/report.json", "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
