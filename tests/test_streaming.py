"""Streaming ingestion + warm-start incremental analytics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webgraph_spark.algo.pagerank import pagerank_edges
from webgraph_spark.streaming.ingest import ingest_arcs, read_edge_table


def _write(p, rows):
    p.write_text("".join(f"{a}\t{b}\n" for a, b in rows))


def test_streaming_ingest_two_batches(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write(in_dir / "batch0.tsv", [(0, 1), (1, 2), (0, 1)])
    ingest_arcs(spark, str(in_dir), table, ckpt)
    t1 = read_edge_table(spark, table)
    assert {(r["src"], r["dst"]) for r in t1.collect()} == {(0, 1), (1, 2)}

    # second wave of files: new arcs + duplicates of old ones
    (in_dir / "batch1.tsv").write_text(
        "1\t2\n2\t3\n3\t0\nnot_a_number\tx\n\n"  # malformed lines dropped
    )
    ingest_arcs(spark, str(in_dir), table, ckpt)
    t2 = read_edge_table(spark, table)
    assert {(r["src"], r["dst"]) for r in t2.collect()} == {
        (0, 1), (1, 2), (2, 3), (3, 0),
    }


def test_warm_start_pagerank_converges_faster(spark):
    arcs = [(i, (i + 1) % 20) for i in range(20)] + [(0, 10), (5, 15)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    cold = pagerank_edges(edges, nodes, tol=1e-7, max_iter=150)
    assert cold.converged

    # add one arc; warm-start from the converged vector
    edges2 = edges.unionByName(
        spark.createDataFrame([(7, 3)], "src long, dst long")
    )
    warm = pagerank_edges(edges2, nodes, tol=1e-7, max_iter=150)
    # build a warm variant manually: seed ranks with cold result
    from webgraph_spark.algo.pagerank import pagerank_numpy
    from webgraph_spark.algo.pagerank_block import pagerank_block
    from webgraph_spark.plans.csr import build_csr

    csr2 = build_csr(edges2, num_blocks=2)
    warm_csr = pagerank_block(
        spark, csr2, nodes, tol=1e-7, max_iter=150, initial=cold.ranks,
    )
    assert warm_csr.converged
    assert warm_csr.iterations < warm.iterations  # warm start saves rounds
    # and reaches the same fixpoint as the numpy oracle on the new graph
    import numpy as np

    oracle = pagerank_numpy(
        [(r["src"], r["dst"]) for r in edges2.collect()], 20, tol=1e-12,
        max_iter=400,
    )
    got = {r["id"]: r["rank"] for r in warm_csr.ranks.collect()}
    vec = np.array([got[i] for i in range(20)])
    assert np.allclose(vec, oracle, atol=1e-5)


def test_streaming_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState dedup: first occurrence per fingerprint wins
    across micro-batches; later duplicates (same normalized text) drop."""
    from webgraph_spark.streaming.stateful import streaming_dedup

    in_dir = tmp_path / "docs"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")

    # batch 1: two unique docs + an intra-batch dup (doc 7 dups doc 1)
    (in_dir / "a.csv").write_text("1\thello world\n2\tother text\n7\thello   world\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("sep", "\t")
        .option("maxFilesPerTrigger", 1)
        .csv(str(in_dir))
    )
    out = streaming_dedup(stream)

    def run_drain():
        q = (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_drain()
    got1 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {1, 2}  # min doc id kept; 7 dropped as intra-batch dup

    # batch 2: cross-batch dup of doc 2 + one genuinely new doc
    (in_dir / "b.csv").write_text("9\tother  text\n5\tbrand new\n")
    run_drain()
    rows = spark.read.parquet(out_dir).collect()
    got2 = {r["doc_id"] for r in rows}
    assert got2 == {1, 2, 5}  # 9 deduped against state from batch 1
    assert len(rows) == 3


def test_streaming_windowed_counts_watermark(spark, tmp_path):
    from webgraph_spark.streaming.stateful import windowed_event_counts

    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    out_dir = str(tmp_path / "evout")
    ckpt = str(tmp_path / "evck")
    (in_dir / "e.csv").write_text(
        "2024-01-01 10:00:00\tclick\t1.5\n"
        "2024-01-01 11:00:00\tclick\t2.0\n"
        "2024-01-02 09:00:00\tview\t1.0\n"
    )
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("sep", "\t")
        .csv(str(in_dir))
    )
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (str(r["day"])[:10], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # append mode only emits windows finalized by the watermark: the max ts
    # is Jan 2 09:00, watermark 2 days -> nothing finalized yet on a single
    # drain; a second drain after more data closes earlier windows. To keep
    # the availableNow test deterministic, accept either the finalized
    # subset or emptiness here and assert exact content after a late batch.
    (in_dir / "late.csv").write_text("2024-01-05 00:00:00\tview\t3.0\n")
    q2 = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    rows = {
        (str(r["day"])[:10], r["event_type"]): (r["n"], round(r["total_value"], 3))
        for r in spark.read.parquet(out_dir).collect()
    }
    assert rows[("2024-01-01", "click")] == (2, 3.5)
    assert rows[("2024-01-02", "view")] == (1, 1.0)
