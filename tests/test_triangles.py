"""Triangle counting: closed-form + brute-force oracle + DuckDB SQL oracle."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.oracles import er_arcs, triangles_brute
from webgraph_spark.algo.triangles import (
    global_clustering_coefficient,
    local_clustering_coefficient,
    triangle_count_adjacency,
    triangles_per_vertex,
)


def test_complete_k7(spark):
    arcs = [(i, j) for i in range(7) for j in range(7) if i != j]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    assert triangle_count_adjacency(edges) == 35  # C(7,3)
    per_v = {r["id"]: r["triangles"] for r in triangles_per_vertex(edges).collect()}
    assert per_v == {i: 15 for i in range(7)}  # C(6,2)


def test_cycle_no_triangles(spark):
    arcs = [(i, (i + 1) % 40) for i in range(40)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    assert triangle_count_adjacency(edges) == 0


def test_loops_and_duplicates_ignored(spark):
    arcs = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 0), (0, 2), (0, 2)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    assert triangle_count_adjacency(edges) == 1


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_er_vs_brute_and_duckdb(spark, seed):
    n = 60
    arcs = er_arcs(n, 0.08, seed)
    edges = spark.createDataFrame(arcs, "src long, dst long")
    cnt = triangle_count_adjacency(edges)
    expect_cnt, expect_pv = triangles_brute(arcs, range(n))
    assert cnt == expect_cnt
    got_pv = {
        r["id"]: r["triangles"] for r in triangles_per_vertex(edges).collect()
    }
    assert got_pv == expect_pv
    # Independent SQL oracle (canonical low<mid<high triple join).
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", arcs)
    sql_cnt = con.execute(
        """
        WITH u AS (
          SELECT LEAST(src,dst) a, GREATEST(src,dst) b FROM e
          WHERE src <> dst GROUP BY 1, 2
        )
        SELECT count(*) FROM u e1 JOIN u e2 ON e1.b = e2.a
        JOIN u e3 ON e1.a = e3.a AND e2.b = e3.b
        """
    ).fetchone()[0]
    assert cnt == sql_cnt


def test_adjacency_variant_matches_wedge(spark):
    for seed in (1, 2):
        arcs = er_arcs(25, 0.15, seed)
        edges = spark.createDataFrame(arcs, "src long, dst long")
        expect_cnt, _ = triangles_brute(arcs, range(25))
        assert triangle_count_adjacency(edges) == expect_cnt


@pytest.mark.parametrize("shift", [0, 2**31, 2**40])
def test_adjacency_int32_narrowing_boundary(spark, shift):
    # the adjacency kernel narrows ids long->int only when max id < 2^31;
    # shifted copies of the same graph must count identically on both the
    # narrowed and the long fallback path
    arcs = [(a + shift, b + shift) for a, b in er_arcs(30, 0.12, 7)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    expect_cnt, _ = triangles_brute(arcs, {x for ab in arcs for x in ab})
    assert triangle_count_adjacency(edges) == expect_cnt


def test_wedge_agg_variant_matches(spark):
    # the per-vertex listing explodes the same intersect the count sums:
    # every triangle is listed once at each of its three corners
    for seed in (1, 2, 3):
        arcs = er_arcs(25, 0.15, seed)
        edges = spark.createDataFrame(arcs, "src long, dst long")
        expect_cnt, _ = triangles_brute(arcs, range(25))
        per_v = triangles_per_vertex(edges).agg(F.sum("triangles")).first()[0]
        assert per_v == 3 * triangle_count_adjacency(edges) == 3 * expect_cnt


@pytest.mark.parametrize("shift", [0, 2**31])
def test_wedge_agg_int32_narrowing_boundary(spark, shift):
    # per-vertex listing on the narrowed (shift 0) and long (shift 2^31)
    # paths: ids come back as the caller's longs either way
    arcs = [(a + shift, b + shift) for a, b in er_arcs(30, 0.12, 7)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    _, expect_pv = triangles_brute(arcs, {x for ab in arcs for x in ab})
    got_pv = {
        r["id"]: r["triangles"] for r in triangles_per_vertex(edges).collect()
    }
    assert got_pv == expect_pv


@pytest.mark.parametrize(
    "entry",
    [
        triangle_count_adjacency,
        triangles_per_vertex,
        local_clustering_coefficient,
        global_clustering_coefficient,
    ],
)
def test_triangle_entry_points_leave_nothing_cached(spark, entry):
    # the oriented set, the adjacency and the symmetrized set each call
    # persists must be released before it returns
    cache = spark._jsparkSession.sharedState().cacheManager()

    def cached():
        entries = cache.cachedData()
        return sorted(entries.apply(i).toString() for i in range(entries.size()))

    arcs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (4, 5)]
    edges = spark.createDataFrame(arcs, "src long, dst long")
    before = cached()
    res = entry(edges)
    assert cached() == before
    if entry is triangle_count_adjacency:
        assert res == 2
    elif entry is global_clustering_coefficient:
        assert res > 0.0
    else:  # the result outlives the release
        assert res.count() == (5 if entry is triangles_per_vertex else 6)
