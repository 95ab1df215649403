"""COSIN binary reader/writer and WebBase crawl-dump converter."""

from __future__ import annotations

import numpy as np

from tests.conftest import edge_df
from webgraph_spark.sources.cosin import cosin_num_nodes, read_cosin, write_cosin
from webgraph_spark.sources.webbase import (
    WEBBASE_COOKIE,
    read_webbase_pages,
    webbase_to_graph,
    write_webbase_dump,
)

ARCS = [
    (0, 1), (0, 2), (0, 5),
    (1, 0),
    (3, 3), (3, 4),
    # node 2 has no out-arcs; node 5 has no out-arcs
    (4, 0), (4, 1), (4, 2), (4, 3), (4, 5),
]


def test_cosin_roundtrip(spark, tmp_path):
    base = str(tmp_path / "g")
    write_cosin(edge_df(spark, ARCS), base, num_nodes=6)
    n, edges = read_cosin(spark, base, chunks=3)
    assert n == 6
    assert cosin_num_nodes(base) == 6
    got = sorted((r["src"], r["dst"]) for r in edges.collect())
    assert got == sorted(ARCS)


def test_cosin_chunking_invariance(spark, tmp_path):
    base = str(tmp_path / "g")
    rng = np.random.default_rng(7)
    arcs = sorted(
        {(int(rng.integers(0, 40)), int(rng.integers(0, 40))) for _ in range(300)}
    )
    write_cosin(edge_df(spark, arcs), base, num_nodes=40)
    for chunks in (1, 4, 17, 40):
        n, edges = read_cosin(spark, base, chunks=chunks)
        assert n == 40
        assert sorted((r["src"], r["dst"]) for r in edges.collect()) == arcs


def test_cosin_info_fields(spark, tmp_path):
    base = str(tmp_path / "g")
    write_cosin(edge_df(spark, ARCS), base, num_nodes=6)
    info = np.fromfile(base + ".info", dtype="<i4").reshape(-1, 6)
    # indegree / outdegree per node; reader-skipped fields zeroed
    outdeg = {s: 0 for s in range(6)}
    indeg = {s: 0 for s in range(6)}
    for s, d in ARCS:
        outdeg[s] += 1
        indeg[d] += 1
    assert list(info[:, 0]) == [indeg[v] for v in range(6)]
    assert list(info[:, 1]) == [outdeg[v] for v in range(6)]
    assert not info[:, 2:].any()


def test_webbase_filters(spark, tmp_path):
    path = str(tmp_path / "dump.txt")
    write_webbase_dump(
        [
            # kept, protocol lowercased
            ("HTTP://b.test/", ["http://a.test/", "http://a.test/"]),
            # kept; link lines exercising every skip rule
            (
                "http://a.test/",
                [
                    "http://b.test/",
                    "http://spa ce.test/",  # char <= 0x20
                    "nothttp://x.test/",  # not literal http
                    "Http://c.test/",  # case-sensitive link check
                    "http://crlf.test/\r",  # CRLF quirk: dropped
                    "http://broken.test/",  # unresolvable -> broken
                ],
            ),
            ("http://site.test/robots.txt", ["http://a.test/"]),  # robots skip
            ("ftp://c.test/", ["http://a.test/"]),  # non-http page
            ("http://spa ced.test/", ["http://a.test/"]),  # ctrl char in URL
        ],
        path,
    )
    pages = read_webbase_pages(spark, path)
    got = {r["url"]: sorted(r["links"]) for r in pages.collect()}
    assert got == {
        "http://b.test/": ["http://a.test/", "http://a.test/"],
        "http://a.test/": ["http://b.test/", "http://broken.test/"],
    }


def test_webbase_graph(spark, tmp_path):
    path = str(tmp_path / "dump.txt")
    write_webbase_dump(
        [
            ("http://b.test/", ["http://a.test/", "http://c.test/"]),
            ("http://a.test/", ["http://b.test/", "http://b.test/",
                                "http://nowhere.test/"]),
            ("http://c.test/", []),
        ],
        path,
    )
    node_map, edges = webbase_to_graph(read_webbase_pages(spark, path))
    # ids minted in URL sort order: a=0, b=1, c=2
    m = {r["key"]: r["id"] for r in node_map.collect()}
    assert m == {"http://a.test/": 0, "http://b.test/": 1, "http://c.test/": 2}
    got = sorted((r["src"], r["dst"]) for r in edges.collect())
    # doubles dedup'd, broken link dropped
    assert got == [(0, 1), (1, 0), (1, 2)]


def test_webbase_dump_is_splittable(spark, tmp_path):
    """The cookie-delimited read keeps record integrity across many splits."""
    path = str(tmp_path / "dump.txt")
    records = [
        (f"http://n{i:04d}.test/", [f"http://n{(i * 7) % 50:04d}.test/"])
        for i in range(50)
    ]
    write_webbase_dump(records, path)
    pages = (
        spark.read.text(path, lineSep=WEBBASE_COOKIE + "\n")
        .repartition(8)
        .count()
    )
    parsed = read_webbase_pages(spark, path)
    assert parsed.count() == 50
    node_map, edges = webbase_to_graph(parsed)
    assert node_map.count() == 50
    assert edges.count() == len({((i), (i * 7) % 50) for i in range(50)})
    assert pages >= 50


def test_url2_normalize_column(spark):
    """URL2.toString() replay (webbase/URL2.java:217-487): host/scheme case,
    default port, trailing host dot, fragment, empty path, slash runs,
    query escaping, userinfo, non-ASCII %-encoding."""
    from webgraph_spark.sources.webbase import normalize_url2

    cases = {
        "http://Example.COM/Path/X": "http://example.com/Path/X",
        "HTTP://a.test": "http://a.test/",
        "http://a.test:80/x": "http://a.test/x",
        "http://a.test:8080/x": "http://a.test:8080/x",
        "http://a.test:0080/x": "http://a.test/x",  # parseInt("0080") == 80
        "http://a.test:00000000443/x": "http://a.test:443/x",  # 11 chars, 443
        "http://a.test:0/x": "http://a.test:0/x",
        "http://a.test:000/x": "http://a.test:0/x",
        "http://a.test:bad/x": "http://a.test/x",   # unparsable port dropped
        # parseInt accepts any int-range port (URL2.java:376); only a
        # genuine overflow (> 2^31-1) lands in the catch -> "no port"
        "http://a.test:1234567890/x": "http://a.test:1234567890/x",
        "http://a.test:9999999999/x": "http://a.test/x",
        "http://a.test./": "http://a.test/",
        "http://a.test/x#frag": "http://a.test/x",
        "http://a.test//x///y": "http://a.test/x/y",
        "http://a.test/p?q/r": "http://a.test/p?q%2Fr",
        "http://a.test/p?": "http://a.test/p?",  # bare trailing '?' kept
        "http://User@A.test/x": "http://User@a.test/x",
        "  http://a.test/x  ": "http://a.test/x",
        "url:http://a.test/x": "http://a.test/x",
        "http://a.test/café": "http://a.test/caf%C3%A9",
        "http://a.test/p?x=ü": "http://a.test/p?x=%C3%BC",
    }
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {
        r["u"]: r["n"]
        for r in df.select("u", normalize_url2("u").alias("n")).collect()
    }
    assert got == cases


def test_webbase_graph_resolves_normalized_links(spark, tmp_path):
    """Mixed-case-host / :80 / trailing-dot / fragment / missing-path
    outlinks that the reference resolves via URL2 now resolve here too
    (Converter.java:115-125), and page urls dedup by normalized form."""
    path = str(tmp_path / "dump.txt")
    write_webbase_dump(
        [
            ("http://b.test/", ["http://A.test/", "http://c.test:80/"]),
            ("http://a.test/", ["http://b.test./", "http://b.test/#f",
                                "http://nowhere.test/"]),
            ("http://c.test/", ["http://a.test"]),
            # page duplicating http://b.test/ after normalization: its link
            # list loses to the smaller raw url "http://b.test/"
            ("http://B.test:80/", ["http://a.test/", "http://c.test/"]),
        ],
        path,
    )
    node_map, edges = webbase_to_graph(read_webbase_pages(spark, path))
    m = {r["key"]: r["id"] for r in node_map.collect()}
    assert m == {"http://a.test/": 0, "http://b.test/": 1, "http://c.test/": 2}
    got = sorted((r["src"], r["dst"]) for r in edges.collect())
    assert got == [(0, 1), (1, 0), (1, 2), (2, 0)]
