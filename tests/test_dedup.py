"""Dedup suite: exact, n-gram Jaccard (vs brute force), MinHash LSH recall,
SimHash hamming pairs."""

from __future__ import annotations

import itertools

from webgraph_spark.functions.dedup import (
    dedup_exact,
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # dup of 1
    (3, "The  quick brown fox JUMPS over the lazy dog near the river bank"),  # norm-dup
    (4, "the quick brown fox jumps over the lazy cat near the river bank"),  # near-dup
    (5, "completely different text about spark engines and data pipelines"),
    (6, "spark engines and data pipelines are completely different topics"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _brute_jaccard(n=3):
    def shingles(t):
        toks = " ".join(t.lower().split()).split(" ")
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    out = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        sa, sb = shingles(ta), shingles(tb)
        out[(ia, ib)] = len(sa & sb) / len(sa | sb)
    return out


def test_exact_groups_and_dedup(spark):
    docs = _docs(spark)
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_docs"] == 3 and g["keeper"] == 1  # 1,2,3 normalize equal
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [1, 4, 5, 6]


def test_ngram_jaccard_matches_bruteforce(spark):
    docs = _docs(spark)
    brute = _brute_jaccard()
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    expect = {k: v for k, v in brute.items() if v >= 0.5}
    assert set(got) == set(expect)
    for k in got:
        assert abs(got[k] - expect[k]) < 1e-12


def test_minhash_lsh_finds_near_dups_no_false_positives(spark):
    docs = _docs(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            docs, num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    brute = {k: v for k, v in _brute_jaccard().items() if v >= 0.5}
    # Verification step guarantees no false positives:
    assert set(pairs) <= set(brute)
    # With 32 bands of 2 rows, collision prob at j=0.8 is ~1; the exact dups
    # and the one-word-off near-dup must be found.
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (1, 4) in pairs


def test_simhash_near_dups(spark):
    docs = _docs(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0 and pairs[(2, 3)] == 0
    assert (1, 4) in pairs  # one-token difference -> small hamming
    assert (1, 5) not in pairs


def test_on_driver_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    kept = dedup_exact(docs).count()
    assert 0 < kept <= n
    groups = exact_duplicate_groups(docs)
    dup_total = groups.agg({"n_docs": "sum"}).collect()[0][0] or 0
    assert kept == n - (dup_total - groups.count() if dup_total else 0)


def test_near_dup_clusters_transitive_closure(spark):
    from webgraph_spark.functions.dedup import dedup_near, near_dup_clusters

    docs = _docs(spark)
    clusters = {
        r["doc_id"]: r["cluster"]
        for r in near_dup_clusters(docs, threshold=0.5, bands=32).collect()
    }
    # 1,2,3 exact/norm dups; 4 near-dup of them -> one cluster keeping 1
    assert clusters[1] == clusters[2] == clusters[3] == clusters[4] == 1
    assert clusters[5] != 1 and clusters[6] != 1
    kept = sorted(r["doc_id"] for r in dedup_near(docs, threshold=0.5, bands=32).collect())
    assert kept[0] == 1 and 2 not in kept and 3 not in kept and 4 not in kept


def test_near_dup_clusters_sparse_ids(spark):
    # the clusterer takes document ids as they come: ids 2**32 apart and
    # past 2**40 (no dense renumbering, no dense state) give the same
    # clusters under the same order-preserving map
    from webgraph_spark.functions.dedup import near_dup_clusters

    def spread(i):
        return i * 2**32 + 2**40

    dense = {
        r["doc_id"]: r["cluster"]
        for r in near_dup_clusters(_docs(spark), threshold=0.5, bands=32).collect()
    }
    sparse_docs = spark.createDataFrame(
        [(spread(i), t) for i, t in DOCS], "doc_id long, text string"
    )
    sparse = {
        r["doc_id"]: r["cluster"]
        for r in near_dup_clusters(sparse_docs, threshold=0.5, bands=32).collect()
    }
    assert sparse == {spread(i): spread(c) for i, c in dense.items()}
