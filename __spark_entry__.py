"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (lineitem-derived link graph →
CSR blocks → PageRank to convergence) at sf0.001. ``queries()`` exposes one
entry per implemented operator from SURVEY.md §2 (plus the training-data
pipeline operators); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL
for every SQL-expressible one. Column names and types are aligned pairwise
(Spark ``long``/``double`` ↔ DuckDB ``BIGINT``/``DOUBLE``); float outputs are
rounded identically on both sides so order-of-summation noise cannot flip
the driver's value hash.

The driver records at most the FIRST 50 queries() entries, so the surface is
kept at exactly 50 by folding sibling operators into one result frame
(round-1 name → round-2 home):

- ``degree_range``            → ``subgraph`` (tag column ``which``)
- ``cc_sizes``                → ``cc_components`` (column ``component``)
- ``dedup_groups``            → ``dedup_exact`` (columns ``n_docs``/``fp``)
- ``text_stats``/``langid``/``fingerprint`` → ``text_features`` (wide row)
- ``arclist/ascii/scattered_roundtrip``     → ``text_roundtrip`` (tag ``fmt``)
- ``events_by_type``          → ``events_windowed`` (column ``users``)
- ``minhash_lsh``             → ``minhash_neardup`` (pairs + cluster column)
- ``hyperball_nf``/``csr_compression``      → ``engine_stats`` (long format)
- ``cosine_pairs``            → removed as an exposed query (unbounded
  all-pairs join; ``cosine_topk`` keeps the exact brute baseline in bounded
  form, ``cosine_topk_lsh`` is the scale path)

Round-3 folds (same rule — the round-2 additions pushed the surface to 55,
so five sibling pairs were merged; every fold keeps BOTH oracles, unioned
under a tag column):

- ``check_symmetry``          → ``graph_stats`` (row ``asym_arcs``)
- ``has_arcs``                → ``csr_roundtrip`` (tag column ``part``)
- ``cosin_roundtrip``/``webbase_convert`` → ``legacy_roundtrip`` (tag ``fmt``)
- ``labelprop_block``/``cc_block``        → ``block_kernels`` (tag ``kernel``)
- ``labelled_compose``/``labelled_union`` → ``labelled_algebra`` (tag ``op``)
- ``degree/key/lex/gray_permutation``     → ``permutations`` (tag ``kind``)
- ``cosine_topk_lsh``/``cosine_topk_ivf`` → ``cosine_topk`` (tag ``method``)

New in round 2: ``diameter_radius`` (exact SumSweep on the largest SCC),
``has_arcs`` (bulk CSR adjacency probes), ``gray_permutation``, a full
DuckDB oracle for ``betweenness`` (unrolled Brandes), arithmetic corpus
oracles (``corpus_invariant``/``corpus_pagerank`` — the synthesis uses a
Lehmer-mixer both engines evaluate bit-identically), and a string-math
oracle for ``media_features``.

The canonical test graph is derived from the driver's parquet tables with
pure ANSI logic both engines can express:

    edges(src, dst) = SELECT DISTINCT l_suppkey, l_partkey % 120 FROM lineitem

src ∈ suppliers, dst ∈ [0, 120) — overlapping id ranges (not bipartite),
self-loops possible, nodes 100..119 + 0 are dangling: exercises loop
handling, dangling PageRank mass, and skew paths.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webgraph_spark.algo.bfs import bfs_distances
from webgraph_spark.algo.components import hash_min_components, renumber_by_size
from webgraph_spark.algo.labelprop import label_propagation
from webgraph_spark.algo.pagerank import (
    pagerank_edges,
    pagerank_weighted,
    personalized_pagerank,
)
from webgraph_spark.algo.pagerank_block import pagerank_block
from webgraph_spark.algo.triangles import (
    global_clustering_coefficient,
    local_clustering_coefficient,
    triangles_per_vertex,
)
from webgraph_spark.algo.kcore import k_core
from webgraph_spark.algo.hits import hits
from webgraph_spark.functions.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from webgraph_spark.functions.multimodal import (
    byte_histogram_features,
    decode_media,
    encode_media,
    resize_media,
    synth_media,
    video_frame_sample,
)
from webgraph_spark.functions.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from webgraph_spark.functions.text import (
    STOPWORDS,
    BPE_TOKEN_RE,
    bpe_token_count,
    fingerprint,
    langid,
    with_text_stats,
)
from webgraph_spark.algo.geometric import (
    geometric_centralities,
    top_k_geometric,
)
from webgraph_spark.algo.hyperball import hyperball
from webgraph_spark.algo.betweenness import betweenness
from webgraph_spark.algo.scc import strongly_connected_components
from webgraph_spark.algo.simrank import simrank
from webgraph_spark.algo.sumsweep import sumsweep_diameter_radius
from webgraph_spark.operators.tools import extract_component, gap_stats
from webgraph_spark.operators import transform as T
from webgraph_spark.operators.labels import (
    compose_semiring,
    merge_duplicate_arcs,
    union_labelled,
)
from webgraph_spark.operators.permutations import (
    degree_permutation,
    gray_code_permutation,
    lexicographic_permutation,
    permute_by_key,
)
from webgraph_spark.sources.text_formats import (
    read_arc_list,
    read_ascii_graph,
    read_scattered_arcs,
    write_arc_list,
    write_ascii_graph,
)
from webgraph_spark.plans.csr import build_csr, csr_has_arcs, csr_to_edges
from webgraph_spark.sources.corpus import (
    corpus_edges,
    corpus_nodes,
    corpus_sql_ctes,
    synth_corpus,
)

ALPHA = 0.85
PR_ITERS = 5
LPA_ITERS = 3
BETW_DEPTH = 16
CORPUS_SHAPE = dict(
    n_repos=8, files_per_repo=40, max_imports=8, cross_repo_pct=10, seed=42
)

# ---------------------------------------------------------------------------
# Shared Spark-side builders
# ---------------------------------------------------------------------------


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _lineitem(spark, sf_dir)
        .select(
            F.col("l_suppkey").cast("long").alias("src"),
            (F.col("l_partkey") % 120).cast("long").alias("dst"),
        )
        .distinct()
    )


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("id").alias("id"))
        if "id" in edges.columns
        else edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB side of the same derivations)
# ---------------------------------------------------------------------------

EDGES_CTE = (
    "edges AS (SELECT DISTINCT l_suppkey AS src, l_partkey % 120 AS dst "
    "FROM lineitem)"
)
NODES_CTE = (
    "nodes AS (SELECT DISTINCT id FROM "
    "(SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges) t)"
)
SYM_CTE = (
    "sym AS (SELECT src, dst FROM (SELECT src, dst FROM edges "
    "UNION SELECT dst AS src, src AS dst FROM edges) t)"
)
# per-successor portable tie-hash used by the bounded permutation keys —
# mirrors operators.permutations._tie_hash(hash_fn="portable") exactly
_PERM_HASH = (
    "('0x' || substring(md5(CAST(dst AS VARCHAR) || '#perm'), 1, 15))::BIGINT"
)
# documents text normalization — mirrors functions.text/dedup exactly
NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
TOKS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"

# the cross-engine 60-bit hash (functions/porthash.py) — DuckDB side
from webgraph_spark.functions.porthash import portable_hash60_sql as _PH60

# directed SCC pairs (used by scc_components, graph_stats, diameter_radius)
_SCC_CTES = (
    "fr AS (SELECT id AS s, id AS d FROM nodes "
    "UNION SELECT r.s, e.dst FROM fr r JOIN edges e ON e.src = r.d)",
    "scc AS (SELECT a.s AS id, min(a.d) AS comp FROM fr a "
    "JOIN fr b ON b.s = a.d AND b.d = a.s GROUP BY a.s)",
)


def _with(*ctes: str, select: str, recursive: bool = False) -> str:
    kw = "WITH RECURSIVE " if recursive else "WITH "
    return kw + ",\n".join(ctes) + "\n" + select


def _pagerank_sql(
    iters: int,
    prefix_ctes: tuple[str, ...] = (EDGES_CTE, NODES_CTE),
    edges_name: str = "edges",
    nodes_name: str = "nodes",
) -> str:
    """Unrolled power iteration, term-for-term the Spark update rule.
    Parameterized over the edge/node CTEs so the corpus graph reuses it."""
    ctes = [
        *prefix_ctes,
        f"deg AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS dg "
        f"FROM {edges_name} GROUP BY src)",
        f"nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM {nodes_name})",
        f"r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM {nodes_name})",
    ]
    for k in range(iters):
        p = f"r{k}"
        ctes.append(
            f"d{k} AS (SELECT 1.0 - COALESCE(sum(p.rank), 0.0) AS dm "
            f"FROM {p} p JOIN deg ON deg.id = p.id)"
        )
        ctes.append(
            f"c{k} AS (SELECT e.dst AS id, sum(p.rank / deg.dg) AS contrib "
            f"FROM {edges_name} e JOIN {p} p ON p.id = e.src "
            f"JOIN deg ON deg.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k + 1} AS (SELECT n.id, (1.0 - {ALPHA}) / (SELECT n FROM nn) "
            f"+ {ALPHA} * (COALESCE(c.contrib, 0.0) "
            f"+ (SELECT dm FROM d{k}) / (SELECT n FROM nn)) AS rank "
            f"FROM {nodes_name} n LEFT JOIN c{k} c ON c.id = n.id)"
        )
    return _with(
        *ctes, select=f"SELECT id, ROUND(rank, 9) AS rank FROM r{iters}"
    )


def _ppr_sql(iters: int, src_pred: str = "id < 10") -> str:
    """Unrolled personalized PageRank, term-for-term the Spark rule:
    teleport AND dangling mass go uniformly to the source set."""
    ctes = [
        EDGES_CTE,
        NODES_CTE,
        "deg AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS dg "
        "FROM edges GROUP BY src)",
        f"srcs AS (SELECT id FROM nodes WHERE {src_pred})",
        "ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM srcs)",
        "r0 AS (SELECT n.id, CASE WHEN s.id IS NOT NULL "
        "THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS rank "
        "FROM nodes n LEFT JOIN srcs s ON s.id = n.id)",
    ]
    for k in range(iters):
        p = f"r{k}"
        ctes.append(
            f"d{k} AS (SELECT 1.0 - COALESCE(sum(p.rank), 0.0) AS dm "
            f"FROM {p} p JOIN deg ON deg.id = p.id)"
        )
        ctes.append(
            f"c{k} AS (SELECT e.dst AS id, sum(p.rank / deg.dg) AS contrib "
            f"FROM edges e JOIN {p} p ON p.id = e.src "
            f"JOIN deg ON deg.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k + 1} AS (SELECT n.id, "
            f"(CASE WHEN s.id IS NOT NULL THEN "
            f"(1.0 - {ALPHA}) / (SELECT n FROM ns) "
            f"+ {ALPHA} * (SELECT dm FROM d{k}) / (SELECT n FROM ns) "
            f"ELSE 0.0 END) + {ALPHA} * COALESCE(c.contrib, 0.0) AS rank "
            f"FROM nodes n LEFT JOIN srcs s ON s.id = n.id "
            f"LEFT JOIN c{k} c ON c.id = n.id)"
        )
    return _with(
        *ctes, select=f"SELECT id, ROUND(rank, 9) AS rank FROM r{iters}"
    )


def _hits_sql(iters: int) -> str:
    """Unrolled coupled HITS power iteration: auth gather -> L2 normalize ->
    hub gather -> L2 normalize, exactly the Spark half-step order; the final
    frame pairs the last hub vector with the last iteration's auth."""
    ctes = [
        EDGES_CTE,
        NODES_CTE,
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "h0 AS (SELECT id, 1.0 / sqrt((SELECT n FROM nn)) AS hub FROM nodes)",
    ]
    for k in range(iters):
        ctes.append(
            f"ar{k} AS MATERIALIZED (SELECT n.id, COALESCE(g.v, 0.0) AS araw FROM nodes n "
            f"LEFT JOIN (SELECT e.dst AS id, sum(h.hub) AS v FROM edges e "
            f"JOIN h{k} h ON h.id = e.src GROUP BY e.dst) g ON g.id = n.id)"
        )
        ctes.append(
            f"an{k} AS MATERIALIZED (SELECT sqrt(sum(araw * araw)) AS nrm FROM ar{k})"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT id, araw / (SELECT nrm FROM an{k}) AS auth "
            f"FROM ar{k})"
        )
        ctes.append(
            f"hr{k} AS MATERIALIZED (SELECT n.id, COALESCE(g.v, 0.0) AS hraw FROM nodes n "
            f"LEFT JOIN (SELECT e.src AS id, sum(a.auth) AS v FROM edges e "
            f"JOIN a{k} a ON a.id = e.dst GROUP BY e.src) g ON g.id = n.id)"
        )
        ctes.append(
            f"hn{k} AS MATERIALIZED (SELECT sqrt(sum(hraw * hraw)) AS nrm FROM hr{k})"
        )
        ctes.append(
            f"h{k + 1} AS MATERIALIZED (SELECT id, hraw / (SELECT nrm FROM hn{k}) AS hub "
            f"FROM hr{k})"
        )
    return _with(
        *ctes,
        select=f"SELECT h.id, ROUND(h.hub, 9) AS hub, "
        f"ROUND(a.auth, 9) AS auth "
        f"FROM h{iters} h JOIN a{iters - 1} a ON a.id = h.id",
    )


def _kcore_sql(k: int, rounds: int, mod: int = 1500) -> str:
    """Unrolled parallel peel on the mod graph: each round keeps survivors
    whose induced undirected degree >= k. The peel is monotone, so extra
    rounds past the fixpoint are no-ops; ``rounds`` just needs to exceed
    the peel depth (13 at sf0.01 with k=56 — unroll leaves margin)."""
    ctes = [
        f"sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        f"SELECT l_orderkey % {mod} AS src, l_partkey % {mod} AS dst "
        f"FROM lineitem UNION ALL "
        f"SELECT l_partkey % {mod}, l_orderkey % {mod} FROM lineitem) t "
        f"WHERE src <> dst)",
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)",
    ]
    for r in range(rounds):
        ctes.append(
            f"a{r + 1} AS MATERIALIZED (SELECT s.src AS id FROM sym s "
            f"JOIN a{r} x ON x.id = s.src JOIN a{r} y ON y.id = s.dst "
            f"GROUP BY s.src HAVING count(*) >= {k})"
        )
    return _with(*ctes, select=f"SELECT id FROM a{rounds}")


def _lpa_sql(iters: int) -> str:
    """Unrolled synchronous LPA with (count desc, label asc) tie-break."""
    ctes = [
        EDGES_CTE,
        NODES_CTE,
        SYM_CTE,
        "l0 AS (SELECT id, id AS label FROM nodes)",
    ]
    for k in range(iters):
        p = f"l{k}"
        ctes.append(
            f"w{k} AS (SELECT id, new_label FROM ("
            f"SELECT e.dst AS id, p.label AS new_label, "
            f"row_number() OVER (PARTITION BY e.dst "
            f"ORDER BY count(*) DESC, p.label ASC) AS rn "
            f"FROM sym e JOIN {p} p ON p.id = e.src "
            f"GROUP BY e.dst, p.label) t WHERE rn = 1)"
        )
        ctes.append(
            f"l{k + 1} AS (SELECT p.id, COALESCE(w.new_label, p.label) AS label "
            f"FROM {p} p LEFT JOIN w{k} w ON w.id = p.id)"
        )
    return _with(*ctes, select=f"SELECT id, label FROM l{iters}")


def _pagerank_weighted_sql(iters: int) -> str:
    """Unrolled weighted power iteration over the min-merged labelled graph."""
    ctes = [
        "lab AS (SELECT l_suppkey AS src, l_partkey % 120 AS dst, "
        "CAST(min(CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE) AS w "
        "FROM lineitem GROUP BY 1, 2)",
        "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM lab "
        "UNION ALL SELECT dst AS id FROM lab) t)",
        "wtot AS (SELECT src AS id, sum(w) AS wt FROM lab GROUP BY src)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for k in range(iters):
        ctes.append(
            f"d{k} AS (SELECT 1.0 - COALESCE(sum(p.rank), 0.0) AS dm "
            f"FROM r{k} p JOIN wtot ON wtot.id = p.id)"
        )
        ctes.append(
            f"c{k} AS (SELECT e.dst AS id, "
            f"sum(p.rank * e.w / t.wt) AS contrib "
            f"FROM lab e JOIN r{k} p ON p.id = e.src "
            f"JOIN wtot t ON t.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k + 1} AS (SELECT n.id, (1.0 - {ALPHA}) / (SELECT n FROM nn) "
            f"+ {ALPHA} * (COALESCE(c.contrib, 0.0) "
            f"+ (SELECT dm FROM d{k}) / (SELECT n FROM nn)) AS rank "
            f"FROM nodes n LEFT JOIN c{k} c ON c.id = n.id)"
        )
    return _with(
        *ctes, select=f"SELECT id, ROUND(rank, 9) AS rank FROM r{iters}"
    )


def _simrank_sql(iters: int, c: float = 0.8) -> str:
    """Unrolled Jeh–Widom iteration on the src<20, dst<20 subgraph."""
    ctes = [
        "edges AS (SELECT src, dst FROM (SELECT DISTINCT l_suppkey AS src, "
        "l_partkey % 120 AS dst FROM lineitem) t WHERE src < 20 AND dst < 20)",
        NODES_CTE,
        "ine AS (SELECT dst AS node, src AS nbr FROM edges)",
        "indeg AS (SELECT node, count(*) AS d FROM ine GROUP BY node)",
        "diag AS (SELECT id AS a, id AS b, 1.0 AS s FROM nodes)",
        "s0 AS (SELECT a, b, s FROM diag)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"m{k} AS (SELECT ea.node AS a, eb.node AS b, sum(p.s) AS ss "
            f"FROM ine ea JOIN s{k - 1} p ON p.a = ea.nbr "
            f"JOIN ine eb ON p.b = eb.nbr GROUP BY ea.node, eb.node)"
        )
        ctes.append(
            f"s{k} AS (SELECT a, b, s FROM diag UNION ALL "
            f"SELECT m.a, m.b, {c} * m.ss / (da.d * db.d) AS s "
            f"FROM m{k} m JOIN indeg da ON da.node = m.a "
            f"JOIN indeg db ON db.node = m.b WHERE m.a <> m.b)"
        )
    return _with(
        *ctes, select=f"SELECT a, b, ROUND(s, 9) AS s FROM s{iters}"
    )


def _betweenness_sql(depth: int = BETW_DEPTH) -> str:
    """Unrolled Brandes on the src<25, dst<25 subgraph: per-level σ CTEs
    forward, per-level δ CTEs backward (the reference differential-tests
    betweenness the same way, ``test/.../BetweennessCentralityTest.java``).

    Every CTE is MATERIALIZED: the level CTEs reference each other 2-3
    times each, and inlining would both blow the plan up exponentially and
    re-open the parquet once per reference (fd exhaustion)."""
    ctes = [
        "e25 AS MATERIALIZED (SELECT src, dst FROM (SELECT DISTINCT "
        "l_suppkey AS src, l_partkey % 120 AS dst FROM lineitem) t "
        "WHERE src < 25 AND dst < 25)",
        "n25 AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id "
        "FROM e25 UNION ALL SELECT dst AS id FROM e25) t)",
        "d0 AS MATERIALIZED (SELECT id AS s, id AS v, 1.0 AS sigma FROM n25)",
        "vis0 AS MATERIALIZED (SELECT s, v FROM d0)",
    ]
    for k in range(1, depth + 1):
        ctes.append(
            f"d{k} AS MATERIALIZED (SELECT f.s, e.dst AS v, "
            f"SUM(f.sigma) AS sigma "
            f"FROM d{k - 1} f JOIN e25 e ON e.src = f.v "
            f"WHERE NOT EXISTS (SELECT 1 FROM vis{k - 1} x "
            f"WHERE x.s = f.s AND x.v = e.dst) GROUP BY f.s, e.dst)"
        )
        ctes.append(
            f"vis{k} AS MATERIALIZED (SELECT s, v FROM vis{k - 1} "
            f"UNION ALL SELECT s, v FROM d{k})"
        )
    ctes.append(
        f"dl{depth} AS MATERIALIZED "
        f"(SELECT s, v, sigma, 0.0 AS delta FROM d{depth})"
    )
    for k in range(depth - 1, 0, -1):
        ctes.append(
            f"dl{k} AS MATERIALIZED (SELECT f.s, f.v, f.sigma, "
            f"COALESCE(SUM(f.sigma / w.sigma * (1.0 + w.delta)), 0.0) AS delta "
            f"FROM d{k} f "
            f"LEFT JOIN e25 e ON e.src = f.v "
            f"LEFT JOIN dl{k + 1} w ON w.s = f.s AND w.v = e.dst "
            f"GROUP BY f.s, f.v, f.sigma)"
        )
    union = " UNION ALL ".join(
        f"SELECT s, v, delta FROM dl{k}" for k in range(1, depth + 1)
    )
    ctes.append(f"alld AS ({union})")
    ctes.append(
        "betw AS (SELECT v AS id, SUM(delta) AS b FROM alld "
        "WHERE s <> v GROUP BY v)"
    )
    return _with(
        *ctes,
        select="SELECT n.id, ROUND(COALESCE(b.b, 0.0), 6) AS betweenness "
        "FROM n25 n LEFT JOIN betw b ON b.id = n.id",
    )


def _corpus_pagerank_sql(iters: int) -> str:
    c = corpus_sql_ctes(**CORPUS_SHAPE)
    prefix = (
        c["idx"],
        c["imp"],
        c["edges"],
        "cnodes AS (SELECT id FROM idx)",
    )
    return _pagerank_sql(
        iters, prefix_ctes=prefix, edges_name="cedges", nodes_name="cnodes"
    )


def _stopword_sql_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _text_features_sql() -> str:
    """text_stats + langid + fingerprint joined into one wide row per doc."""
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    vals = ", ".join(
        f"('{lang}', {_stopword_sql_list(lang)})" for lang in sorted(STOPWORDS)
    )
    return f"""
WITH t AS (
  SELECT doc_id, text, {TOKS} AS toks,
         CAST(length(text) AS BIGINT) AS n_chars_actual,
         CAST(length(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT)
           AS bpe_tokens,
         CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
           AS DOUBLE) AS n_punct,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS DOUBLE) AS n_digit,
         CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
           AS DOUBLE) AS n_upper
  FROM documents
), s AS (
  SELECT doc_id, n_chars_actual, bpe_tokens,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
           AS tok_chars,
         CAST(len(list_filter(toks, x -> x IN ({sw}))) AS DOUBLE) AS n_stop,
         n_punct, n_digit, n_upper
  FROM t
), r AS (
  SELECT doc_id, n_chars_actual, n_tokens, bpe_tokens,
    CASE WHEN n_tokens > 0 THEN tok_chars / CAST(n_tokens AS DOUBLE)
         ELSE 0.0 END AS avg_token_len,
    CASE WHEN n_chars_actual > 0
         THEN n_punct / CAST(n_chars_actual AS DOUBLE) ELSE 0.0 END
      AS punct_ratio,
    CASE WHEN n_chars_actual > 0
         THEN n_digit / CAST(n_chars_actual AS DOUBLE) ELSE 0.0 END
      AS digit_ratio,
    CASE WHEN n_chars_actual > 0
         THEN n_upper / CAST(n_chars_actual AS DOUBLE) ELSE 0.0 END
      AS upper_ratio,
    CASE WHEN n_tokens > 0 THEN n_stop / CAST(n_tokens AS DOUBLE)
         ELSE 0.0 END AS stopword_ratio
  FROM s
), lid AS (
  SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
  FROM (
    SELECT doc_id, lang, hits,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY hits DESC, lang DESC) AS rn
    FROM (
      SELECT t.doc_id, l.lang,
             len(list_filter(t.toks, x -> list_contains(l.sw, x))) AS hits
      FROM t, (VALUES {vals}) AS l(lang, sw)
    ) h
  ) w WHERE rn = 1
), fp AS (
  SELECT doc_id, sha256({NORM}) AS fingerprint FROM documents
)
SELECT r.doc_id, r.n_chars_actual, r.n_tokens, r.bpe_tokens,
  ROUND(r.avg_token_len, 6) AS avg_token_len,
  ROUND(r.punct_ratio, 6) AS punct_ratio,
  ROUND(r.digit_ratio, 6) AS digit_ratio,
  ROUND(r.upper_ratio, 6) AS upper_ratio,
  ROUND(r.stopword_ratio, 6) AS stopword_ratio,
  ROUND(least(r.n_tokens / 100.0, 1.0) * 0.4
        + (1.0 - least(r.punct_ratio * 4.0, 1.0)) * 0.3
        + least(r.stopword_ratio * 5.0, 1.0) * 0.3, 6) AS quality_score,
  lid.lang_pred, fp.fingerprint
FROM r JOIN lid ON lid.doc_id = r.doc_id JOIN fp ON fp.doc_id = r.doc_id
"""


_CC_CTES = (
    EDGES_CTE,
    NODES_CTE,
    SYM_CTE,
    "reach AS (SELECT id, id AS comp FROM nodes "
    "UNION SELECT e.dst AS id, r.comp FROM reach r JOIN sym e ON e.src = r.id)",
    "comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)",
)

_ORIENTED_CTES = (
    EDGES_CTE,
    "simple AS (SELECT src, dst FROM (SELECT src, dst FROM edges "
    "UNION SELECT dst AS src, src AS dst FROM edges) t WHERE src <> dst)",
    "dg AS (SELECT src AS id, count(*) AS d FROM simple GROUP BY src)",
    "und AS (SELECT src, dst FROM simple WHERE src < dst)",
    "o AS (SELECT CASE WHEN fwd THEN src ELSE dst END AS src, "
    "CASE WHEN fwd THEN dst ELSE src END AS dst FROM ("
    "SELECT u.src, u.dst, (da.d < db.d OR (da.d = db.d AND u.src < u.dst)) AS fwd "
    "FROM und u JOIN dg da ON da.id = u.src JOIN dg db ON db.id = u.dst) r)",
    "tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c "
    "FROM o e1 JOIN o e2 ON e1.dst = e2.src "
    "JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst)",
)

_GRAY_BIG = 1 << 62

# exact brute-force cosine top-k (k=5, queries vec_id < 8) — the oracle for
# BOTH the bounded baseline and the probe-all IVF configuration
_COSINE_TOPK_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v WHERE vec_id < 8),
sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
  list_dot_product(q.e, c.e)
    / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
    AS score
  FROM v c, q WHERE c.vec_id <> q.vec_id),
r AS (SELECT query_id, neighbor_id, score,
  row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id ASC) AS rn FROM sc)
SELECT query_id, neighbor_id, ROUND(score, 6) AS score,
  CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# queries() — Spark implementations
# ---------------------------------------------------------------------------


def _q_degrees(spark, sf_dir):
    e = _edges(spark, sf_dir)
    od = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("dg"))
    filled = _nodes(e).join(od, "id", "left").na.fill({"dg": 0})
    return filled.groupBy(F.col("dg").alias("deg")).agg(
        F.count(F.lit(1)).alias("freq")
    )


def _q_transpose(spark, sf_dir):
    return T.transpose(_edges(spark, sf_dir))


def _q_symmetrize(spark, sf_dir):
    return T.symmetrize(_edges(spark, sf_dir))


def _q_simplify(spark, sf_dir):
    return T.simplify(_edges(spark, sf_dir))


def _q_compose(spark, sf_dir):
    e = _edges(spark, sf_dir)
    return T.compose(e, e)


def _q_line_graph(spark, sf_dir):
    return T.line_graph(_edges(spark, sf_dir).filter(F.col("dst") < 20))


def _q_subgraph(spark, sf_dir):
    """ImmutableSubgraph + DegreeRangeImmutableSubgraph in one frame,
    tagged by ``which``."""
    e = _edges(spark, sf_dir)
    keep = _nodes(e).filter((F.col("id") <= 60) & (F.col("id") % 2 == 0))
    sub = T.subgraph(e, keep).withColumn("which", F.lit("induced"))
    rng = T.degree_range_subgraph(e, 1, 119).withColumn(
        "which", F.lit("degree_range")
    )
    return sub.unionByName(rng).select("which", "src", "dst")


def _q_map_quotient(spark, sf_dir):
    e = _edges(spark, sf_dir)
    mapping = _nodes(e).select("id", (F.col("id") % 10).alias("new_id"))
    return T.map_nodes(e, mapping)


def _q_remove_dangling(spark, sf_dir):
    return T.remove_dangling(_edges(spark, sf_dir))


def _q_union(spark, sf_dir):
    e = _edges(spark, sf_dir)
    return T.union_graphs(
        e.filter(F.col("dst") < 40), T.transpose(e.filter(F.col("dst") >= 100))
    )


def _q_node_class_filter(spark, sf_dir):
    e = _edges(spark, sf_dir)
    cls = _nodes(e).select("id", (F.col("id") % 7).alias("cls"))
    return T.node_class_filter(e, cls, keep_only_same=True)


def _q_graph_stats(spark, sf_dir):
    """Stats.run analogue in long format (``Stats.java:65,167-258``): scalar
    block + successor log-gap histogram + SCC size distribution."""
    e = _edges(spark, sf_dir).persist()
    nodes = _nodes(e)
    # e is persisted for the SCC pass below (which runs eagerly, many
    # actions); unpersisted before returning so repeated driver-query runs
    # in one session don't accumulate cached blocks — the two lazy scalar
    # branches recompute the cheap distinct at collect time.

    def one(metric, col):
        return F.struct(F.lit(metric).alias("metric"), col.cast("double").alias("value"))

    od = (
        nodes.join(
            e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("dg")),
            "id",
            "left",
        ).na.fill({"dg": 0})
    )
    idg = (
        nodes.join(
            e.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("dg")),
            "id",
            "left",
        ).na.fill({"dg": 0})
    )
    scalars = (
        e.agg(
            F.count(F.lit(1)).alias("arcs"),
            F.sum(F.when(F.col("src") == F.col("dst"), 1).otherwise(0)).alias("loops"),
        )
        .crossJoin(
            od.agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.min("dg").alias("min_out"),
                F.max("dg").alias("max_out"),
                F.round(F.avg("dg"), 6).alias("avg_out"),
                F.sum(F.when(F.col("dg") == 0, 1).otherwise(0)).alias("dangling"),
            )
        )
        .crossJoin(
            idg.agg(
                F.min("dg").alias("min_in"),
                F.max("dg").alias("max_in"),
                F.round(F.avg("dg"), 6).alias("avg_in"),
            )
        )
        .select(
            F.explode(
                F.array(
                    *[
                        one(m, F.col(m))
                        for m in (
                            "arcs", "loops", "n_nodes", "min_out", "max_out",
                            "avg_out", "dangling", "min_in", "max_in", "avg_in",
                        )
                    ]
                )
            ).alias("kv")
        )
        .select("kv.metric", "kv.value")
    )
    # successor log-gap histogram: floor(log2(gap)) via binary-string length
    # (integer-exact — no float log2 across engines)
    w = Window.partitionBy("src").orderBy("dst")
    gaps = (
        e.withColumn("prev", F.lag("dst").over(w))
        .filter(F.col("prev").isNotNull())
        .select((F.col("dst") - F.col("prev")).alias("gap"))
        .select((F.length(F.bin("gap")) - 1).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.format_string("loggap_%02d", F.col("bucket").cast("int")).alias("metric"),
            F.col("cnt").cast("double").alias("value"),
        )
    )
    sccs = (
        strongly_connected_components(e, nodes)
        .components.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("sz")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.format_string("sccsize_%d", F.col("sz").cast("int")).alias("metric"),
            F.col("cnt").cast("double").alias("value"),
        )
    )
    # locality/gap averages (formerly the standalone ``gap_stats`` query —
    # folded here to keep the driver surface at 50 entries)
    s = gap_stats(e)
    gap_scalars = spark.createDataFrame(
        [
            ("avg_locality", round(s["avg_locality"], 6)),
            ("avg_gap", round(s["avg_gap"], 6)),
            ("avg_first_gap", round(s["avg_first_gap"], 6)),
        ],
        "metric string, value double",
    )
    # symmetry check (formerly the standalone ``check_symmetry`` query —
    # ``Check.java:44-101``): count of arcs with no reverse twin
    asym = (
        e.join(T.transpose(e), ["src", "dst"], "left_anti")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(F.lit("asym_arcs").alias("metric"), "value")
    )
    out = (
        scalars.unionByName(gaps)
        .unionByName(sccs)
        .unionByName(gap_scalars)
        .unionByName(asym)
    )
    e.unpersist()
    return out


def _q_extract_largest_cc(spark, sf_dir):
    e = _edges(spark, sf_dir)
    comps = hash_min_components(e, _nodes(e)).components
    return extract_component(e, comps)


def _q_cc(spark, sf_dir):
    """hash-min components + size renumbering in one frame
    (``ConnectedComponents.java:69-173`` incl. ``sortBySize``)."""
    e = _edges(spark, sf_dir)
    comps = hash_min_components(e, _nodes(e)).components
    ren = renumber_by_size(comps)
    return comps.join(ren, "id").select(
        "id", "comp", F.col("component").cast("long").alias("component")
    )


def _q_labelprop(spark, sf_dir):
    e = _edges(spark, sf_dir)
    return label_propagation(e, _nodes(e), max_iter=LPA_ITERS).labels.select(
        "id", "label"
    )


def _q_block_kernels(spark, sf_dir):
    """Both block-vector fixpoint kernels — the 100-TB scale path — in one
    frame tagged by ``kernel`` (formerly the standalone ``labelprop_block``
    and ``cc_block`` queries): LPA (per-block dense label vectors, lexsort
    vote combining) and hash-min CC on ONE shared symmetric layout, so the
    graph is laid out and its slot-form built once for both. Same oracles
    as ``labelprop`` / ``cc_components``."""
    from webgraph_spark.algo.components_block import hash_min_components_block
    from webgraph_spark.algo.labelprop_block import label_propagation_block
    from webgraph_spark.plans.blockvec import symmetric_graph

    e = _edges(spark, sf_dir)
    with symmetric_graph(e, _nodes(e)) as (graph, nodes):
        lpa = label_propagation_block(spark, graph, nodes, max_iter=LPA_ITERS)
        cc = hash_min_components_block(spark, graph, nodes)
    return lpa.labels.select(
        F.lit("lpa").alias("kernel"), "id", F.col("label").alias("value")
    ).unionByName(
        cc.components.select(
            F.lit("cc").alias("kernel"), "id", F.col("comp").alias("value")
        )
    )


def _q_pagerank_edges(spark, sf_dir):
    e = _edges(spark, sf_dir)
    res = pagerank_edges(e, _nodes(e), alpha=ALPHA, n_iter=PR_ITERS)
    return res.ranks.select("id", F.round("rank", 9).alias("rank"))


def _q_pagerank_csr(spark, sf_dir):
    """Block-vector CSR kernel (the scale path); `pagerank_edges` covers
    the join/agg plan here."""
    e = _edges(spark, sf_dir)
    csr = build_csr(e, num_blocks=8)
    res = pagerank_block(spark, csr, _nodes(e), alpha=ALPHA, tol=0.0, max_iter=PR_ITERS)
    return res.ranks.select("id", F.round("rank", 9).alias("rank"))


def _labelled(spark, sf_dir):
    """Multi-arc labelled edges: label = quantity (duplicates expected)."""
    return _lineitem(spark, sf_dir).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") % 120).cast("long").alias("dst"),
        F.col("l_quantity").cast("long").alias("label"),
    )


def _q_pagerank_weighted(spark, sf_dir):
    lab = merge_duplicate_arcs(_labelled(spark, sf_dir), "min")
    w = lab.select("src", "dst", F.col("label").cast("double").alias("weight"))
    res = pagerank_weighted(w, _nodes(w), n_iter=PR_ITERS)
    return res.ranks.select("id", F.round("rank", 9).alias("rank"))


def _q_triangles(spark, sf_dir):
    """Per-vertex triangle participation plus the global count as the
    ``id = -1`` row — one frame keeps the driver surface at 50 entries.
    Each triangle counts once at each of its 3 corners, so the total is the
    per-vertex sum / 3."""
    tv = triangles_per_vertex(_edges(spark, sf_dir))
    total = tv.agg(
        F.lit(-1).cast("long").alias("id"),
        F.coalesce(F.expr("sum(triangles) div 3"), F.lit(0)).alias("triangles"),
    )
    return tv.unionByName(total)


def _q_bfs(spark, sf_dir):
    e = _edges(spark, sf_dir)
    src = e.agg(F.min("src").alias("id"))
    # max_depth must equal the SQL oracle's recursion cap (dist < 30)
    return bfs_distances(e, src, max_depth=30)


def _q_scc(spark, sf_dir):
    e = _edges(spark, sf_dir)
    return strongly_connected_components(e, _nodes(e)).components.select(
        "id", "comp"
    )


def _q_simrank(spark, sf_dir):
    e = _edges(spark, sf_dir).filter((F.col("src") < 20) & (F.col("dst") < 20))
    res = simrank(e, c=0.8, max_iter=3, tol=0.0)
    return res.scores.select("a", "b", F.round("s", 9).alias("s"))


def _q_geometric(spark, sf_dir):
    e = _edges(spark, sf_dir).filter(F.col("dst") < 30)
    out = geometric_centralities(e, _nodes(e), alpha=0.5, max_depth=30)
    return out.select(
        "id",
        "reachable",
        "sum_dist",
        F.round("closeness", 6).alias("closeness"),
        F.round("harmonic", 6).alias("harmonic"),
        F.round("lin", 6).alias("lin"),
        F.round("exponential", 6).alias("exponential"),
    )


def _q_betweenness(spark, sf_dir):
    e = _edges(spark, sf_dir).filter((F.col("src") < 25) & (F.col("dst") < 25))
    out = betweenness(e, max_depth=BETW_DEPTH)
    return out.select("id", F.round("betweenness", 6).alias("betweenness"))


def _q_diameter_radius(spark, sf_dir):
    """Exact SumSweep on the largest SCC (the reference's effective regime —
    ``SumSweepDirectedDiameterRadius.java:137``)."""
    e = _edges(spark, sf_dir)
    comps = strongly_connected_components(e, _nodes(e)).components
    top = (
        comps.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("sz"))
        .orderBy(F.desc("sz"), F.asc("comp"))
        .limit(1)
    )
    keep = comps.join(top.select("comp"), "comp").select("id")
    sub = T.subgraph(e, keep)
    res = sumsweep_diameter_radius(sub, keep)
    return spark.createDataFrame(
        [(res.diameter, res.radius)], "diameter long, radius long"
    )


def _q_csr_roundtrip(spark, sf_dir):
    """CSR encode→decode round-trip PLUS bulk adjacency probes against the
    same blocks (EFGraph ``skipTo``; formerly the standalone ``has_arcs``
    query) in one frame tagged by ``part`` — decoded arcs exist by
    construction, probe rows answer membership from the CSR payload."""
    e = _edges(spark, sf_dir)
    csr = build_csr(e, num_blocks=8)
    arcs = csr_to_edges(csr.blocks).select(
        F.lit("roundtrip").alias("part"),
        "src",
        "dst",
        F.lit(True).alias("exists"),
    )
    probes = (
        _lineitem(spark, sf_dir)
        .select(
            F.col("l_suppkey").cast("long").alias("src"),
            ((F.col("l_partkey") * 7 + 3) % 120).cast("long").alias("dst"),
        )
        .distinct()
    )
    pr = csr_has_arcs(csr, probes).select(
        F.lit("probe").alias("part"), "src", "dst", "exists"
    )
    return arcs.unionByName(pr)


def _q_text_roundtrip(spark, sf_dir):
    """Arc-list + .graph-txt + scattered-arc ingestion round-trips in one
    frame, tagged by ``fmt`` (ArcListASCIIGraph / ASCIIGraph /
    ScatteredArcsASCIIGraph)."""
    import atexit
    import shutil
    import tempfile

    e = _edges(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="wg_rt_")
    # the returned frame reads these files lazily, so they cannot be
    # deleted here — reclaim at interpreter exit instead of leaking one
    # directory per invocation
    atexit.register(shutil.rmtree, base, ignore_errors=True)

    write_arc_list(e, base + "/arcs")
    arclist = read_arc_list(spark, base + "/arcs").withColumn(
        "fmt", F.lit("arclist")
    )

    write_ascii_graph(e, base + "/g.graph-txt", num_nodes=120)
    _, ascii_back = read_ascii_graph(spark, base + "/g.graph-txt")
    ascii_back = ascii_back.withColumn("fmt", F.lit("ascii"))

    write_arc_list(
        e.select(
            (F.col("src") + 1_000_000).alias("src"),
            (F.col("dst") + 1_000_000).alias("dst"),
        ),
        base + "/scat",
    )
    _, scat = read_scattered_arcs(spark, base + "/scat")
    scat = scat.withColumn("fmt", F.lit("scattered"))

    return (
        arclist.unionByName(ascii_back)
        .unionByName(scat)
        .select("fmt", "src", "dst")
    )


def _cosin_arcs(spark, sf_dir):
    """COSIN legacy binary round-trip (``cosin/CosinGraph.java:48-190``):
    write the driver edge set into the fixed-width ``.info``/``.succ`` pair,
    read it back with the distributed two-pass range reader, return the
    arcs. The oracle regenerates the same arcs relationally — the hash match
    proves decode(encode(G)) == G through the real binary container."""
    import atexit
    import shutil
    import tempfile

    from webgraph_spark.sources.cosin import read_cosin, write_cosin

    e = _edges(spark, sf_dir)
    nmax = e.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("m")
    ).collect()[0]["m"]
    base = tempfile.mkdtemp(prefix="wg_cosin_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    write_cosin(e, base + "/g", num_nodes=int(nmax) + 1)
    _, back = read_cosin(spark, base + "/g")
    return back.select("src", "dst")


def _webbase_arcs(spark, sf_dir):
    """WebBase crawl-dump conversion (``c/webbase.c:20-87`` +
    ``webbase/Hasher.java:55-80`` + ``webbase/Converter.java:100-160``):
    synthesize a dump from the supplier table with every filter case planted
    (robots.txt page, non-http page, mixed-case protocol, space / CRLF /
    non-lowercase-http / unresolvable outlinks), parse it with the
    splittable cookie-delimited reader, mint sort-order ids, resolve links.
    The oracle recomputes kept pages, the id map, and the deduplicated
    resolved arcs from the same arithmetic."""
    import atexit
    import shutil
    import tempfile

    from webgraph_spark.sources.webbase import (
        read_webbase_pages,
        webbase_to_graph,
        write_webbase_dump,
    )

    ks = sorted(
        int(r["s_suppkey"])
        for r in spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .select("s_suppkey")
        .collect()
    )
    n = len(ks)

    def url(k: int) -> str:
        return f"http://node{k:05d}.test/"

    records = []
    for k in ks:
        if k % 17 == 0:
            records.append((url(k) + "robots.txt", [url((k * 7) % n + 1)]))
        elif k % 23 == 0:
            records.append((f"ftp://node{k:05d}.test/", [url((k * 7) % n + 1)]))
        else:
            page = "HTTP" + url(k)[4:] if k % 5 == 0 else url(k)

            def t(m: int) -> int:
                return (k * m) % n + 1

            records.append(
                (
                    page,
                    [
                        url(t(7)),
                        url(t(13)),
                        # URL2-normalized resolution (Converter.java:115-125
                        # via webbase/URL2.java): each of these resolves to
                        # url(t) after normalization — host lowercasing,
                        # default-port strip, empty path -> "/", trailing
                        # host dot, fragment strip
                        url(t(3)).upper().replace("HTTP://", "http://"),
                        url(t(11))[:-1] + ":80/",
                        url(t(19))[:-1],
                        url(t(29))[:-1] + "./",
                        url(t(31)) + "#frag",
                        "http://spa ce.test/",
                        "nothttp://x.test/",
                        "Http://case.test/",
                        "http://nowhere.test/",
                    ],
                )
            )
    base = tempfile.mkdtemp(prefix="wg_webbase_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    path = base + "/dump.txt"
    write_webbase_dump(records, path)
    _, edges = webbase_to_graph(read_webbase_pages(spark, path))
    return edges.select("src", "dst")


def _q_legacy_roundtrip(spark, sf_dir):
    """Both legacy converters (formerly the standalone ``cosin_roundtrip``
    and ``webbase_convert`` queries) in one frame tagged by ``fmt``."""
    return (
        _cosin_arcs(spark, sf_dir)
        .select(F.lit("cosin").alias("fmt"), "src", "dst")
        .unionByName(
            _webbase_arcs(spark, sf_dir).select(
                F.lit("webbase").alias("fmt"), "src", "dst"
            )
        )
    )


def _q_labelled_merge(spark, sf_dir):
    """Both labelled merge families in one tagged frame: the aggregate
    strategy (min) and the fork's DEFAULT keep-last
    (``ScatteredLabelledArcsASCIIGraph.java:197-294``), made deterministic
    by a total input-order sequence (here ``l_orderkey*8 + l_linenumber`` —
    unique per lineitem row, the parquet analogue of the reader's line
    number)."""
    lab = _labelled(spark, sf_dir)
    mn = merge_duplicate_arcs(lab, "min").withColumn(
        "strategy", F.lit("min")
    )
    seq = _lineitem(spark, sf_dir).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") % 120).cast("long").alias("dst"),
        F.col("l_quantity").cast("long").alias("label"),
        (F.col("l_orderkey").cast("long") * 8 + F.col("l_linenumber"))
        .cast("long")
        .alias("seq"),
    )
    last = merge_duplicate_arcs(seq, "last", seq_col="seq").withColumn(
        "strategy", F.lit("last")
    )
    return mn.unionByName(last).select("strategy", "src", "dst", "label")


def _q_labelled_algebra(spark, sf_dir):
    """Labelled-graph algebra in one frame tagged by ``op`` (formerly the
    standalone ``labelled_compose`` and ``labelled_union`` queries):

    - ``compose``: (min, +) semiring composition of the min-merged labelled
      graph with itself (``Transform.java:2200-2350``).
    - ``union``: union of two overlapping labelled graphs (lineitem split by
      line number), coincident arcs merged with max — composite semantics
      the plain min-merge of the whole table cannot reproduce
      (``labelling/UnionArcLabelledImmutableGraph.java:47``)."""
    lab = merge_duplicate_arcs(_labelled(spark, sf_dir), "min")
    comp = compose_semiring(lab, lab).select(  # (min, +) semiring
        F.lit("compose").alias("op"), "src", "dst", "label"
    )
    split = _lineitem(spark, sf_dir).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("l_partkey") % 120).cast("long").alias("dst"),
        F.col("l_quantity").cast("long").alias("label"),
        F.col("l_linenumber").alias("ln"),
    )
    g0 = merge_duplicate_arcs(split.filter(F.col("ln") <= 3).drop("ln"), "min")
    g1 = merge_duplicate_arcs(split.filter(F.col("ln") > 3).drop("ln"), "min")
    uni = union_labelled(g0, g1, "max").select(
        F.lit("union").alias("op"), "src", "dst", "label"
    )
    return comp.unionByName(uni)


def _q_host_map(spark, sf_dir):
    """BuildHostMap parity (``BuildHostMap.java:57-103``): deterministic
    URLs synthesized from the documents table (subdomain / TLD / dotted
    numeric addresses by doc_id arithmetic), then the full host map at both
    granularities — ``scope='host'`` (raw hosts) and ``scope='tpd'`` (top
    private domains via the packaged full public-suffix list,
    ``sources/psl.py``; dotted addresses and unknown-suffix hosts kept
    unchanged, like the reference's ``isUnderPublicSuffix`` gate). The
    ``.internal`` TLD exercises that gate; ``co.uk`` and ``co.kr`` the
    2-label registry suffixes (``co.kr`` was NOT in the round-2/3 embedded
    subset — it exercises the full list); ``.ck`` the wildcard rule
    ``*.ck`` (every <label>.ck is a public suffix) and, via the planted
    ``www.ck`` hosts, the exception rule ``!www.ck``; the planted
    ``x.ec2-N.us-east-1.compute.amazonaws.com`` hosts the DEEP private
    wildcard ``*.compute.amazonaws.com`` (round-5 upstream-parity fix:
    the round-4 snapshot carried the exact rule) — only the join matcher
    expresses 4-label wildcards, so this pins build_host_map to it."""
    from webgraph_spark.sources.hosts import build_host_map

    docs = _docs(spark, sf_dir)
    sub = F.element_at(
        F.array(F.lit("www"), F.lit("cdn"), F.lit("a1.b2")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    tld = F.element_at(
        F.array(
            F.lit("com"), F.lit("co.uk"), F.lit("org"), F.lit("internal"),
            F.lit("co.kr"), F.lit("ck"),
        ),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    url = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(F.lit("http://10.0."), F.col("doc_id") % 250, F.lit(".7/x")),
    ).when(
        F.col("doc_id") % 23 == 0,
        F.concat(F.lit("https://www.ck/e/"), F.col("doc_id")),
    ).when(
        F.col("doc_id") % 29 == 0,
        F.concat(
            F.lit("https://x.ec2-"), F.col("doc_id") % 5,
            F.lit(".us-east-1.compute.amazonaws.com/i"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://"), sub, F.lit("."), F.col("source"),
            F.lit("."), tld, F.lit("/p/"), F.col("doc_id"),
        )
    )
    urls = docs.select(url.alias("url"))

    def tag(df, scope):
        return df.select(
            F.lit(scope).alias("scope"), "host", "host_id", "n_urls"
        )

    return tag(build_host_map(urls), "host").unionByName(
        tag(build_host_map(urls, top_private_domain=True), "tpd")
    )


def _q_permutations(spark, sf_dir):
    """All four node-renumber strategies in one frame, tagged by ``kind``
    (keeps the driver surface at 50 entries): ``degree`` (descending
    out-degree), ``key`` (supplier nation — host-by-host analogue),
    ``lex``/``gray`` (bounded-key default, max_prefix=64, portable tie-hash
    so DuckDB replays the full (prefix, degree, xor-hash, id) rule)."""
    e = _edges(spark, sf_dir)
    n = _nodes(e)
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    attrs = sup.select(
        F.col("s_suppkey").cast("long").alias("id"),
        F.col("s_nationkey").cast("long").alias("nation"),
    )

    def tag(df, kind):
        return df.select(F.lit(kind).alias("kind"), "id", "new_id")

    return (
        tag(degree_permutation(e, n), "degree")
        .unionByName(tag(permute_by_key(attrs, ["nation"]), "key"))
        .unionByName(tag(lexicographic_permutation(e, n, hash_fn="portable"), "lex"))
        .unionByName(tag(gray_code_permutation(e, n, hash_fn="portable"), "gray"))
    )


def _mod_graph(spark, sf_dir, mod: int = 1500):
    """Sparser derived graph than the 120-node headline fixture: mod-1500
    projection of the order->part incidence (~1500 nodes, avg undirected
    degree ~150 at sf0.01, heavy-tailed) — deep enough for a multi-round
    k-core peel."""
    return _lineitem(spark, sf_dir).select(
        (F.col("l_orderkey") % mod).cast("long").alias("src"),
        (F.col("l_partkey") % mod).cast("long").alias("dst"),
    )


def _q_k_core(spark, sf_dir):
    """Peeling fixpoint (Seidman k-core) on the mod-1500 graph; k=56 peels
    ~13 rounds at sf0.01 — a genuinely iterative fixture, not a one-shot
    degree filter."""
    return k_core(_mod_graph(spark, sf_dir), k=56).nodes


HITS_ITERS = 8


def _q_hits(spark, sf_dir):
    """Fixed-iteration HITS (tol=0 disables early exit) so the DuckDB
    oracle unrolls the coupled normalized power iteration term-for-term."""
    e = _edges(spark, sf_dir)
    res = hits(e, _nodes(e), max_iter=HITS_ITERS, tol=0.0)
    return res.scores.select(
        "id",
        F.round("hub", 9).alias("hub"),
        F.round("auth", 9).alias("auth"),
    )


def _q_clustering(spark, sf_dir):
    """Local clustering coefficients per node plus global transitivity as
    the ``scope = 'global', id = -1`` row — one frame keeps the driver
    surface at 50 entries."""
    e = _edges(spark, sf_dir)
    loc = local_clustering_coefficient(e).select(
        F.lit("local").alias("scope"),
        "id",
        F.round("lcc", 9).alias("coeff"),
    )
    v = global_clustering_coefficient(e)
    # round in Spark (half-up, like DuckDB's ROUND), not Python (banker's)
    glob = spark.createDataFrame([(v,)], "t double").select(
        F.lit("global").alias("scope"),
        F.lit(-1).cast("long").alias("id"),
        F.round("t", 9).alias("coeff"),
    )
    return loc.unionByName(glob)


def _q_top_k_geometric(spark, sf_dir):
    """HyperBall-pruned candidates + exact BFS re-rank; ranking over the
    6-decimal-rounded metric so mathematically-tied nodes order by id in
    both engines (the oracle ranks ALL nodes exactly — it also checks that
    the pruning never dropped a true top-k node)."""
    e = _edges(spark, sf_dir).filter(F.col("dst") < 30)
    return top_k_geometric(
        e, _nodes(e), k=10, metric="harmonic", max_depth=30, rank_round=6
    )


def _q_personalized_pagerank(spark, sf_dir):
    """PPR from sources {id < 10}: teleport + dangling mass concentrate on
    the source set; fixed PR_ITERS iterations (tol=0) for the SQL unroll."""
    e = _edges(spark, sf_dir)
    csr = build_csr(e, num_blocks=8)
    nodes = _nodes(e)
    sources = nodes.filter(F.col("id") < 10)
    res = personalized_pagerank(
        spark, csr, nodes, sources, alpha=ALPHA, tol=0.0, max_iter=PR_ITERS
    )
    return res.ranks.select("id", F.round("rank", 9).alias("rank"))


def _q_cosine_topk(spark, sf_dir):
    """All three ANN strategies in one frame, tagged by ``method`` (keeps
    the driver surface at 50 entries):

    - ``exact``: brute-force bounded baseline.
    - ``ivf``: IVF with nprobe = n_centroids — probing every bucket makes
      IVF exactly equal to the brute-force baseline (the oracle), while the
      Spark plan still exercises the full index path (deterministic
      mini-Lloyd centroids, bucket assignment, bucketed candidate join,
      exact re-score). Partial-probe recall is pytest-asserted separately
      (tests/test_round2_ops.py).
    - ``lsh``: hyperplane-LSH-bucketed over the PORTABLE (md5-derived,
      integer-exact) buckets so the DuckDB oracle replays bucketing,
      candidate join, exact re-score, and top-k; the throughput default
      keeps RNG float hyperplanes."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 8)

    def tag(df, method):
        return df.select(
            F.lit(method).alias("method"),
            "query_id",
            "neighbor_id",
            F.round("score", 6).alias("score"),
            F.col("rn").cast("long").alias("rn"),
        )

    return (
        tag(cosine_topk(emb, q, k=5), "exact")
        .unionByName(tag(cosine_topk_ivf(emb, q, k=5, n_centroids=8, nprobe=8), "ivf"))
        .unionByName(tag(cosine_topk_lsh(emb, q, dim=64, k=5, hash_fn="portable"), "lsh"))
    )


def _plant_neardup_embeddings(emb):
    """Embeddings table + deterministic planted near-duplicates.

    The synthetic embeddings carry no natural near-dups (max pairwise cosine
    ~0.51), so near-dup queries derive copies IN the query, replayable by
    the DuckDB oracle with exact IEEE parity: every element is widened to
    double first, then scaled by ``1 + 0.001*((vec_id + j) % 7)`` (copy A,
    vec_id+10000, for vec_id < 40) or ``1 + 0.001*((vec_id + 2j) % 5)``
    (copy B, vec_id+20000, for vec_id < 12) — double literals and integer
    modulus round identically in both engines. Copies sit at cosine
    ~0.999999 of their base (and of each other), every cross pair stays
    below ~0.52, so a 0.9 threshold separates exactly and the planted
    cluster structure is 12 triples + 28 pairs."""
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )

    def copy(offset, limit, stride, mod):
        # rename the id before projecting: an output column aliased
        # "vec_id" in the SAME select would capture the lambda's
        # F.col("vec_id") (analyzer resolves against the projection), so
        # the factor must reference an unambiguous input name
        src = base.filter(F.col("vec_id") < limit).select(
            F.col("vec_id").alias("__bid"), "embedding"
        )
        return src.select(
            (F.col("__bid") + offset).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, j: x
                * (
                    F.lit(1.0)
                    + F.lit(0.001)
                    * ((F.col("__bid") + stride * j) % mod).cast("double")
                ),
            ).alias("embedding"),
        )

    return base.unionByName(copy(10000, 40, 1, 7)).unionByName(
        copy(20000, 12, 2, 5)
    )


def _q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs + transitive cluster ids — the
    vector-space twin of ``minhash_neardup`` (hyperplane-LSH candidates,
    exact cosine verify at threshold 0.9, star-contraction CC over the pair
    graph).

    Runs over the PORTABLE (md5-derived, integer-exact) buckets so the
    DuckDB oracle replays the whole pipeline: planted-copy derivation,
    quantized sign projections, bucket-collision candidate join, exact
    cosine verify, transitive closure."""
    from webgraph_spark.algo.components import star_contraction_components

    from webgraph_spark.plans.iterate import checkpoint_state

    aug = _plant_neardup_embeddings(_emb(spark, sf_dir))
    pairs = cosine_neardup_pairs(
        aug, dim=64, threshold=0.9, hash_fn="portable"
    ).persist()
    try:
        pairs.count()
        edges = pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        comps = star_contraction_components(
            edges, aug.select(F.col("vec_id").alias("id"))
        ).components
        out = (
            pairs.join(comps, pairs["id_a"] == comps["id"])
            .select(
                "id_a",
                "id_b",
                F.round("score", 6).alias("score"),
                F.col("comp").alias("cluster"),
            )
        )
        # checkpoint the (small) result so the pairs cache can be released
        # before returning — repeated driver-query runs in one session must
        # not accumulate cached blocks
        return out.transform(checkpoint_state)
    finally:
        pairs.unpersist()


def _q_dedup_exact(spark, sf_dir):
    """Exact dedup + duplicate-group accounting in one frame: one row per
    normalized-content group, keeper = min doc id."""
    docs = _docs(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (
        docs.select("doc_id", F.sha2(norm, 256).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select("doc_id", "n_docs", "fp")
    )


def _q_ngram_jaccard(spark, sf_dir):
    out = ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.2
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q_minhash_neardup(spark, sf_dir):
    """MinHash-LSH verified pairs + transitive near-dup cluster ids in one
    frame (pair finder composed with star-contraction CC, which takes the
    arbitrary doc ids as they are).

    Runs over the PORTABLE (md5-based, mod 2^31-1) hash so the DuckDB oracle
    replays the ENTIRE pipeline — shingling, signatures, banding, candidate
    join, exact-Jaccard verify, transitive closure; the throughput default
    (xxhash64 mod 2^64) shares every line but the hash primitive."""
    from webgraph_spark.algo.components import star_contraction_components
    from webgraph_spark.plans.iterate import checkpoint_state

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.2,
        hash_fn="portable",
    ).persist()
    try:
        pairs.count()
        edges = pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        comps = star_contraction_components(
            edges, docs.select(F.col("doc_id").alias("id"))
        ).components
        out = (
            pairs.join(comps, pairs["id_a"] == comps["id"])
            .select(
                "id_a", "id_b",
                F.round("jaccard", 6).alias("jaccard"),
                F.col("comp").alias("cluster"),
            )
        )
        # checkpoint the (small) result so the pairs cache can be released
        # before returning — repeated driver-query runs in one session must
        # not accumulate cached blocks
        return out.transform(checkpoint_state)
    finally:
        pairs.unpersist()


def _q_simhash(spark, sf_dir):
    """SimHash near-dup pairs over the PORTABLE (md5-based) token hash so
    the whole pipeline — tokenize, bit votes, pigeonhole banding, popcount
    verify — is replayed by the DuckDB oracle; the throughput default
    (xxhash64) shares every line but the hash primitive."""
    from webgraph_spark.functions.dedup import simhash_pairs

    out = simhash_pairs(
        _docs(spark, sf_dir), "doc_id", "text", max_hamming=8,
        hash_fn="portable",
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _q_text_features(spark, sf_dir):
    """text stats + quality + language id + fingerprint, one wide row/doc."""
    docs = _docs(spark, sf_dir)
    stats = with_text_stats(docs, "text").select(
        "doc_id",
        F.col("n_chars_actual").cast("long").alias("n_chars_actual"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        bpe_token_count("text").cast("long").alias("bpe_tokens"),
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )
    lid = langid(docs, "text").select("doc_id", "lang_pred")
    fp = fingerprint(docs, "text").select("doc_id", "fingerprint")
    return stats.join(lid, "doc_id").join(fp, "doc_id")


def _q_events_windowed(spark, sf_dir):
    """Tumbling 1-day windows per event type (batch form of the streaming
    windowed aggregate; watermarking applies on the readStream variant)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("users"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def _q_engine_stats(spark, sf_dir):
    """HyperBall NF + CSR compression accounting, long format.

    Runs the sketch over the PORTABLE (md5-based) register hash so the
    DuckDB oracle replays the whole HLL pipeline — register index/rank,
    iterated register max over balls, the estimator with its linear-counting
    branch, the convergence cut — plus the varint-gap byte accounting of the
    CSR codec (head zigzag + gap-1 tails as window arithmetic)."""
    from webgraph_spark.plans.csr import compression_stats

    e = _edges(spark, sf_dir)
    res = hyperball(e.filter(F.col("dst") < 30), _nodes(e.filter(F.col("dst") < 30)),
                    log2m=5, max_iter=16, hash_fn="portable")
    rows = [(f"nf_{t}", round(v, 3)) for t, v in enumerate(res.nf)]
    s = compression_stats(build_csr(e, num_blocks=8))
    rows += [
        ("succ_bytes", float(s["succ_bytes"])),
        ("edges", float(s["edges"])),
        ("rows", float(s["rows"])),
        ("blocks", float(s["blocks"])),
        ("bits_per_link", s["bits_per_link"]),
    ]
    return spark.createDataFrame(rows, "metric string, value double")


def _q_corpus_invariant(spark, sf_dir):
    """Synthesized corpus shape + sha256 content invariant + content
    checksums — the DuckDB oracle REGENERATES the corpus arithmetically and
    must reproduce the same min/max content hashes."""
    corpus = synth_corpus(spark, **CORPUS_SHAPE).persist()
    try:
        viol = corpus.filter(
            F.sha2(F.col("content"), 256) != F.col("content_sha")
        ).count()
        agg = corpus.agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("content_sha").alias("mn"),
            F.max("content_sha").alias("mx"),
        ).collect()[0]
    finally:
        # both actions are done and the result below is a local literal
        # frame — release the cache so repeated driver-query runs in one
        # session do not accumulate blocks
        corpus.unpersist()
    return spark.createDataFrame(
        [(int(agg["rows"]), int(viol), agg["mn"], agg["mx"])],
        "corpus_rows long, sha_violations long, min_sha string, max_sha string",
    )


def _q_corpus_pagerank(spark, sf_dir):
    corpus = synth_corpus(spark, **CORPUS_SHAPE)
    nodes = corpus_nodes(corpus)
    edges = corpus_edges(corpus, nodes, no_loops=True)
    csr = build_csr(edges, num_blocks=8)
    res = pagerank_block(spark, csr, nodes.select("id"), tol=0.0, max_iter=PR_ITERS)
    return res.ranks.select("id", F.round("rank", 9).alias("rank"))


def _q_media_features(spark, sf_dir):
    """REAL media decode end-to-end: deterministic payload bytes →
    encode_media (gray PNG with the per-row filter cycle / WAV PCM / Y4M
    frames) → decode_media (zlib inflate + all five PNG filter
    reconstructions, RIFF parse, frame walk). The oracle regenerates the
    payload bytes from the sha256 hex and computes the decoded statistics
    directly — so a hash match proves decode(encode(x)) == x through the
    real containers, not just plumbing.

    Also covers the two derived stages: ``resize_media`` to (4, 6) —
    ``rs_bytes``/``rs_mean`` are the decoded sample count and mean AFTER
    nearest-neighbor resample + re-encode (the oracle replays the
    integer-exact index math, including the per-frame roll offsets of the
    video payloads) — and ``video_frame_sample`` every_k=2 —
    ``vfs_frames`` checks the sampling arithmetic, ``vfs_mean`` that the
    frame → PNG → decode round trip preserves the byte population."""
    media = synth_media(spark, n=48)
    enc = encode_media(media)
    decoded = decode_media(enc)
    feats = byte_histogram_features(media, bins=16)
    rs = decode_media(resize_media(enc, out_w=6, out_h=4)).select(
        "media_id",
        F.col("n_bytes").alias("rs_bytes"),
        F.round("mean_byte", 6).alias("rs_mean"),
    )
    vstat = (
        decode_media(
            video_frame_sample(enc, every_k=2).select(
                "media_id",
                F.lit("image").alias("kind"),
                F.col("frame_png").alias("payload"),
            )
        )
        .groupBy("media_id")
        .agg(
            F.count("*").cast("long").alias("vfs_frames"),
            # mean_byte per frame is tot/128 (exactly representable);
            # summing the de-normalized tots keeps the agg order-exact
            F.round(
                F.sum(F.col("mean_byte") * 128) / (F.count("*") * 128), 6
            ).alias("vfs_mean"),
        )
    )
    return (
        decoded.join(feats, "media_id")
        .join(rs, "media_id")
        .join(vstat, "media_id", "left")
        .select(
            "media_id", "kind", "n_bytes", "frames",
            F.round("mean_byte", 6).alias("mean_byte"),
            F.round(F.element_at("features", 1), 6).alias("f0"),
            "rs_bytes", "rs_mean",
            F.coalesce("vfs_frames", F.lit(0)).cast("long").alias("vfs_frames"),
            F.round(F.coalesce("vfs_mean", F.lit(0.0)), 6).alias("vfs_mean"),
        )
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 link graph → CSR blocks → PageRank to convergence."""
    sf_dir = "/root/testdata/sf0.001"
    e = _edges(spark, sf_dir)
    nodes = _nodes(e)
    csr = build_csr(e, num_blocks=8)
    res = pagerank_block(spark, csr, nodes, alpha=ALPHA, tol=1e-8, max_iter=50)
    return res.ranks.select("id", F.round("rank", 9).alias("rank"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "degrees": _q_degrees,
        "transpose": _q_transpose,
        "symmetrize": _q_symmetrize,
        "simplify": _q_simplify,
        "compose": _q_compose,
        "line_graph": _q_line_graph,
        "subgraph": _q_subgraph,
        "map_quotient": _q_map_quotient,
        "remove_dangling": _q_remove_dangling,
        "union_graphs": _q_union,
        "node_class_filter": _q_node_class_filter,
        "graph_stats": _q_graph_stats,
        "extract_largest_cc": _q_extract_largest_cc,
        "cc_components": _q_cc,
        "labelprop": _q_labelprop,
        "block_kernels": _q_block_kernels,
        "pagerank_edges": _q_pagerank_edges,
        "pagerank_csr": _q_pagerank_csr,
        "pagerank_weighted": _q_pagerank_weighted,
        "triangles": _q_triangles,
        "bfs_distances": _q_bfs,
        "scc_components": _q_scc,
        "simrank": _q_simrank,
        "geometric_centralities": _q_geometric,
        "betweenness": _q_betweenness,
        "diameter_radius": _q_diameter_radius,
        "csr_roundtrip": _q_csr_roundtrip,
        "text_roundtrip": _q_text_roundtrip,
        "legacy_roundtrip": _q_legacy_roundtrip,
        "labelled_merge": _q_labelled_merge,
        "labelled_algebra": _q_labelled_algebra,
        "k_core": _q_k_core,
        "hits": _q_hits,
        "clustering": _q_clustering,
        "top_k_geometric": _q_top_k_geometric,
        "personalized_pagerank": _q_personalized_pagerank,
        "host_map": _q_host_map,
        "permutations": _q_permutations,
        "dedup_exact": _q_dedup_exact,
        "ngram_jaccard": _q_ngram_jaccard,
        "minhash_neardup": _q_minhash_neardup,
        "simhash": _q_simhash,
        "cosine_topk": _q_cosine_topk,
        "embed_neardup": _q_embed_neardup,
        "text_features": _q_text_features,
        "events_windowed": _q_events_windowed,
        "engine_stats": _q_engine_stats,
        "corpus_invariant": _q_corpus_invariant,
        "corpus_pagerank": _q_corpus_pagerank,
        "media_features": _q_media_features,
    }


def oracle_sql() -> dict[str, str]:
    corpus_ctes = corpus_sql_ctes(**CORPUS_SHAPE)
    return {
        "degrees": _with(
            EDGES_CTE,
            NODES_CTE,
            "od AS (SELECT src AS id, count(*) AS dg FROM edges GROUP BY src)",
            "filled AS (SELECT n.id, COALESCE(o.dg, 0) AS dg "
            "FROM nodes n LEFT JOIN od o ON o.id = n.id)",
            select="SELECT dg AS deg, count(*) AS freq FROM filled GROUP BY dg",
        ),
        "transpose": _with(
            EDGES_CTE, select="SELECT dst AS src, src AS dst FROM edges"
        ),
        "symmetrize": _with(
            EDGES_CTE,
            SYM_CTE,
            select="SELECT src, dst FROM sym",
        ),
        "simplify": _with(
            EDGES_CTE,
            SYM_CTE,
            select="SELECT src, dst FROM sym WHERE src <> dst",
        ),
        "compose": _with(
            EDGES_CTE,
            select="SELECT DISTINCT a.src, b.dst FROM edges a "
            "JOIN edges b ON a.dst = b.src",
        ),
        "line_graph": _with(
            EDGES_CTE,
            "f AS (SELECT src, dst FROM edges WHERE dst < 20)",
            select="SELECT a.src AS a_src, a.dst AS a_dst, "
            "b.src AS b_src, b.dst AS b_dst "
            "FROM f a JOIN f b ON a.dst = b.src",
        ),
        "subgraph": _with(
            EDGES_CTE,
            NODES_CTE,
            "keep AS (SELECT id FROM nodes WHERE id <= 60 AND id % 2 = 0)",
            "od AS (SELECT src AS id, count(*) AS dg FROM edges GROUP BY src)",
            "dr AS (SELECT n.id FROM nodes n LEFT JOIN od o ON o.id = n.id "
            "WHERE COALESCE(o.dg, 0) >= 1 AND COALESCE(o.dg, 0) < 119)",
            select="SELECT 'induced' AS which, src, dst FROM edges "
            "WHERE src IN (SELECT id FROM keep) "
            "AND dst IN (SELECT id FROM keep) "
            "UNION ALL "
            "SELECT 'degree_range' AS which, src, dst FROM edges "
            "WHERE src IN (SELECT id FROM dr) AND dst IN (SELECT id FROM dr)",
        ),
        "map_quotient": _with(
            EDGES_CTE,
            select="SELECT DISTINCT src % 10 AS src, dst % 10 AS dst FROM edges",
        ),
        "remove_dangling": _with(
            EDGES_CTE,
            select="SELECT src, dst FROM edges "
            "WHERE dst IN (SELECT DISTINCT src FROM edges)",
        ),
        "union_graphs": _with(
            EDGES_CTE,
            select="SELECT DISTINCT src, dst FROM ("
            "SELECT src, dst FROM edges WHERE dst < 40 "
            "UNION ALL SELECT dst AS src, src AS dst FROM edges "
            "WHERE dst >= 100) t",
        ),
        "node_class_filter": _with(
            EDGES_CTE,
            select="SELECT src, dst FROM edges WHERE src % 7 = dst % 7",
        ),
        "graph_stats": _with(
            EDGES_CTE,
            NODES_CTE,
            "od AS (SELECT n.id, COALESCE(o.dg, 0) AS dg FROM nodes n "
            "LEFT JOIN (SELECT src AS id, count(*) AS dg FROM edges "
            "GROUP BY src) o ON o.id = n.id)",
            "idg AS (SELECT n.id, COALESCE(i.dg, 0) AS dg FROM nodes n "
            "LEFT JOIN (SELECT dst AS id, count(*) AS dg FROM edges "
            "GROUP BY dst) i ON i.id = n.id)",
            *_SCC_CTES,
            "gaps AS (SELECT length(printf('%b', gap)) - 1 AS bucket FROM ("
            "SELECT dst - lag(dst) OVER (PARTITION BY src ORDER BY dst) AS gap "
            "FROM edges) t WHERE gap IS NOT NULL)",
            # locality/gap averages (formerly the standalone gap_stats query)
            "loc AS (SELECT avg(abs(dst - src)) AS avg_locality FROM edges)",
            "per AS (SELECT src, min(dst) AS mn, max(dst) AS mx, "
            "count(*) AS c FROM edges GROUP BY src)",
            "gp AS (SELECT avg(abs(mn - src)) AS avg_first_gap, "
            "avg(CASE WHEN c > 1 THEN (mx - mn) / CAST(c - 1 AS DOUBLE) END) "
            "AS avg_gap FROM per)",
            select="""
SELECT metric, value FROM (
  SELECT 'arcs' AS metric, CAST((SELECT count(*) FROM edges) AS DOUBLE) AS value
  UNION ALL SELECT 'loops', CAST((SELECT COALESCE(sum(CASE WHEN src = dst
    THEN 1 ELSE 0 END), 0) FROM edges) AS DOUBLE)
  UNION ALL SELECT 'n_nodes', CAST((SELECT count(*) FROM nodes) AS DOUBLE)
  UNION ALL SELECT 'min_out', CAST((SELECT min(dg) FROM od) AS DOUBLE)
  UNION ALL SELECT 'max_out', CAST((SELECT max(dg) FROM od) AS DOUBLE)
  UNION ALL SELECT 'avg_out', (SELECT ROUND(avg(dg), 6) FROM od)
  UNION ALL SELECT 'dangling', CAST((SELECT sum(CASE WHEN dg = 0 THEN 1
    ELSE 0 END) FROM od) AS DOUBLE)
  UNION ALL SELECT 'min_in', CAST((SELECT min(dg) FROM idg) AS DOUBLE)
  UNION ALL SELECT 'max_in', CAST((SELECT max(dg) FROM idg) AS DOUBLE)
  UNION ALL SELECT 'avg_in', (SELECT ROUND(avg(dg), 6) FROM idg)
  UNION ALL SELECT printf('loggap_%02d', bucket),
    CAST(count(*) AS DOUBLE) FROM gaps GROUP BY bucket
  UNION ALL SELECT printf('sccsize_%d', sz), CAST(count(*) AS DOUBLE) FROM (
    SELECT comp, count(*) AS sz FROM scc GROUP BY comp) g GROUP BY sz
  UNION ALL SELECT 'avg_locality',
    ROUND((SELECT avg_locality FROM loc), 6)
  UNION ALL SELECT 'avg_gap', (SELECT ROUND(avg_gap, 6) FROM gp)
  UNION ALL SELECT 'avg_first_gap', (SELECT ROUND(avg_first_gap, 6) FROM gp)
  UNION ALL SELECT 'asym_arcs', CAST((SELECT count(*) FROM edges e
    WHERE NOT EXISTS (SELECT 1 FROM edges r
    WHERE r.src = e.dst AND r.dst = e.src)) AS DOUBLE)
) u""",
            recursive=True,
        ),
        "extract_largest_cc": _with(
            *_CC_CTES,
            "sizes AS (SELECT comp, count(*) AS sz FROM comps GROUP BY comp)",
            "top AS (SELECT comp FROM sizes ORDER BY sz DESC, comp ASC LIMIT 1)",
            "keep AS (SELECT id FROM comps WHERE comp = (SELECT comp FROM top))",
            select="SELECT src, dst FROM edges "
            "WHERE src IN (SELECT id FROM keep) "
            "AND dst IN (SELECT id FROM keep)",
            recursive=True,
        ),
        "cc_components": _with(
            *_CC_CTES,
            "sizes AS (SELECT comp, count(*) AS sz FROM comps GROUP BY comp)",
            "mapping AS (SELECT comp, CAST(row_number() OVER "
            "(ORDER BY sz DESC, comp ASC) - 1 AS BIGINT) AS component "
            "FROM sizes)",
            select="SELECT c.id, c.comp, m.component FROM comps c "
            "JOIN mapping m ON m.comp = c.comp",
            recursive=True,
        ),
        "labelprop": _lpa_sql(LPA_ITERS),
        # the block kernels replay the labelprop and cc_components oracles,
        # tagged and nested as subqueries (DuckDB allows WITH [RECURSIVE] in
        # a derived table, so the two CTE namespaces cannot clash)
        "block_kernels": (
            "SELECT 'lpa' AS kernel, id, label AS value FROM ("
            + _lpa_sql(LPA_ITERS)
            + ") l UNION ALL SELECT 'cc', id, comp FROM ("
            + _with(*_CC_CTES, select="SELECT id, comp FROM comps", recursive=True)
            + ") c"
        ),
        "pagerank_edges": _pagerank_sql(PR_ITERS),
        "pagerank_csr": _pagerank_sql(PR_ITERS),
        "pagerank_weighted": _pagerank_weighted_sql(PR_ITERS),
        # per-vertex participation + the global count as the id = -1 row
        # (matches _q_triangles: total = per-vertex sum / 3)
        "triangles": _with(
            *_ORIENTED_CTES,
            select="SELECT id, count(*) AS triangles FROM ("
            "SELECT a AS id FROM tri UNION ALL SELECT b FROM tri "
            "UNION ALL SELECT c FROM tri) t GROUP BY id "
            "UNION ALL SELECT CAST(-1 AS BIGINT) AS id, "
            "(SELECT count(*) FROM tri) AS triangles",
        ),
        "bfs_distances": _with(
            EDGES_CTE,
            "walk AS (SELECT (SELECT min(src) FROM edges) AS id, 0 AS dist "
            "UNION SELECT e.dst AS id, w.dist + 1 FROM walk w "
            "JOIN edges e ON e.src = w.id WHERE w.dist < 30)",
            select="SELECT id, CAST(min(dist) AS INTEGER) AS dist "
            "FROM walk GROUP BY id",
            recursive=True,
        ),
        "scc_components": _with(
            EDGES_CTE,
            NODES_CTE,
            *_SCC_CTES,
            select="SELECT id, comp FROM scc",
            recursive=True,
        ),
        "simrank": _simrank_sql(3),
        "geometric_centralities": _with(
            "edges AS (SELECT src, dst FROM (SELECT DISTINCT l_suppkey AS src, "
            "l_partkey % 120 AS dst FROM lineitem) t WHERE dst < 30)",
            NODES_CTE,
            "walk AS (SELECT id AS s, id AS v, 0 AS dist FROM nodes "
            "UNION SELECT w.s, e.dst AS v, w.dist + 1 FROM walk w "
            "JOIN edges e ON e.src = w.v WHERE w.dist < 30)",
            "pairs AS (SELECT s, v, min(dist) AS dist FROM walk GROUP BY s, v)",
            "a AS (SELECT s AS id, count(*) AS r_out, "
            "CAST(sum(dist) AS BIGINT) AS sum_dist, "
            "sum(1.0 / dist) AS harmonic, "
            "sum(power(0.5, dist)) AS exponential "
            "FROM pairs WHERE dist > 0 GROUP BY s)",
            select="SELECT n.id, COALESCE(a.r_out, 0) + 1 AS reachable, "
            "COALESCE(a.sum_dist, 0) AS sum_dist, "
            "ROUND(CASE WHEN COALESCE(a.sum_dist, 0) > 0 "
            "THEN 1.0 / a.sum_dist ELSE 0.0 END, 6) AS closeness, "
            "ROUND(COALESCE(a.harmonic, 0.0), 6) AS harmonic, "
            "ROUND(CASE WHEN COALESCE(a.sum_dist, 0) > 0 "
            "THEN (a.r_out + 1) * (a.r_out + 1) / CAST(a.sum_dist AS DOUBLE) "
            "ELSE 1.0 END, 6) AS lin, "
            "ROUND(COALESCE(a.exponential, 0.0), 6) AS exponential "
            "FROM nodes n LEFT JOIN a ON a.id = n.id",
            recursive=True,
        ),
        "betweenness": _betweenness_sql(BETW_DEPTH),
        "diameter_radius": _with(
            EDGES_CTE,
            NODES_CTE,
            *_SCC_CTES,
            "sizes AS (SELECT comp, count(*) AS sz FROM scc GROUP BY comp)",
            "top AS (SELECT comp FROM sizes ORDER BY sz DESC, comp ASC LIMIT 1)",
            "sub AS (SELECT id FROM scc WHERE comp = (SELECT comp FROM top))",
            "se AS (SELECT src, dst FROM edges "
            "WHERE src IN (SELECT id FROM sub) AND dst IN (SELECT id FROM sub))",
            "walk AS (SELECT id AS s, id AS v, 0 AS dist FROM sub "
            "UNION SELECT w.s, e.dst AS v, w.dist + 1 FROM walk w "
            "JOIN se e ON e.src = w.v WHERE w.dist < 200)",
            "pairs AS (SELECT s, v, min(dist) AS d FROM walk GROUP BY s, v)",
            "ecc AS (SELECT s, max(d) AS e FROM pairs GROUP BY s)",
            select="SELECT CAST(max(e) AS BIGINT) AS diameter, "
            "CAST(min(e) AS BIGINT) AS radius FROM ecc",
            recursive=True,
        ),
        "csr_roundtrip": _with(
            EDGES_CTE,
            "probes AS (SELECT DISTINCT l_suppkey AS src, "
            "(l_partkey * 7 + 3) % 120 AS dst FROM lineitem)",
            select="SELECT 'roundtrip' AS part, src, dst, TRUE AS exists "
            "FROM edges UNION ALL "
            "SELECT 'probe', p.src, p.dst, EXISTS (SELECT 1 FROM edges e "
            "WHERE e.src = p.src AND e.dst = p.dst) FROM probes p",
        ),
        "text_roundtrip": _with(
            EDGES_CTE,
            NODES_CTE,
            "m AS (SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 "
            "AS BIGINT) AS nid FROM nodes)",
            select="SELECT 'arclist' AS fmt, src, dst FROM edges "
            "UNION ALL SELECT 'ascii', src, dst FROM edges "
            "UNION ALL SELECT 'scattered', ms.nid, md.nid FROM edges e "
            "JOIN m ms ON ms.id = e.src JOIN m md ON md.id = e.dst",
        ),
        "legacy_roundtrip": _with(
            EDGES_CTE,
            "nn AS (SELECT count(*) AS c FROM supplier)",
            "pages AS (SELECT s_suppkey AS k, 'http://node' || "
            "lpad(CAST(s_suppkey AS VARCHAR), 5, '0') || '.test/' AS url "
            "FROM supplier WHERE s_suppkey % 17 <> 0 AND s_suppkey % 23 <> 0)",
            "m AS (SELECT k, url, CAST(row_number() OVER (ORDER BY url) - 1 "
            "AS BIGINT) AS id FROM pages)",
            # one row per planted outlink multiplier — the 3/11/19/29/31
            # links only resolve through URL2 normalization (host case,
            # :80 strip, missing path, trailing dot, fragment); all
            # normalize to the target page's canonical url
            "links AS (SELECT k, (k * m) % (SELECT c FROM nn) + 1 AS t "
            "FROM pages, (SELECT unnest([7, 13, 3, 11, 19, 29, 31]) AS m))",
            select="SELECT 'cosin' AS fmt, src, dst FROM edges "
            "UNION ALL "
            "SELECT DISTINCT 'webbase', ms.id, mt.id FROM links l "
            "JOIN m ms ON ms.k = l.k JOIN m mt ON mt.k = l.t",
        ),
        "labelled_merge": "SELECT 'min' AS strategy, l_suppkey AS src, "
        "l_partkey % 120 AS dst, min(CAST(floor(l_quantity) AS BIGINT)) "
        "AS label FROM lineitem GROUP BY 2, 3 "
        # struct-max, not arg_max: seq ties (the testdata has duplicate
        # (orderkey, linenumber) rows) break by label, exactly as Spark's
        # max(struct(seq, label)) does
        "UNION ALL "
        "SELECT 'last', l_suppkey, l_partkey % 120, "
        "(max(struct_pack(s := CAST(l_orderkey AS BIGINT) * 8 + "
        "l_linenumber, l := CAST(floor(l_quantity) AS BIGINT)))).l "
        "FROM lineitem GROUP BY 2, 3",
        "labelled_algebra": _with(
            "lab AS (SELECT l_suppkey AS src, l_partkey % 120 AS dst, "
            "CAST(floor(l_quantity) AS BIGINT) AS label, l_linenumber AS ln "
            "FROM lineitem)",
            "mrg AS (SELECT src, dst, min(label) AS label FROM lab "
            "GROUP BY src, dst)",
            "g0 AS (SELECT src, dst, min(label) AS label FROM lab "
            "WHERE ln <= 3 GROUP BY src, dst)",
            "g1 AS (SELECT src, dst, min(label) AS label FROM lab "
            "WHERE ln > 3 GROUP BY src, dst)",
            select="SELECT 'compose' AS op, a.src, b.dst, "
            "min(a.label + b.label) AS label "
            "FROM mrg a JOIN mrg b ON a.dst = b.src GROUP BY a.src, b.dst "
            "UNION ALL "
            "SELECT 'union', src, dst, max(label) FROM "
            "(SELECT * FROM g0 UNION ALL SELECT * FROM g1) u "
            "GROUP BY src, dst",
        ),
        # 40 unrolled rounds: the peel is monotone so rounds past the
        # fixpoint are no-ops; depth is ~13 at sf0.01 but DATA-DEPENDENT, so
        # the margin is sized for any sf the checker may point at (a depth
        # ever exceeding it would surface as a rows mismatch, not silently)
        "k_core": _kcore_sql(56, 40),
        "hits": _hits_sql(HITS_ITERS),
        # local coefficients per node + global transitivity as the
        # (scope='global', id=-1) row — mirrors _q_clustering's union
        "clustering": _with(
            *_ORIENTED_CTES,
            "tv AS (SELECT id, CAST(count(*) AS BIGINT) AS tr FROM ("
            "SELECT a AS id FROM tri UNION ALL SELECT b FROM tri "
            "UNION ALL SELECT c FROM tri) t GROUP BY id)",
            "w AS (SELECT sum(d * (d - 1) / 2) AS wedges FROM dg)",
            select="SELECT 'local' AS scope, g.id, CASE WHEN g.d >= 2 THEN "
            "ROUND(2.0 * COALESCE(tv.tr, 0) / (g.d * (g.d - 1)), 9) "
            "ELSE 0.0 END AS coeff "
            "FROM dg g LEFT JOIN tv ON tv.id = g.id "
            "UNION ALL SELECT 'global', CAST(-1 AS BIGINT), "
            "ROUND(3.0 * (SELECT count(*) FROM tri) "
            "/ (SELECT wedges FROM w), 9)",
        ),
        # exact centralities over ALL nodes (recursive-CTE BFS), ranked by
        # the 6-decimal-rounded harmonic with id tie-break — also proves the
        # Spark side's HyperBall pruning kept every true top-10 node
        "top_k_geometric": _with(
            "edges AS (SELECT src, dst FROM (SELECT DISTINCT l_suppkey AS "
            "src, l_partkey % 120 AS dst FROM lineitem) t WHERE dst < 30)",
            NODES_CTE,
            "walk AS (SELECT id AS s, id AS v, 0 AS dist FROM nodes "
            "UNION SELECT w.s, e.dst AS v, w.dist + 1 FROM walk w "
            "JOIN edges e ON e.src = w.v WHERE w.dist < 30)",
            "pairs AS (SELECT s, v, min(dist) AS dist FROM walk GROUP BY s, v)",
            "h AS (SELECT n.id, ROUND(COALESCE(a.harmonic, 0.0), 6) "
            "AS harmonic FROM nodes n LEFT JOIN (SELECT s AS id, "
            "sum(1.0 / dist) AS harmonic FROM pairs WHERE dist > 0 "
            "GROUP BY s) a ON a.id = n.id)",
            "r AS (SELECT CAST(row_number() OVER "
            "(ORDER BY harmonic DESC, id ASC) AS INTEGER) AS rank, "
            "id, harmonic FROM h)",
            select="SELECT rank, id, harmonic FROM r WHERE rank <= 10",
            recursive=True,
        ),
        "personalized_pagerank": _ppr_sql(PR_ITERS),
        # full BuildHostMap replay: URL synthesis, regex host extraction,
        # public-suffix TPD collapse (dotted-address + unknown-suffix hosts
        # unchanged; the synthesized hosts' relevant PSL rules inlined —
        # 'co.uk'/'co.kr' registry suffixes, the '*.ck' wildcard, the
        # '!www.ck' exception), dense lexicographic host ids, per-host
        # URL counts.
        "host_map": """
WITH urls AS (SELECT CASE WHEN doc_id % 17 = 0
    THEN 'http://10.0.' || (doc_id % 250)::VARCHAR || '.7/x'
    WHEN doc_id % 23 = 0
    THEN 'https://www.ck/e/' || doc_id::VARCHAR
    WHEN doc_id % 29 = 0
    THEN 'https://x.ec2-' || (doc_id % 5)::VARCHAR
      || '.us-east-1.compute.amazonaws.com/i'
    ELSE 'https://' || ['www','cdn','a1.b2'][(doc_id % 3 + 1)::INT] || '.'
      || source || '.'
      || ['com','co.uk','org','internal','co.kr','ck'][(doc_id % 6 + 1)::INT]
      || '/p/' || doc_id::VARCHAR END AS url FROM documents),
h AS (SELECT lower(regexp_extract(url,
    '^[A-Za-z][A-Za-z0-9+.\\-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host
  FROM urls),
t AS (SELECT host, string_split(host, '.') AS l FROM h),
tpd AS (SELECT host, CASE
  WHEN regexp_matches(host, '^(([0-9A-Fa-f]+[:])*[0-9A-Fa-f]+|(((0x[0-9A-Fa-f]+)|([0-9]+))\\.)*((0x[0-9A-Fa-f]+)|([0-9]+)))$')
    THEN host
  WHEN len(l) >= 2 AND (l[-2] || '.' || l[-1]) = 'www.ck'
    THEN 'www.ck'
  WHEN len(l) = 4 AND (l[-3] || '.' || l[-2] || '.' || l[-1])
       = 'compute.amazonaws.com'
    THEN host
  WHEN len(l) >= 5 AND (l[-3] || '.' || l[-2] || '.' || l[-1])
       = 'compute.amazonaws.com'
    THEN l[-5] || '.' || l[-4] || '.' || l[-3] || '.' || l[-2] || '.' || l[-1]
  WHEN len(l) >= 3 AND ((l[-2] || '.' || l[-1]) IN ('co.uk','co.kr')
                        OR l[-1] = 'ck')
    THEN l[-3] || '.' || l[-2] || '.' || l[-1]
  WHEN len(l) >= 2 AND l[-1] IN ('com','org')
    THEN l[-2] || '.' || l[-1]
  ELSE host END AS d FROM t),
hg AS (SELECT 'host' AS scope, host, count(*) AS n_urls FROM h GROUP BY host
  UNION ALL
  SELECT 'tpd', d, count(*) FROM tpd GROUP BY d)
SELECT scope, host,
  CAST(row_number() OVER (PARTITION BY scope ORDER BY host) - 1 AS BIGINT)
    AS host_id,
  n_urls FROM hg
""",
        # all four renumber strategies (tagged by kind — one driver entry).
        # Bounded default rule for lex/gray (operators/permutations.py module
        # docstring): key = (first-64-successor prefix, degree, XOR of the
        # portable per-successor hash, id) — the oracle replays the WHOLE
        # rule, tie-hash included, via the shared md5-based 60-bit hash.
        "permutations": "SELECT 'degree' AS kind, id, new_id FROM ("
        + _with(
            EDGES_CTE,
            NODES_CTE,
            "od AS (SELECT n.id, COALESCE(o.dg, 0) AS dg FROM nodes n "
            "LEFT JOIN (SELECT src AS id, count(*) AS dg FROM edges "
            "GROUP BY src) o ON o.id = n.id)",
            select="SELECT id, CAST(row_number() OVER "
            "(ORDER BY dg DESC, id ASC) - 1 AS BIGINT) AS new_id FROM od",
        )
        + ") UNION ALL SELECT 'key', id, new_id FROM ("
        "SELECT CAST(s_suppkey AS BIGINT) AS id, "
        "CAST(row_number() OVER (ORDER BY CAST(s_nationkey AS BIGINT) ASC, "
        "s_suppkey ASC) - 1 AS BIGINT) AS new_id FROM supplier"
        ") UNION ALL SELECT 'lex', id, new_id FROM ("
        + _with(
            EDGES_CTE,
            NODES_CTE,
            f"succ AS (SELECT src AS id, "
            f"list_slice(list_sort(list(dst)), 1, 64) AS k, "
            f"CAST(count(*) AS BIGINT) AS deg, "
            f"bit_xor({_PERM_HASH}) AS th FROM edges GROUP BY src)",
            "keyed AS (SELECT n.id, COALESCE(s.k, CAST([] AS BIGINT[])) AS k, "
            "COALESCE(s.deg, 0) AS deg, COALESCE(s.th, 0) AS th "
            "FROM nodes n LEFT JOIN succ s ON s.id = n.id)",
            select="SELECT id, CAST(row_number() OVER "
            "(ORDER BY k ASC, deg ASC, th ASC, id ASC) - 1 AS BIGINT) "
            "AS new_id FROM keyed",
        )
        + ") UNION ALL SELECT 'gray', id, new_id FROM ("
        + _with(
            EDGES_CTE,
            NODES_CTE,
            f"succ AS (SELECT src AS id, list_sort(list(dst)) AS sl, "
            f"CAST(count(*) AS BIGINT) AS deg, "
            f"bit_xor({_PERM_HASH}) AS th FROM edges GROUP BY src)",
            "keyed AS (SELECT n.id, COALESCE(s.sl, CAST([] AS BIGINT[])) "
            "AS sl, COALESCE(s.deg, 0) AS deg, COALESCE(s.th, 0) AS th "
            "FROM nodes n LEFT JOIN succ s ON s.id = n.id)",
            f"gk AS (SELECT id, deg, th, "
            f"list_transform(list_slice(sl, 1, 64), (x, i) -> "
            f"CASE WHEN (i - 1) % 2 = 0 THEN -x ELSE x END) || "
            f"CASE WHEN deg <= 64 THEN "
            f"[CASE WHEN deg % 2 = 1 THEN {_GRAY_BIG} "
            f"ELSE {-_GRAY_BIG} END] ELSE CAST([] AS BIGINT[]) END AS k "
            f"FROM keyed)",
            select="SELECT id, CAST(row_number() OVER "
            "(ORDER BY k ASC, deg ASC, th ASC, id ASC) - 1 AS BIGINT) "
            "AS new_id FROM gk",
        )
        + ")",
        "dedup_exact": f"SELECT min(doc_id) AS doc_id, count(*) AS n_docs, "
        f"sha256({NORM}) AS fp FROM documents GROUP BY {NORM}",
        "ngram_jaccard": f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
  THEN list_transform(generate_series(1, len(toks) - 2),
       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
  ELSE [array_to_string(toks, ' ')] END) AS g FROM t),
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM (
  SELECT id_a, id_b, i / CAST(sa.c + sb.c - i AS DOUBLE) AS j
  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b) p
WHERE j >= 0.2
""",
        # full MinHash-LSH replay over the portable hash (functions/
        # porthash.py): md5-60 shingle hashes mod P=2^31-1, md5-derived
        # universal-hash coefficients, 16 bands x 4 rows keyed on the raw
        # signature slice, exact-Jaccard verification, then transitive
        # closure for cluster ids — term-for-term the Spark plan.
        "minhash_neardup": f"""
WITH RECURSIVE t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
  THEN list_transform(generate_series(1, len(toks) - 2),
       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
  ELSE [array_to_string(toks, ' ')] END) AS g FROM t),
hh AS (SELECT doc_id, {_PH60("g", "'#42'")} % 2147483647 AS h FROM sh),
ab AS (SELECT k,
  {_PH60("'a'", "k::VARCHAR || '#42'")} % 2147483646 + 1 AS a,
  {_PH60("'b'", "k::VARCHAR || '#42'")} % 2147483647 AS b
  FROM generate_series(0, 63) g(k)),
sig AS (SELECT doc_id, k, (k // 4)::BIGINT AS band,
  min((ab.a * hh.h + ab.b) % 2147483647) AS s
  FROM hh CROSS JOIN ab GROUP BY doc_id, k),
bd AS (SELECT doc_id, band, list(s ORDER BY k) AS bv
  FROM sig GROUP BY doc_id, band),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bd a JOIN bd b ON a.band = b.band AND a.bv = b.bv
  AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT id_a, id_b, count(*) AS i FROM cand
  JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b AND a.g = b.g
  GROUP BY id_a, id_b),
pairs AS (SELECT id_a, id_b, j FROM (
  SELECT id_a, id_b, i / CAST(sa.c + sb.c - i AS DOUBLE) AS j
  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b)
  WHERE j >= 0.2),
msym AS (SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION SELECT e.d AS id, r.comp FROM reach r JOIN msym e ON e.s = r.id),
comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
SELECT p.id_a, p.id_b, ROUND(p.j, 6) AS jaccard, c.comp AS cluster
FROM pairs p JOIN comps c ON c.id = p.id_a
""",
        # SimHash over the portable 60-bit md5 hash (functions/porthash.py):
        # bit votes -> signature -> 9-chunk pigeonhole banding (width 7) ->
        # popcount verify, term-for-term the Spark plan at max_hamming=8.
        "simhash": f"""
WITH tk AS (SELECT doc_id, {TOKS} AS tk FROM documents),
th AS (SELECT doc_id, {_PH60("t", "'#42'")} AS h
  FROM (SELECT doc_id, unnest(tk) AS t FROM tk)),
nt AS (SELECT doc_id, count(*) AS n FROM th GROUP BY doc_id),
votes AS (SELECT doc_id, b, sum((h >> b) & 1) AS ones
  FROM th CROSS JOIN generate_series(0, 59) g(b) GROUP BY doc_id, b),
sg AS (SELECT v.doc_id,
  sum(CASE WHEN v.ones * 2 > nt.n THEN (1::BIGINT << v.b) ELSE 0 END) AS sig
  FROM votes v JOIN nt ON nt.doc_id = v.doc_id GROUP BY v.doc_id),
sigs AS (SELECT d.doc_id, COALESCE(sg.sig, 0) AS sig
  FROM documents d LEFT JOIN sg ON sg.doc_id = d.doc_id),
ch AS (SELECT doc_id, sig, c, (sig >> (c * 7)) & 127 AS v
  FROM sigs CROSS JOIN generate_series(0, 8) g(c)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
  a.sig AS sa, b.sig AS sb
  FROM ch a JOIN ch b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 8
""",
        # three ANN strategies tagged by method (one driver entry):
        # - exact: brute-force bounded baseline (_COSINE_TOPK_SQL);
        # - ivf: nprobe = n_centroids probes every IVF bucket, so the
        #   candidate set is the full corpus and the result is EXACTLY the
        #   brute-force top-k — the same oracle; partial-probe recall is
        #   pytest-asserted;
        # - lsh: full replay — md5-derived ±1 hyperplanes, sign bits over
        #   the floor-quantized int64 projection (bit-identical buckets
        #   across engines), bucket-collision candidates, exact cosine
        #   re-score. 6 tables x 10 planes, dim 64, k=5 — the Spark plan's
        #   constants.
        "cosine_topk": f"SELECT 'exact' AS method, * FROM ({_COSINE_TOPK_SQL})"
        f" UNION ALL SELECT 'ivf', * FROM ({_COSINE_TOPK_SQL})"
        f" UNION ALL SELECT 'lsh', * FROM (" + f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
qz AS (SELECT vec_id,
  list_transform(e, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS q FROM v),
sgn AS (SELECT t, p, d, CASE WHEN
  (({_PH60("'hp42:' || t::VARCHAR || ':' || p::VARCHAR || ':' || (d // 60)::VARCHAR")}
    >> (d % 60)) & 1) = 1 THEN 1 ELSE -1 END AS s
  FROM generate_series(0, 5) gt(t), generate_series(0, 9) gp(p),
       generate_series(0, 63) gd(d)),
proj AS (SELECT z.vec_id, s.t, s.p, sum(z.q[s.d + 1] * s.s) AS dp
  FROM qz z CROSS JOIN sgn s GROUP BY z.vec_id, s.t, s.p),
bux AS (SELECT vec_id, t,
  sum(CASE WHEN dp > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bk
  FROM proj GROUP BY vec_id, t),
cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bux c JOIN bux q ON c.t = q.t AND c.bk = q.bk
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
sc AS (SELECT query_id, neighbor_id,
  list_dot_product(qe.e, ce.e)
    / (sqrt(list_dot_product(qe.e, qe.e)) * sqrt(list_dot_product(ce.e, ce.e)))
    AS score
  FROM cand JOIN v qe ON qe.vec_id = query_id
  JOIN v ce ON ce.vec_id = neighbor_id),
r AS (SELECT query_id, neighbor_id, score,
  row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id ASC) AS rn FROM sc)
SELECT query_id, neighbor_id, ROUND(score, 6) AS score,
  CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5
""" + ")",
        # embedding near-dup full replay: planted-copy derivation (exact
        # double arithmetic, see _plant_neardup_embeddings), md5-derived ±1
        # hyperplanes over the floor-quantized int64 projection (6 tables x
        # 8 planes — cosine_neardup_pairs defaults), bucket-collision pairs,
        # exact cosine verify at 0.9, recursive-CTE transitive closure.
        "embed_neardup": f"""
WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
aug AS (
  SELECT vec_id, e FROM v
  UNION ALL
  SELECT vec_id + 10000, list_transform(generate_series(1, len(e)),
    j -> e[j] * (1.0 + 0.001 * CAST((vec_id + (j - 1)) % 7 AS DOUBLE)))
  FROM v WHERE vec_id < 40
  UNION ALL
  SELECT vec_id + 20000, list_transform(generate_series(1, len(e)),
    j -> e[j] * (1.0 + 0.001 * CAST((vec_id + 2 * (j - 1)) % 5 AS DOUBLE)))
  FROM v WHERE vec_id < 12),
qz AS (SELECT vec_id,
  list_transform(e, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS q FROM aug),
sgn AS (SELECT t, p, d, CASE WHEN
  (({_PH60("'hp42:' || t::VARCHAR || ':' || p::VARCHAR || ':' || (d // 60)::VARCHAR")}
    >> (d % 60)) & 1) = 1 THEN 1 ELSE -1 END AS s
  FROM generate_series(0, 5) gt(t), generate_series(0, 7) gp(p),
       generate_series(0, 63) gd(d)),
proj AS (SELECT z.vec_id, s.t, s.p, sum(z.q[s.d + 1] * s.s) AS dp
  FROM qz z CROSS JOIN sgn s GROUP BY z.vec_id, s.t, s.p),
bux AS (SELECT vec_id, t,
  sum(CASE WHEN dp > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bk
  FROM proj GROUP BY vec_id, t),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bux a JOIN bux b ON a.t = b.t AND a.bk = b.bk
  AND a.vec_id < b.vec_id),
sc AS (SELECT id_a, id_b,
  list_dot_product(ae.e, be.e)
    / (sqrt(list_dot_product(ae.e, ae.e)) * sqrt(list_dot_product(be.e, be.e)))
    AS score
  FROM cand JOIN aug ae ON ae.vec_id = id_a JOIN aug be ON be.vec_id = id_b),
pairs AS (SELECT id_a, id_b, score FROM sc WHERE score >= 0.9),
msym AS (SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT vec_id AS id, vec_id AS comp FROM aug
  UNION SELECT e.d AS id, r.comp FROM reach r JOIN msym e ON e.s = r.id),
comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
SELECT p.id_a, p.id_b, ROUND(p.score, 6) AS score, c.comp AS cluster
FROM pairs p JOIN comps c ON c.id = p.id_a
""",
        # full engine_stats replay: HyperBall-over-portable-hash — register
        # index j = ph60 % 32, rank rho = trailing zeros + 1 (the
        # (h & -h) - 1 popcount trick), ball register maxes per radius t,
        # the HLL estimator with its linear-counting branch, and the
        # register-fixpoint convergence cut (register sums are monotone, so
        # fixpoint = first t with an unchanged sum) — plus the CSR codec's
        # varint byte accounting (zigzag head + gap-1 tails, LEB128 group
        # counts) as window arithmetic. blocks = 8 asserts the
        # degree-balanced cut invariant (8 requested -> 8 non-empty).
        "engine_stats": f"""
WITH RECURSIVE {EDGES_CTE},
sub AS (SELECT src, dst FROM edges WHERE dst < 30),
snodes AS (SELECT DISTINCT id FROM
  (SELECT src AS id FROM sub UNION ALL SELECT dst FROM sub) t),
hreg AS (SELECT id,
  {_PH60("id::VARCHAR || ':0'", "'#j42'")} % 32 AS j,
  {_PH60("id::VARCHAR || ':0'", "'#h42'")} AS h2 FROM snodes),
reg AS (SELECT id, j, CASE WHEN h2 = 0 THEN 1
  ELSE bit_count((h2 & (-h2)) - 1) + 1 END AS rho FROM hreg),
walk AS (SELECT id AS u, id AS v, 0 AS d FROM snodes
  UNION SELECT w.u, e.dst, w.d + 1 FROM walk w JOIN sub e ON e.src = w.v
  WHERE w.d < 16),
ball AS (SELECT u, v, min(d) AS d FROM walk GROUP BY u, v),
mjt AS (SELECT b.u, r.j, t.t, max(r.rho) AS mx
  FROM ball b JOIN reg r ON r.id = b.v
  CROSS JOIN generate_series(0, 16) t(t) WHERE b.d <= t.t
  GROUP BY b.u, r.j, t.t),
regsum AS (SELECT t, sum(mx) AS s FROM mjt GROUP BY t),
tc AS (SELECT COALESCE(min(a.t), 17) AS cut FROM regsum a
  JOIN regsum b ON b.t = a.t - 1 AND b.s = a.s),
est AS (SELECT u, t,
  CASE WHEN (0.697 * 32.0) * 32.0
            / ((32 - count(*)) + sum(power(2.0, -mx))) <= 80.0
        AND (32 - count(*)) > 0
   THEN 32.0 * ln(32.0 / (32 - count(*)))
   ELSE (0.697 * 32.0) * 32.0
        / ((32 - count(*)) + sum(power(2.0, -mx)))
   END AS e FROM mjt GROUP BY u, t),
nf AS (SELECT t, sum(e) AS v FROM est GROUP BY t),
gv AS (SELECT CASE WHEN prev IS NULL THEN
    CASE WHEN dst >= src THEN 2 * (dst - src) ELSE 2 * (src - dst) - 1 END
  ELSE dst - prev - 1 END AS v FROM
  (SELECT src, dst, lag(dst) OVER (PARTITION BY src ORDER BY dst) AS prev
   FROM edges)),
comp AS (SELECT
  sum(CASE WHEN v < 128 THEN 1 WHEN v < 16384 THEN 2
      WHEN v < 2097152 THEN 3 WHEN v < 268435456 THEN 4
      WHEN v < 34359738368 THEN 5 WHEN v < 4398046511104 THEN 6
      WHEN v < 562949953421312 THEN 7 WHEN v < 72057594037927936 THEN 8
      ELSE 9 END)::DOUBLE AS succ_bytes FROM gv),
cnt AS (SELECT count(*)::DOUBLE AS m, count(DISTINCT src)::DOUBLE AS nr
  FROM edges)
SELECT 'nf_' || t::VARCHAR AS metric, ROUND(v, 3) AS value FROM nf
  WHERE t < (SELECT cut FROM tc)
UNION ALL SELECT 'succ_bytes', succ_bytes FROM comp
UNION ALL SELECT 'edges', m FROM cnt
UNION ALL SELECT 'rows', nr FROM cnt
UNION ALL SELECT 'blocks', 8.0
UNION ALL SELECT 'bits_per_link',
  ROUND(succ_bytes * 8.0 / (SELECT m FROM cnt), 3) FROM comp
""",
        "text_features": _text_features_sql(),
        "events_windowed": "SELECT date_trunc('day', ts) AS day, event_type, "
        "count(*) AS n, count(DISTINCT user_id) AS users, "
        "ROUND(sum(value), 4) AS total_value FROM events GROUP BY 1, 2",
        "corpus_invariant": _with(
            corpus_ctes["idx"],
            corpus_ctes["imp"],
            corpus_ctes["corpus"],
            select="SELECT CAST(count(*) AS BIGINT) AS corpus_rows, "
            "CAST(0 AS BIGINT) AS sha_violations, "
            "min(content_sha) AS min_sha, max(content_sha) AS max_sha "
            "FROM corpus",
        ),
        "corpus_pagerank": _corpus_pagerank_sql(PR_ITERS),
        # regenerates the 128 payload bytes from the sha256 hex and computes
        # the DECODED statistics directly: a hash match therefore proves the
        # Spark side's decode(encode(x)) == x through the real containers
        # (PNG zlib+filters / WAV / Y4M). Video frames are rolled copies of
        # the payload, so the all-frames mean equals the payload mean and
        # n_bytes = 128 * frames.
        "media_features": """
WITH m AS (SELECT unnest(range(48)) AS media_id),
h AS (SELECT media_id,
  sha256('42-' || media_id || '-0') || sha256('42-' || media_id || '-1') ||
  sha256('42-' || media_id || '-2') || sha256('42-' || media_id || '-3')
    AS hex FROM m),
f AS (SELECT media_id, hex,
  CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
    ELSE 'video' END AS kind FROM h),
bl AS (SELECT media_id, list_transform(range(128), i ->
  (strpos('0123456789abcdef',
     substr(hex, CAST(2 * i + 1 AS INTEGER), 1)) - 1) * 16
  + strpos('0123456789abcdef',
     substr(hex, CAST(2 * i + 2 AS INTEGER), 1)) - 1) AS bs
  FROM h),
mb AS (SELECT media_id, list_aggregate(bs, 'sum') AS tot FROM bl),
-- flat payload positions picked by the nearest-neighbor resample of the
-- (8,16) grid to (4,6): row i -> i*8//4, col j -> j*16//6 (integer-exact,
-- the same index law as resize_media)
sel AS (SELECT list_transform(range(24), k ->
  ((k // 6) * 8 // 4) * 16 + ((k % 6) * 16) // 6) AS flat),
rs AS (SELECT f.media_id,
  CAST(CASE f.kind WHEN 'image' THEN 24 WHEN 'audio' THEN 6
    ELSE 24 * (f.media_id % 7 + 1) END AS BIGINT) AS rs_bytes,
  CASE f.kind
    WHEN 'image' THEN list_aggregate(list_transform(sel.flat,
      p -> bs[CAST(p + 1 AS INTEGER)]), 'sum') / 24.0
    WHEN 'audio' THEN list_aggregate(list_transform(range(6),
      i -> bs[CAST((i * 128) // 6 + 1 AS INTEGER)]), 'sum') / 6.0
    -- video frame fr is the payload rolled by fr bytes: rolled[p] =
    -- bs[(p - fr) mod 128]; q enumerates (frame, picked position) pairs
    ELSE list_aggregate(list_transform(range((f.media_id % 7 + 1) * 24),
      q -> bs[CAST(((sel.flat[CAST(q % 24 + 1 AS INTEGER)] - q // 24)
                    % 128 + 128) % 128 + 1 AS INTEGER)]), 'sum')
         / ((f.media_id % 7 + 1) * 24.0)
  END AS rs_mean_raw
  FROM f JOIN bl ON bl.media_id = f.media_id CROSS JOIN sel)
SELECT f.media_id, kind,
  CAST(CASE WHEN kind = 'video' THEN 128 * (f.media_id % 7 + 1)
    ELSE 128 END AS BIGINT) AS n_bytes,
  CAST(CASE WHEN kind = 'video' THEN f.media_id % 7 + 1 ELSE 1 END
    AS INTEGER) AS frames,
  ROUND(mb.tot / 128.0, 6) AS mean_byte,
  ROUND(len(list_filter(range(128),
    i -> substr(hex, CAST(2 * i + 1 AS INTEGER), 1) = '0')) / 128.0, 6) AS f0,
  rs.rs_bytes,
  ROUND(rs.rs_mean_raw, 6) AS rs_mean,
  -- every_k=2 over media_id%7+1 frames keeps ceil(frames/2) of them; a
  -- frame is the full rolled payload, so its decoded mean equals the
  -- payload mean (population preserved through PNG re-encode + decode)
  CAST(CASE WHEN kind = 'video' THEN (f.media_id % 7 + 2) // 2 ELSE 0 END
    AS BIGINT) AS vfs_frames,
  ROUND(CASE WHEN kind = 'video' THEN mb.tot / 128.0 ELSE 0.0 END, 6)
    AS vfs_mean
FROM f JOIN mb ON mb.media_id = f.media_id
JOIN rs ON rs.media_id = f.media_id
""",
    }
