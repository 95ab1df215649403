"""Deduplication suite: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data pipeline operators (no reference counterpart — the reference
dedups *arcs*, ``Transform.java:1575-1592``; these dedup *documents*).

Scale notes (100 TB stance):

- exact: one hash-groupBy on sha256(normalized text) — embarrassingly
  parallel, map-side combinable.
- exact n-gram Jaccard: inverted shingle index self-join. The classic guard
  against quadratic blowup is dropping ultra-common shingles (stopword
  shingles hit every doc); exposed as ``max_shingle_freq``.
- MinHash+LSH: signatures are pure column expressions (nested
  ``transform``/``array_min`` over xxhash64 — whole-stage codegen, no UDF);
  banding turns near-dup search into an equi groupBy join. Candidates are
  verified with exact Jaccard so the output has no false positives; recall
  is the standard LSH s-curve in (bands, rows).
- SimHash: 64-bit signature via one Arrow-vectorized pandas UDF (numpy bit
  ops over token hash arrays); near-dup pairs via chunk-match candidates +
  popcount verification (bit_count, JVM-side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from webgraph_spark.plans.partitioning import widen_small_input


def normalized_text(text_col: str = "text") -> Column:
    return F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (normalized) docs: (fingerprint, n_docs, keeper).

    keeper = min id (deterministic survivor selection).
    """
    # no widen_small_input here: sha2 + regex normalization are JVM column
    # expressions (whole-stage codegen), and the groupBy exchange already
    # redistributes — widening only prepends a redundant full-text shuffle
    # (A/B at sf0.1: 0.85 s widened vs 0.60 s plain steady-state)
    return (
        df.select(F.col(id_col), F.sha2(normalized_text(text_col), 256).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one doc (min id) per fingerprint."""
    # JVM-only hashing + a shuffling groupBy: widening is a pure extra
    # exchange here (see exact_duplicate_groups), so scan straight through
    fp = df.withColumn("__fp", F.sha2(normalized_text(text_col), 256))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [id_col, "__fp"], "leftsemi").drop("__fp")


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokens of normalized text."""
    return F.filter(
        F.split(normalized_text(text_col), " "), lambda t: t != F.lit("")
    )


def shingles_from_tokens(toks, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token ARRAY COLUMN (sorted for
    determinism).

    ``toks`` must be a materialized column (attribute), not an expression
    tree: ``F.slice(toks, i, n)`` sits inside a ``transform`` lambda, and
    Spark re-evaluates a lambda's captured subtree PER ELEMENT — with the
    raw tokenizer expression inlined, the regex normalization + split run
    once per shingle instead of once per row (measured 7.4 s vs 0.9 s on
    5k docs). Project the tokens into a column first; Catalyst keeps the
    projection boundary because the attribute is referenced repeatedly.
    """
    if isinstance(toks, str):
        toks = F.col(toks)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_sort(F.array_distinct(grams))


def shingle_col(text_col: str = "text", n: int = 3) -> Column:
    """One-expression shingles from raw text — API-compatible form; prefer
    the two-phase ``select(tokens_col(...))`` + :func:`shingles_from_tokens`
    in plans (see the per-element re-evaluation note there)."""
    return shingles_from_tokens(tokens_col(text_col), n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
    log_dropped: bool = False,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard >= threshold via inverted shingle index.

    Returns (id_a, id_b, jaccard) with id_a < id_b. ``max_shingle_freq``
    drops shingles occurring in more than that many docs from CANDIDATE
    GENERATION only (Jaccard is still exact over full shingle sets): a
    shingle shared by k docs contributes k² candidate rows, so one
    boilerplate line in 10⁶ docs is 10¹² rows without the guard. Default
    1000 caps any shingle's candidate contribution at 10⁶ rows; pairs whose
    ONLY common shingles are ultra-common are missed — pass ``None`` for
    exhaustive candidates on fixture-scale data. ``log_dropped=True`` counts
    and logs the dropped shingles (one extra aggregate job).
    """
    sh = (
        widen_small_input(df)
        .select(F.col(id_col).alias("id"), tokens_col(text_col).alias("__toks"))
        .select("id", shingles_from_tokens("__toks", n).alias("sh"))
        .persist()
    )
    # eager: the returned plan scans sh from up to 4 concurrent stages
    # (inverted-index sides + verify sides); unmaterialized, they race to
    # populate the cache and each re-runs the shingle subtree
    sh.count()
    sizes = sh.select("id", F.size("sh").alias("sz"))
    inv = sh.select("id", F.explode("sh").alias("g"))
    if max_shingle_freq is not None:
        freq = inv.groupBy("g").agg(F.count(F.lit(1)).alias("f"))
        if log_dropped:
            import logging

            dropped = freq.filter(F.col("f") > max_shingle_freq).count()
            logging.getLogger(__name__).info(
                "ngram_jaccard_pairs: dropping %d shingles with doc-freq > %d "
                "from candidate generation", dropped, max_shingle_freq,
            )
        inv = inv.join(freq.filter(F.col("f") <= max_shingle_freq), "g", "leftsemi")
        # exact verification below recomputes the intersection over FULL
        # shingle sets, so the guard only affects which pairs are considered
        a = inv.select(F.col("id").alias("id_a"), "g")
        b = inv.select(F.col("id").alias("id_b"), "g")
        cands = (
            a.join(b, "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        return (
            cands.join(sh_a, "id_a")
            .join(sh_b, "id_b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    a = inv.select(F.col("id").alias("id_a"), "g")
    b = inv.select(F.col("id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signature_expr(
    text_col: str = "text", n: int = 3, num_hashes: int = 64, seed: int = 42
) -> Column:
    """MinHash signature as a pure column expression (no Python): min over
    shingles of xxhash64(g, i).

    Correct but slow for large num_hashes — the nested transform/array_min
    tree evaluates num_hashes × |shingles| hash calls without vectorization.
    Kept as the no-Python fallback; :func:`minhash_signature` is the fast
    path used by default.
    """
    sh = shingle_col(text_col, n)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(sh, lambda g: F.xxhash64(g, i, F.lit(seed)))
        ),
    )


def minhash_signature(
    text_col: str = "text", n: int = 3, num_hashes: int = 64, seed: int = 42
) -> Column:
    """MinHash signature as array<long> computed from raw text. Prefer
    :func:`minhash_signature_from_shingles` over a CACHED shingle column
    when shingles are needed elsewhere in the same plan (LSH verify does):
    the shingle expression tree is big, runs INTERPRETED around Python
    nodes (no whole-stage codegen), and Catalyst inlines a copy per
    reference — measured 24 s vs 3 s on 5k docs for the two-reference plan.
    """
    return minhash_signature_from_shingles(
        shingle_col(text_col, n), num_hashes, seed
    )


# Mersenne prime 2^31 - 1: with base hashes and coefficients reduced mod P,
# the universal-hash product a*h + b stays under 2^62 — exact in int64 on
# BOTH engines (Spark ANSI mode and DuckDB both trap on overflow).
MINHASH_P = 2147483647


def _portable_perm_coeffs(num_hashes: int, seed: int):
    """The (a_k, b_k) universal-hash coefficients of the PORTABLE MinHash,
    derived from md5 so a DuckDB oracle regenerates them with the same
    arithmetic: a_k = ph60('a'||k||'#'||seed) % (P-1) + 1, b_k % P."""
    import hashlib

    def ph60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    a = np.array(
        [ph60(f"a{k}#{seed}") % (MINHASH_P - 1) + 1 for k in range(num_hashes)],
        dtype=np.int64,
    )
    b = np.array(
        [ph60(f"b{k}#{seed}") % MINHASH_P for k in range(num_hashes)],
        dtype=np.int64,
    )
    return a, b


def minhash_signature_from_shingles(
    shingles, num_hashes: int = 64, seed: int = 42, hash_fn: str = "xxhash64"
) -> Column:
    """MinHash signature as array<long> from a shingle array column,
    Arrow-vectorized.

    The JVM hashes each shingle once (``xxhash64``); a pandas UDF applies the
    K universal-hash permutations ``(a_k * h + b_k) mod 2^64`` in one numpy
    broadcast and takes per-document minima with ``minimum.reduceat`` —
    ~100× the throughput of the expression-tree variant at K=64 because the
    per-shingle hash is computed once, not K times.

    ``hash_fn="portable"`` swaps the base hash for the md5-based 60-bit hash
    (``functions/porthash.py``) reduced mod the Mersenne prime 2^31-1, with
    md5-derived permutation coefficients — every value is replayable by a
    DuckDB oracle in exact int64 arithmetic. ~3-5x slower per shingle; the
    throughput default stays xxhash64.
    """
    if isinstance(shingles, str):
        shingles = F.col(shingles)
    portable = hash_fn == "portable"
    if portable:
        from webgraph_spark.functions.porthash import portable_hash60

        salt = f"#{seed}"
        base = F.transform(
            shingles, lambda g: portable_hash60(g, salt) % F.lit(MINHASH_P)
        )
        a, b = _portable_perm_coeffs(num_hashes, seed)
    else:
        base = F.transform(shingles, lambda g: F.xxhash64(g, F.lit(seed)))
        rng = np.random.default_rng(seed)
        a = (rng.integers(1, 2**63, size=num_hashes, dtype=np.int64)
             .astype(np.uint64) * np.uint64(2) + np.uint64(1))  # odd multipliers
        b = rng.integers(0, 2**63, size=num_hashes, dtype=np.int64).astype(np.uint64)

    @pandas_udf("array<long>")
    def sig(hashes: pd.Series) -> pd.Series:
        lens = np.fromiter((len(h) if h is not None else 0 for h in hashes),
                           dtype=np.int64, count=len(hashes))
        if lens.sum() == 0:
            return pd.Series([[0] * num_hashes] * len(hashes))
        if portable:
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in hashes
                 if h is not None and len(h)]
            )
            perm = (a[:, None] * flat[None, :] + b[:, None]) % MINHASH_P
        else:
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in hashes
                 if h is not None and len(h)]
            ).astype(np.uint64)
            with np.errstate(over="ignore"):
                perm = a[:, None] * flat[None, :] + b[:, None]  # (K, total) mod 2^64
        nonempty = lens > 0
        offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=offsets[1:])
        mins = np.minimum.reduceat(perm, offsets, axis=1)  # (K, docs_nonempty)
        mins = mins.astype(np.int64)
        out: list[list[int]] = []
        j = 0
        zero = [0] * num_hashes
        for has in nonempty:
            if has:
                out.append(mins[:, j].tolist())
                j += 1
            else:
                out.append(zero)
        return pd.Series(out)

    return sig(base)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    rows_per_band = num_hashes // bands; candidate pairs collide on at least
    one band; each candidate is verified (no false positives; recall follows
    the (bands, rows) s-curve).

    ``hash_fn="portable"`` makes the whole pipeline DuckDB-replayable: the
    portable signature (see :func:`minhash_signature_from_shingles`) plus
    banding keyed on the raw signature slice (an array<long> equi-join)
    instead of xxhash64 of the slice — same candidate set semantics, r×8
    bytes of join key instead of 8.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # two-phase shingling + signature derived from the shingle ATTRIBUTE:
    # inlining the tokenizer/shingle expression trees re-evaluates them per
    # element / per reference (see shingles_from_tokens docstring)
    sigs = (
        widen_small_input(df)
        .select(F.col(id_col).alias("id"), tokens_col(text_col).alias("__toks"))
        .select("id", shingles_from_tokens("__toks", n).alias("sh"))
        .select(
            "id",
            "sh",
            minhash_signature_from_shingles(
                "sh", num_hashes, seed, hash_fn
            ).alias("sig"),
        )
        .persist()
    )
    # eager: banding sides + verify sides scan sigs from concurrent stages
    # of one action — materialize once or the signature UDF runs 2-4x
    sigs.count()
    if hash_fn == "portable":
        band_key = lambda b: F.slice("sig", b * r + 1, r)  # noqa: E731
    else:
        band_key = lambda b: F.xxhash64(F.slice("sig", b * r + 1, r))  # noqa: E731
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), band_key(b).alias("bh")),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    ca = banded.select(F.col("id").alias("id_a"), "band", "bh")
    cb = banded.select(F.col("id").alias("id_b"), "band", "bh")
    cands = (
        ca.join(cb, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sigs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sigs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH pairs closed under transitivity.

    Pairwise near-dup relations are not transitive; corpus dedup needs the
    connected components of the near-dup graph so each cluster keeps exactly
    one survivor. Returns ``(doc_id, cluster, keeper)`` for every document
    (singletons are their own cluster); ``keeper`` = min doc id in cluster.
    Composes the LSH pair finder with large-star/small-star contraction,
    which works on arbitrary document ids (the block-vector CC kernel needs
    dense ones).
    """
    from webgraph_spark.algo.components import star_contraction_components

    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n, num_hashes, bands, threshold, seed, hash_fn
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    nodes = df.select(F.col(id_col).alias("id"))
    comps = star_contraction_components(edges, nodes).components
    return comps.select(
        F.col("id").alias(id_col),
        F.col("comp").alias("cluster"),
        F.col("comp").alias("keeper"),
    )


def dedup_near(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: keep one doc (min id) per near-dup cluster."""
    clusters = near_dup_clusters(df, id_col, text_col, **kwargs)
    keep = clusters.filter(F.col(id_col) == F.col("keeper")).select(id_col)
    return df.join(keep, id_col, "leftsemi")


def simhash_col(
    text_col: str = "text", seed: int = 42, hash_fn: str = "xxhash64"
) -> Column:
    """64-bit SimHash of whitespace tokens, Arrow-vectorized.

    One pandas UDF: per batch, hash tokens (numpy via pandas hashing of the
    exploded arrays would shuffle — instead we fold Python's stable-by-value
    xxhash from Spark first). Implemented as: Spark computes the token hash
    arrays JVM-side; the UDF only does the bit-vote accumulation in numpy.

    ``hash_fn="portable"`` swaps the token hash for the md5-based 60-bit
    hash a DuckDB oracle can replay (see ``functions/porthash.py``); bits
    60-63 of the signature are then always 0 on both sides.
    """
    toks = F.filter(
        F.split(normalized_text(text_col), " "), lambda t: t != F.lit("")
    )
    if hash_fn == "portable":
        from webgraph_spark.functions.porthash import portable_hash60

        salt = f"#{seed}"
        tok_hashes = F.transform(toks, lambda t: portable_hash60(t, salt))
    else:
        tok_hashes = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))

    @pandas_udf("long")
    def fold(hashes: pd.Series) -> pd.Series:
        # whole-batch vectorization: one (total_tokens, 64) bit matrix and
        # one add.reduceat over document offsets — no per-row Python loop
        out = np.zeros(len(hashes), dtype=np.int64)
        lens = np.fromiter(
            (len(h) if h is not None else 0 for h in hashes),
            dtype=np.int64,
            count=len(hashes),
        )
        nonempty = lens > 0
        if not nonempty.any():
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hashes
             if h is not None and len(h)]
        ).astype(np.uint64)
        offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=offsets[1:])
        doc_lens = lens[nonempty]
        sigs = np.zeros(doc_lens.size, dtype=np.uint64)
        # per-bit vectorized vote: 64 reduceats over the flat token stream
        # (a full (tokens, 64) bit matrix would be 64x the stream's memory)
        for b in range(64):
            ones = ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            sums = np.add.reduceat(ones, offsets)
            # int64, not uint64: negative vote totals must stay negative
            sigs |= ((sums * 2 - doc_lens) > 0).astype(np.uint64) << np.uint64(b)
        out[nonempty] = sigs.astype(np.int64)
        return pd.Series(out)

    return fold(tok_hashes)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Pigeonhole banding: split 64 bits into (max_hamming + 1) chunks; any pair
    within distance d agrees exactly on >= 1 chunk -> candidates from chunk
    equality, verified with bit_count(xor) (JVM-side).
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    sigs = widen_small_input(df).select(
        F.col(id_col).alias("id"),
        simhash_col(text_col, seed, hash_fn).alias("sig"),
    ).persist()
    # eager: both self-join sides scan sigs concurrently — materialize once
    sigs.count()
    mask = (1 << width) - 1
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("sig"), c * width)
                .bitwiseAND(F.lit(mask))
                .alias("ch"),
            )
            for c in range(chunks)
        ]
    )
    banded = sigs.select("id", "sig", F.explode(chunk_arr).alias("cc")).select(
        "id", "sig", F.col("cc.chunk").alias("chunk"), F.col("cc.ch").alias("ch")
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "chunk", "ch"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "chunk", "ch"
    )
    return (
        a.join(b, ["chunk", "ch"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
