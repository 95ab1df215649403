"""Block-vector fixpoint engine shared by PageRank, hash-min CC and LPA.

The vertex state lives as one row per CSR block: the block's node-id range
``[lo, hi]``, a liveness ``mask`` (gap ids inside the range are 0) and one
dense vector per state quantity, covering the range under the CSR's own
degree-balanced cuts. One iteration is

1. gather: cogroup(slot-form, state) on the source block. The cached pair
   slot-form streams with no exchange; the kernel reads source values by
   slot and pre-combines them per destination slot, emitting one binary row
   per (src_block, dst_block) pair — B² rows per iteration, never one per
   edge.
2. fold: cogroup(partials, state) on the destination block, combining the
   incoming partials into the new state row and writing per-block metric
   columns (L1 delta, changed count, ...).
3. the metrics' global sums ride the eager checkpoint as an ``Observation``
   — one action per iteration — then the checkpointer saves the B-row state
   (per-block lineage, resume needs no graph re-scan) and the stop rule runs.

Both cogroups read ONE state frame, driver scalars included (PageRank's
teleport term rides it as columns), so Spark reuses the state exchange: an
iteration is three jobs (state exchange, partial exchange, checkpoint).

The pair slot-form — per (src_block, dst_block) pair, edge-aligned int32
``src_slot``/``dst_slot`` arrays relative to each block's ``lo`` — is decoded
from the varint CSR once and cached on the :class:`CsrGraph` handle (~8
bytes/edge), so later runs on one CSR, and resumed runs, pay the decode and
shuffle a single time. The builder validates that the state layout covers
every edge endpoint: a slot outside its block's range would wrap around the
state vector and silently corrupt the gather, so it raises instead.

The symmetric kernels (CC, LPA) need no varint CSR: :func:`symmetric_graph`
lays out the undirected graph under an edge list as a :class:`SymmetricGraph`
(arc-mass-balanced cuts only), and the slot-form is packed straight from the
edge list — both directions, per edge partition, merged and de-duplicated by
one shuffle of the packed pair rows.

Dense state needs dense node ids (``sources/ids.mint_dense_ids`` renumbers to
0..n-1, as WebGraph does): a block whose id range is far wider than its node
count raises ``ValueError`` instead of allocating the range.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.plans.csr import CsrGraph, decode_block
from webgraph_spark.plans.iterate import checkpoint_state
from webgraph_spark.plans.partitioning import block_id_column

PAIR_SLOTFORM_SCHEMA = (
    "src_block long, dst_block long, src_slot binary, dst_slot binary"
)

_ARROW = {"long": pa.int64(), "double": pa.float64(), "binary": pa.binary()}
_SPARK = {"int64": "long", "float64": "double"}

# a block's dense vectors may span at most this many ids per live node, plus
# the slack, before the ids count as too sparse to allocate
SPARSE_SPAN_FACTOR = 64
SPARSE_SPAN_SLACK = 1 << 20

# symmetrized arcs per block of a SymmetricGraph (build_csr's default), and
# the histogram buckets its cuts are read from: 4096 buckets place each of
# up to a few hundred cuts within a fraction of its block's share
SYMMETRIC_ARCS_PER_BLOCK = 250_000
CUT_BUCKETS = 4096


@dataclass
class BlockSpec:
    """What one algorithm plugs into the engine.

    ``vectors`` maps each per-node state vector to its numpy dtype; the
    node frame handed to :func:`fixpoint` carries one column per vector
    with that node's initial value. ``metrics`` maps each per-block column
    the fold writes to its Spark type; the engine observes their sums, and
    the first one is the ``delta`` the checkpoint lineage records.

    ``gather(st, src_slot, dst_slot)`` returns one binary cell per name in
    ``partials`` for one block pair; ``fold(st, partials_tbl)`` returns the
    changed vectors (ndarrays) and every metric. ``st`` is the decoded state
    row: vectors as ndarrays, every other column (``lo``, driver scalars) as
    a Python value. ``scalars(records)`` gives the next iteration's driver
    scalars; ``stop(metrics)`` says the fixpoint is reached.
    """

    value: str
    vectors: dict[str, str]
    metrics: dict[str, str]
    partials: tuple[str, ...]
    gather: Callable
    fold: Callable
    stop: Callable[[dict], bool]
    scalars: Callable[[list], dict] | None = None

    @property
    def state_fields(self) -> list[tuple[str, str]]:
        """(column, Spark type) of the state frame, in order."""
        return (
            [("block_id", "long"), ("lo", "long"), ("hi", "long"),
             ("mask", "binary")]
            + [(v, "binary") for v in self.vectors]
            + list(self.metrics.items())
        )

    @property
    def state_schema(self) -> str:
        return ", ".join(f"{c} {t}" for c, t in self.state_fields)


@dataclass
class IterRecord:
    """One iteration: its number (1-based, as checkpointed), wall and the
    observed metric sums."""

    iteration: int
    wall_s: float
    metrics: dict[str, float]


@dataclass
class BlockRun:
    state: DataFrame
    spec: BlockSpec
    iterations: int
    records: list[IterRecord] = field(default_factory=list)
    converged: bool = False

    def metric(self, name: str) -> list:
        return [r.metrics[name] for r in self.records]

    @property
    def iter_seconds(self) -> list[float]:
        return [r.wall_s for r in self.records]

    def explode(self, out_col: str) -> DataFrame:
        """``(id, out_col)`` rows for the live slots of the value vector."""
        vec, dtype = self.spec.value, np.dtype(self.spec.vectors[self.spec.value])

        def kernel(batches):
            for batch in batches:
                for i in range(batch.num_rows):
                    lo = batch.column("lo")[i].as_py()
                    mask = np.frombuffer(batch.column("mask")[i].as_py(), np.int8)
                    vals = np.frombuffer(batch.column(vec)[i].as_py(), dtype)
                    live = np.flatnonzero(mask)
                    yield pa.RecordBatch.from_pydict(
                        {"id": pa.array(live + lo, pa.int64()),
                         out_col: pa.array(vals[live])}
                    )

        return self.state.mapInArrow(
            kernel, schema=f"id long, {out_col} {_SPARK[dtype.name]}"
        )


def block_ranges(state_rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sorted (block_ids, lo, hi) arrays from collected state rows."""
    bid = np.array([r["block_id"] for r in state_rows], dtype=np.int64)
    lo = np.array([r["lo"] for r in state_rows], dtype=np.int64)
    hi = np.array([r["hi"] for r in state_rows], dtype=np.int64)
    order = np.argsort(bid)
    return bid[order], lo[order], hi[order]


def _decode_row(tbl: pa.Table, dtypes: dict[str, str]) -> dict:
    return {
        c: np.frombuffer(tbl.column(c)[0].as_py(), dtype=dtypes[c])
        if c in dtypes
        else tbl.column(c)[0].as_py()
        for c in tbl.column_names
    }


def _init_state(csr: CsrGraph, node_values: DataFrame, spec: BlockSpec) -> DataFrame:
    """One state row per block from per-node initial values. Gap ids in
    [lo, hi] are masked out with their vector cells left at 0."""
    vectors, metrics = spec.vectors, spec.metrics

    def init_kernel(key, pdf):
        import pandas as pd

        ids = pdf["id"].to_numpy(np.int64)
        lo, hi = int(ids.min()), int(ids.max())
        if hi - lo + 1 > SPARSE_SPAN_FACTOR * ids.size + SPARSE_SPAN_SLACK:
            raise ValueError(
                f"block {int(key[0])}: {ids.size} node ids spread over "
                f"[{lo}, {hi}] — dense block state needs dense ids; renumber "
                "them first (sources.ids.mint_dense_ids)"
            )
        mask = np.zeros(hi - lo + 1, dtype=np.int8)
        mask[ids - lo] = 1
        row = {"block_id": [int(key[0])], "lo": [lo], "hi": [hi],
               "mask": [mask.tobytes()]}
        for v, dtype in vectors.items():
            vec = np.zeros(hi - lo + 1, dtype=dtype)
            vec[ids - lo] = pdf[v].to_numpy(dtype)
            row[v] = [vec.tobytes()]
        for m, t in metrics.items():
            row[m] = [0.0 if t == "double" else 0]
        return pd.DataFrame(row)

    return (
        node_values.withColumn("block_id", csr.node_block_id_col("id"))
        .groupBy("block_id")
        .applyInPandas(init_kernel, schema=spec.state_schema)
    )


def _gather_kernel(spec: BlockSpec):
    pair_kernel, dtypes = spec.gather, {"mask": "int8", **spec.vectors}
    schema = pa.schema(
        [("dst_block", pa.int64())] + [(p, pa.binary()) for p in spec.partials]
    )

    def gather(slot_tbl: pa.Table, state_tbl: pa.Table) -> pa.Table:
        cols: list[list] = [[] for _ in schema]
        if slot_tbl.num_rows:
            st = _decode_row(state_tbl, dtypes)
            for b, ss, ds in zip(
                slot_tbl.column("dst_block").to_pylist(),
                slot_tbl.column("src_slot"),
                slot_tbl.column("dst_slot"),
            ):
                cols[0].append(b)
                cells = pair_kernel(
                    st,
                    np.frombuffer(ss.as_py(), dtype=np.int32),
                    np.frombuffer(ds.as_py(), dtype=np.int32),
                )
                for col, cell in zip(cols[1:], cells):
                    col.append(cell)
        return pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
        )

    return gather


def _fold_kernel(spec: BlockSpec):
    block_kernel, dtypes = spec.fold, {"mask": "int8", **spec.vectors}
    fields = [(c, _ARROW[t]) for c, t in spec.state_fields]

    def fold(parts_tbl: pa.Table, state_tbl: pa.Table) -> pa.Table:
        out = block_kernel(_decode_row(state_tbl, dtypes), parts_tbl)
        return pa.table(
            {
                c: pa.array(
                    [out[c].tobytes() if c in dtypes else out[c]], typ
                )
                if c in out
                else state_tbl.column(c)
                for c, typ in fields
            }
        )

    return fold


def _decode_kernel(
    csr: CsrGraph, rng_bid: np.ndarray, rng_lo: np.ndarray, rng_hi: np.ndarray
):
    """mapInArrow kernel: varint CSR blocks -> pair slot-form rows."""
    cuts = np.asarray(csr.cuts, dtype=np.int64)

    def slotform_kernel(batches):
        for batch in batches:
            out = {
                "src_block": [],
                "dst_block": [],
                "src_slot": [],
                "dst_slot": [],
            }
            bid_col = batch.column("block_id")
            srcs_col = batch.column("srcs")
            degs_col = batch.column("degs")
            succ_col = batch.column("succ")
            for i in range(batch.num_rows):
                srcs = np.asarray(srcs_col[i].values, dtype=np.int64)
                degs = np.asarray(degs_col[i].values, dtype=np.int64)
                srcs, indptr, succs = decode_block(
                    srcs, degs, succ_col[i].as_py()
                )
                b_src = int(bid_col[i].as_py())
                pos = int(np.searchsorted(rng_bid, b_src))
                if pos >= rng_bid.size or rng_bid[pos] != b_src:
                    raise ValueError(
                        f"CSR block {b_src} has edges but no state range — "
                        "the nodes frame must cover every edge endpoint"
                    )
                lo, hi = int(rng_lo[pos]), int(rng_hi[pos])
                if srcs.size and (srcs[0] < lo or srcs[-1] > hi):
                    raise ValueError(
                        f"source ids [{srcs[0]}, {srcs[-1]}] outside state "
                        f"range [{lo}, {hi}] of block {b_src} — the nodes "
                        "frame must cover every edge endpoint"
                    )
                d = np.diff(indptr)
                src_slot = (np.repeat(srcs, d) - lo).astype(np.int32)
                dblk = np.searchsorted(cuts, succs, side="left")
                for b in np.unique(dblk):
                    sel = dblk == b
                    pos2 = int(np.searchsorted(rng_bid, b))
                    if pos2 >= rng_bid.size or rng_bid[pos2] != b:
                        raise ValueError(
                            f"destination block {b} has edges but no state "
                            "range — the nodes frame must cover every edge "
                            "endpoint"
                        )
                    blo, bhi = int(rng_lo[pos2]), int(rng_hi[pos2])
                    dsel = succs[sel]
                    if dsel.min() < blo or dsel.max() > bhi:
                        raise ValueError(
                            f"destination ids outside state range "
                            f"[{blo}, {bhi}] of block {b} — the nodes frame "
                            "must cover every edge endpoint"
                        )
                    out["src_block"].append(b_src)
                    out["dst_block"].append(int(b))
                    out["src_slot"].append(src_slot[sel].tobytes())
                    out["dst_slot"].append(
                        (dsel - blo).astype(np.int32).tobytes()
                    )
            yield pa.RecordBatch.from_pydict(
                {
                    "src_block": pa.array(out["src_block"], pa.int64()),
                    "dst_block": pa.array(out["dst_block"], pa.int64()),
                    "src_slot": pa.array(out["src_slot"], pa.binary()),
                    "dst_slot": pa.array(out["dst_slot"], pa.binary()),
                }
            )

    return slotform_kernel


@dataclass
class SymmetricGraph:
    """Block layout of the undirected graph under ``edges(src, dst)`` for the
    symmetric kernels (CC, LPA), built by :func:`symmetric_graph`.

    It stands in for a CSR of the symmetrized edge set wherever the engine
    takes one: ``cuts`` split the ids into ranges of ~equal symmetrized edge
    mass, and :func:`build_pair_slotform` cuts the pair slot-form straight
    from ``edges`` (both directions, duplicates dropped), with no varint
    encode or decode in between.
    """

    edges: DataFrame
    cuts: list[int]

    def node_block_id_col(self, col: str = "id"):
        """Block id for any node id under the same cuts."""
        return block_id_column(self.cuts, col)


def _concat(batches) -> pa.Table | None:
    """A partition's Arrow batches as one table, None when it holds no rows."""
    batches = list(batches)
    tbl = pa.Table.from_batches(batches) if batches else None
    return tbl if tbl is not None and tbl.num_rows else None


def _pack_pairs(
    nb: int, sb: np.ndarray, db: np.ndarray, ss: np.ndarray, ds: np.ndarray
) -> pa.RecordBatch:
    """Arcs given by their (block, slot) ends -> pair slot-form rows: one per
    (src_block, dst_block) pair of the ``nb`` blocks, duplicate arcs dropped,
    arcs in (src, dst) order as a CSR decode gives them."""
    pair = sb * nb + db
    bits = int(max(ss.max(initial=0), ds.max(initial=0))).bit_length()
    arc = (ss.astype(np.int64) << bits) | ds
    if (nb * nb).bit_length() + 2 * bits <= 63:
        # (pair, arc) fits one int64: a single argsort, ~10x a lexsort
        order = np.argsort((pair << 2 * bits) | arc)
    else:
        order = np.lexsort((arc, pair))
    pair, arc = pair[order], arc[order]
    keep = np.ones(pair.size, dtype=bool)
    keep[1:] = (pair[1:] != pair[:-1]) | (arc[1:] != arc[:-1])
    pair, arc = pair[keep], arc[keep]
    starts = np.flatnonzero(np.r_[True, pair[1:] != pair[:-1]])
    ends = np.r_[starts[1:], pair.size]
    ss = (arc >> bits).astype(np.int32)
    ds = (arc & ((1 << bits) - 1)).astype(np.int32)
    return pa.RecordBatch.from_pydict(
        {
            "src_block": pa.array(pair[starts] // nb, pa.int64()),
            "dst_block": pa.array(pair[starts] % nb, pa.int64()),
            "src_slot": pa.array(
                [ss[a:b].tobytes() for a, b in zip(starts, ends)], pa.binary()
            ),
            "dst_slot": pa.array(
                [ds[a:b].tobytes() for a, b in zip(starts, ends)], pa.binary()
            ),
        }
    )


def _arc_pairs(
    graph: SymmetricGraph,
    rng_bid: np.ndarray,
    rng_lo: np.ndarray,
    rng_hi: np.ndarray,
    shuffle_parts: int,
) -> DataFrame:
    """Pair slot-form rows of ``graph``: each edge-list partition packs its
    arcs (both directions) into pair rows, and one shuffle of those rows by
    source block brings each pair's pieces together to be merged. Arcs move
    as packed slot arrays, never as one Spark row each."""
    cuts = np.asarray(graph.cuts, dtype=np.int64)
    nb = cuts.size + 1

    def slots(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        blk = np.searchsorted(cuts, ids, side="left")
        if not rng_bid.size:
            raise ValueError(
                "edges but no state ranges — the nodes frame must cover "
                "every edge endpoint"
            )
        pos = np.minimum(np.searchsorted(rng_bid, blk), rng_bid.size - 1)
        lo = rng_lo[pos]
        bad = (rng_bid[pos] != blk) | (ids < lo) | (ids > rng_hi[pos])
        if bad.any():
            raise ValueError(
                f"node {int(ids[bad][0])} outside every state range — the "
                "nodes frame must cover every edge endpoint"
            )
        return blk, (ids - lo).astype(np.int32)

    def pack(batches):
        tbl = _concat(batches)
        if tbl is not None:
            sb, ss = slots(tbl.column("src").to_numpy().astype(np.int64))
            db, ds = slots(tbl.column("dst").to_numpy().astype(np.int64))
            yield _pack_pairs(
                nb, np.r_[sb, db], np.r_[db, sb], np.r_[ss, ds], np.r_[ds, ss]
            )

    def merge(batches):
        tbl = _concat(batches)
        if tbl is not None:
            src_slot, dst_slot = (
                [np.frombuffer(b, dtype=np.int32) for b in tbl.column(c).to_pylist()]
                for c in ("src_slot", "dst_slot")
            )
            sizes = [a.size for a in src_slot]
            yield _pack_pairs(
                nb,
                np.repeat(tbl.column("src_block").to_numpy(), sizes),
                np.repeat(tbl.column("dst_block").to_numpy(), sizes),
                np.concatenate(src_slot),
                np.concatenate(dst_slot),
            )

    return (
        graph.edges.select("src", "dst")
        .mapInArrow(pack, schema=PAIR_SLOTFORM_SCHEMA)
        .repartition(shuffle_parts, "src_block")
        .mapInArrow(merge, schema=PAIR_SLOTFORM_SCHEMA)
    )


def build_pair_slotform(
    csr: CsrGraph | SymmetricGraph,
    rng_bid: np.ndarray,
    rng_lo: np.ndarray,
    rng_hi: np.ndarray,
    shuffle_parts: int,
) -> DataFrame:
    """Decode ``csr`` into the cached pair slot-form (persisted, counted).

    ``rng_bid``/``rng_lo``/``rng_hi`` are the sorted block ids and range
    bounds of the state layout (``block_ranges``); slots are relative to
    those bounds. Raises ``ValueError`` if any edge endpoint falls outside
    its block's state range (the ``nodes`` frame must cover every endpoint).
    Reuses a previously built slot-form for the same (layout, width) via a
    cache on the graph handle; a superseded cache entry is unpersisted
    before being replaced. A :class:`SymmetricGraph` is cut from its edge
    list instead of decoded.
    """
    cache_key = (shuffle_parts, rng_bid.tobytes(), rng_lo.tobytes())
    cached = getattr(csr, "_pair_slotform_cache", None)
    if cached is not None and cached[0] == cache_key:
        return cached[1]

    if isinstance(csr, SymmetricGraph):
        blocks = None
        pairs = _arc_pairs(csr, rng_bid, rng_lo, rng_hi, shuffle_parts)
    else:
        blocks = (
            csr.blocks.repartition(shuffle_parts, "block_id")
            .sortWithinPartitions("block_id")
            .persist()
        )
        blocks.count()
        pairs = blocks.mapInArrow(
            _decode_kernel(csr, rng_bid, rng_lo, rng_hi),
            schema=PAIR_SLOTFORM_SCHEMA,
        )
    slotform = (
        pairs.repartition(shuffle_parts, "src_block")
        .sortWithinPartitions("src_block")
        .persist()
    )
    slotform.count()
    if blocks is not None:
        blocks.unpersist()
    if cached is not None:
        cached[1].unpersist()  # superseded layout: do not orphan its cache
    csr._pair_slotform_cache = (cache_key, slotform)
    return slotform


def unpersist_pair_slotform(csr: CsrGraph | SymmetricGraph) -> None:
    """Drop the cached slot-form (kernels leave it cached for reuse)."""
    cached = getattr(csr, "_pair_slotform_cache", None)
    if cached is not None:
        cached[1].unpersist()
        csr._pair_slotform_cache = None


def _arc_mass_cuts(
    edges: DataFrame, num_blocks: int, lo: int, hi: int
) -> list[int]:
    """Interior cuts splitting the ids ``[lo, hi]`` into ``num_blocks``
    ranges of ~equal symmetrized arc mass (both endpoint columns count).

    One aggregate: a histogram of the ids over :data:`CUT_BUCKETS`
    equal-width buckets, cut where its running sum crosses each
    ``i / num_blocks`` share (a cut closes its left block, as in
    ``degree_balanced_cuts``, whose ``approxQuantile`` costs 2-4x this
    aggregate on a cached edge list).
    """
    if num_blocks <= 1:
        return []
    width = -(-(hi - lo + 1) // CUT_BUCKETS)
    hist = (
        edges.select(
            F.explode(
                F.array(*[F.expr(f"({c} - {lo}) div {width}") for c in ("src", "dst")])
            ).alias("b")
        )
        .groupBy("b")
        .count()
        .collect()
    )
    mass = np.zeros(CUT_BUCKETS, dtype=np.int64)
    mass[[r["b"] for r in hist]] = [r["count"] for r in hist]
    running = np.cumsum(mass)
    shares = running[-1] * np.arange(1, num_blocks) / num_blocks
    last = np.searchsorted(running, shares, side="left")  # bucket closing each share
    return [int(c) for c in np.unique(lo + (last + 1) * width - 1) if c < hi]


@contextmanager
def symmetric_graph(edges: DataFrame, nodes: DataFrame | None = None):
    """The undirected graph under ``edges(src, dst)``, ready for a symmetric
    kernel.

    Yields ``(graph, nodes)``: a :class:`SymmetricGraph` with one block per
    ~:data:`SYMMETRIC_ARCS_PER_BLOCK` symmetrized arcs, and the node frame (every endpoint when ``nodes`` is None). ``edges`` is
    persisted for the call unless the caller already cached it. On exit
    that cache and the pair slot-form a kernel cached on ``graph`` are
    released, so a call leaves no cached blocks behind. Block kernel results
    read only their checkpointed state and outlive the release.
    """
    owned = edges.storageLevel == StorageLevel.NONE
    if owned:
        edges = edges.select("src", "dst").persist()
    graph = None
    try:
        span = edges.agg(
            F.count(F.lit(1)).alias("m"),
            F.least(F.min("src"), F.min("dst")).alias("lo"),
            F.greatest(F.max("src"), F.max("dst")).alias("hi"),
        ).first()
        num_blocks = max(1, -(-2 * span["m"] // SYMMETRIC_ARCS_PER_BLOCK))
        graph = SymmetricGraph(
            edges, _arc_mass_cuts(edges, num_blocks, span["lo"], span["hi"])
        )
        if nodes is None:
            nodes = (
                edges.select(F.col("src").alias("id"))
                .union(edges.select(F.col("dst").alias("id")))
                .distinct()
            )
        yield graph, nodes.select("id")
    finally:
        if graph is not None:
            unpersist_pair_slotform(graph)
        if owned:
            edges.unpersist()


def fixpoint(
    spark: SparkSession,
    csr: CsrGraph,
    spec: BlockSpec,
    node_values: DataFrame,
    max_iter: int,
    checkpointer=None,
    initial_state: DataFrame | None = None,
    start_iteration: int = 0,
) -> BlockRun:
    """Run ``spec`` from ``start_iteration`` until its stop rule or
    ``max_iter``.

    ``node_values`` is ``(id, <one column per spec vector>)`` for every node;
    it is not read when resuming from ``initial_state``, a state frame saved
    by ``checkpointer`` (the whole kernel state — no per-node re-init).
    """
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if initial_state is not None:
        state = initial_state.select(*[c for c, _ in spec.state_fields])
    else:
        state = _init_state(csr, node_values, spec)
    state = state.transform(checkpoint_state)
    slotform = build_pair_slotform(
        csr,
        *block_ranges(state.select("block_id", "lo", "hi").collect()),
        shuffle_parts,
    )
    gather, fold = _gather_kernel(spec), _fold_kernel(spec)
    partial_schema = ", ".join(
        ["dst_block long"] + [f"{p} binary" for p in spec.partials]
    )
    run = BlockRun(state=state, spec=spec, iterations=start_iteration)
    for it in range(start_iteration, max_iter):
        t0 = time.monotonic()
        scalars = spec.scalars(run.records) if spec.scalars else {}
        # per-iteration driver scalars travel as columns so the kernels are
        # created once, and both cogroups read this one frame
        shared = (
            state.withColumns({k: F.lit(v) for k, v in scalars.items()})
            if scalars
            else state
        )
        partials = (
            slotform.groupby("src_block")
            .cogroup(shared.groupby("block_id"))
            .applyInArrow(gather, schema=partial_schema)
        )
        obs = Observation()
        state = (
            partials.groupby("dst_block")
            .cogroup(shared.groupby("block_id"))
            .applyInArrow(fold, schema=spec.state_schema)
            .observe(obs, *[F.sum(m).alias(m) for m in spec.metrics])
            .transform(checkpoint_state)
        )
        metrics = {m: v or 0 for m, v in obs.get.items()}
        wall = time.monotonic() - t0
        run.records.append(IterRecord(it + 1, wall, metrics))
        run.state, run.iterations = state, it + 1
        if checkpointer is not None:
            delta = float(metrics[next(iter(spec.metrics))])
            checkpointer.save_iteration(state, it + 1, wall_s=wall, delta=delta)
        if spec.stop(metrics):
            run.converged = True
            break
    # the slot-form stays cached on ``csr`` for the next run on this layout
    return run
