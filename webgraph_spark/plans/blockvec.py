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

Dense state assumes reasonably dense node ids (``sources/ids.mint_dense_ids``
renumbers to 0..n-1, as WebGraph does).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from webgraph_spark.plans.csr import CsrGraph, decode_block
from webgraph_spark.plans.iterate import checkpoint_state

PAIR_SLOTFORM_SCHEMA = (
    "src_block long, dst_block long, src_slot binary, dst_slot binary"
)

_ARROW = {"long": pa.int64(), "double": pa.float64(), "binary": pa.binary()}
_SPARK = {"int64": "long", "float64": "double"}


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


def build_pair_slotform(
    csr: CsrGraph,
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
    cache on the CsrGraph handle; a superseded cache entry is unpersisted
    before being replaced.
    """
    cache_key = (shuffle_parts, rng_bid.tobytes(), rng_lo.tobytes())
    cached = getattr(csr, "_pair_slotform_cache", None)
    if cached is not None and cached[0] == cache_key:
        return cached[1]

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

    blocks = (
        csr.blocks.repartition(shuffle_parts, "block_id")
        .sortWithinPartitions("block_id")
        .persist()
    )
    blocks.count()
    slotform = (
        blocks.mapInArrow(slotform_kernel, schema=PAIR_SLOTFORM_SCHEMA)
        .repartition(shuffle_parts, "src_block")
        .sortWithinPartitions("src_block")
        .persist()
    )
    slotform.count()
    blocks.unpersist()
    if cached is not None:
        cached[1].unpersist()  # superseded layout: do not orphan its cache
    csr._pair_slotform_cache = (cache_key, slotform)
    return slotform


def unpersist_pair_slotform(csr: CsrGraph) -> None:
    """Drop the cached slot-form (kernels leave it cached for reuse)."""
    cached = getattr(csr, "_pair_slotform_cache", None)
    if cached is not None:
        cached[1].unpersist()
        csr._pair_slotform_cache = None


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
