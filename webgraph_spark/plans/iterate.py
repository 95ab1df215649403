"""Iteration-state checkpointing that stays O(1) per round.

``DataFrame.localCheckpoint(eager=True)`` truncates the LINEAGE but
preserves the optimized plan's STATISTICS in the resulting ``LogicalRDD``.
In an iterative job whose state feeds two join/cogroup inputs, the
size-in-bytes estimate is the PRODUCT of the inputs' estimates, so the
carried statistic SQUARES every round: a ``BigInteger`` whose bit-length
doubles per iteration. By round ~18 the driver burns seconds per round in
Karatsuba/Toom-Cook multiplication inside plan statistics — the job looks
like it "gradually gets slower" while every executor is idle.

:func:`checkpoint_state` therefore rebuilds the DataFrame from the
checkpointed internal RDD with fresh (default) statistics, making the
per-round planning cost constant. The rebuild is plan-level only — no job
runs, no data moves. It uses internal API on purpose and has no fallback:
if that API changes, this fails loudly instead of quietly bringing the
statistics blow-up back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_state(df: DataFrame) -> DataFrame:
    """Eager local checkpoint + statistics reset for iterative state tables.

    Use this (not bare ``localCheckpoint``) for any DataFrame that is
    re-derived from itself each iteration. If the frame has an attached
    ``observe``, its metrics are delivered by the eager checkpoint action
    before the rebuild, so ``Observation.get`` works unchanged.
    """
    ck = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    jdf = ck._jdf
    fresh = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(fresh, spark)
