"""Shared pinning policy for small, multiply-consumed aggregates.

ReuseExchange dedups only the SHUFFLE below an aggregate: each plan
consumer re-executes the post-shuffle aggregation, so posting/bucket
tables with 3-4 consumers pay the aggregate 3-4× (PERF.md round 8,
simhash family 5.2 → 3.9 s isolated).  Pinning materializes the rows
once so every consumer is a scan.  Row-based checkpoints, NOT
``.persist()`` — the columnar cache is ~20× slower on array columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def pin(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once for multi-consumer reuse, mode-aware.

    FAULT-TOLERANCE TRADE (round-8 ADVICE finding):
    ``localCheckpoint`` truncates lineage into NON-REPLICATED
    executor-local blocks — on a multi-executor cluster a lost executor
    makes every consumer of the pinned frame irrecoverable (lineage is
    gone), and the blocks stay resident until Python GC drops the
    DataFrame.  Eager pins also move a Spark job to DataFrame-BUILD
    time, so long sessions composing many pair plans accumulate pinned
    blocks.  Policy, chosen per master:

    - local[*] master (tests / bench / single-JVM): ``localCheckpoint``.
      A "lost executor" is the lost JVM itself — lineage would not have
      survived either, so the trade is free here.
    - non-local master WITH a configured checkpoint dir: reliable
      ``df.checkpoint()`` — replicated storage, survives executor loss,
      same plan-reuse benefit.
    - non-local master, NO checkpoint dir: return ``df`` unpinned.
      Re-executing a posting-list-sized aggregate per consumer beats an
      irrecoverable lost-block failure at 100 TB.
    - ``SPARK_GRAFT_NO_PIN=1`` disables pinning everywhere: the opt-out
      for long-lived sessions where accumulated executor-local blocks
      matter more than per-plan latency (the bench harness previously
      needed ``gc.collect()`` between plans for exactly this).
    """
    if os.environ.get("SPARK_GRAFT_NO_PIN"):
        return df
    mode = _mode(df)
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    return df


def pin_state(df: DataFrame) -> DataFrame:
    """Materialize iterative loop state; ALWAYS truncates lineage.

    ``pin`` may return ``df`` unchanged, which is safe for a frame with
    a few consumers but not for superstep state: the next superstep
    reads the state more than once (a semi-join on each edge endpoint),
    so unpinned, round r's plan holds 2^r copies of round 1 and every
    count re-runs all earlier rounds.  Hence no opt-out here
    (``SPARK_GRAFT_NO_PIN`` is ignored): a reliable checkpoint on a
    non-local master with a checkpoint dir, ``localCheckpoint``
    otherwise — its blocks are lost with their executor, but without
    the cut the loop's plan cannot stay bounded at all."""
    if _mode(df) == "reliable":
        return df.checkpoint()
    return df.localCheckpoint()


def _mode(df: DataFrame) -> str:
    """'local' (local[*] master), 'reliable' (non-local master with a
    checkpoint dir) or 'none'."""
    spark = df.sparkSession
    if (spark.sparkContext.master or "").startswith("local"):
        return "local"
    try:
        has_dir = (
            spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
        )
    except Exception:  # pragma: no cover - py4j surface drift
        has_dir = False
    return "reliable" if has_dir else "none"
