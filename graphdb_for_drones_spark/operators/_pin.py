"""The one materialization policy: every engine pin goes through here.

ReuseExchange dedups only the SHUFFLE below an aggregate: each plan
consumer re-executes the post-shuffle aggregation, so posting/bucket
tables with 3-4 consumers pay the aggregate 3-4× (PERF.md round 8,
simhash family 5.2 → 3.9 s isolated).  Pinning materializes the rows
once so every consumer is a scan.  Row-based checkpoints, NOT the
columnar cache (``persist``), which is ~20× slower on array columns.

Which call a frame gets depends on why it is materialized:

- ``pin`` when the pin only saves re-execution: engine-built fixture
  tables (``fixtures.*_dist``), static edge lists, posting tables,
  per-batch guard frames.  Recomputing the frame would give the same
  rows, so the policy may skip the pin (a non-local master without a
  checkpoint dir, ``SPARK_GRAFT_NO_PIN``).
- ``pin_state`` when correctness depends on the rows never being
  recomputed: superstep and frontier state, churn snapshots, selections
  frozen across rounds, CDC recovery state, a guard's reference.
  Always cuts lineage.
- nothing for a frame that is already driver-local
  (``local_frame.local_frame`` / ``local_rows``): it is a local
  relation, re-read for free.

``settle`` is the one place a result is brought back to the driver
instead: a frame that fits ``COLLECT_THRESHOLD`` rows comes back in one
Arrow collect as a ``local_frame`` (the driver-local case above, no
pin); a larger one is state and gets ``pin_state``.  Every loop that
carries state between rounds and every guard reference settles
through it, so the threshold lives here once (Pregelix's choice of
physical plan by the size of the active state).

No module outside this one calls ``localCheckpoint`` or ``checkpoint``
(``tests/test_pin_policy.py`` enforces it).  A ``scoped()`` block
releases every pin taken inside it on exit — a streaming micro-batch's
pins once its writes are done (``streaming/util.start_sink``).
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator
from contextvars import ContextVar

from pyspark.sql import DataFrame

from graphdb_for_drones_spark.local_frame import local_frame

# rows a settled frame (a frontier, a superstep state, a guard's
# reference) may hold and still come back to the driver
COLLECT_THRESHOLD = 200_000

# the frames pinned inside the innermost open ``scoped`` block
_held_by: ContextVar[list[DataFrame] | None] = ContextVar("_held_by", default=None)


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
        return _held(df.localCheckpoint(eager=eager))
    if mode == "reliable":
        return _held(df.checkpoint(eager=eager))
    return df


def pin_state(df: DataFrame) -> DataFrame:
    """Materialize rows that must not be recomputed; ALWAYS truncates
    lineage.

    ``pin`` may return ``df`` unchanged, which is safe for a frame with
    a few consumers but not for state: superstep and frontier state (the
    next superstep reads it more than once — a semi-join on each edge
    endpoint — so unpinned, round r's plan holds 2^r copies of round 1
    and every count re-runs all earlier rounds), a committed snapshot or
    a selection that later rounds must see frozen while its source
    changes, and the running CDC state.  Hence no opt-out here
    (``SPARK_GRAFT_NO_PIN`` is ignored): a reliable checkpoint on a
    non-local master with a checkpoint dir, ``localCheckpoint``
    otherwise — its blocks are lost with their executor, but without
    the cut the loop's plan cannot stay bounded at all."""
    if _mode(df) == "reliable":
        return _held(df.checkpoint())
    return _held(df.localCheckpoint())


def settle(df: DataFrame, bound: int | None = None) -> tuple[DataFrame, int, bool]:
    """Materialize ``df`` once: ``(frame, n_rows, local)``.

    ``bound`` is a known upper bound on ``df``'s rows (e.g. the previous
    superstep's count).  Within ``COLLECT_THRESHOLD`` the rows come back
    in one ``toArrow()`` collect and return as a ``local_frame``
    (``local=True``: broadcast it into the next superstep); the collect
    is both the materialization and the halt signal, so no count job
    runs.  With no bound, one ``limit(COLLECT_THRESHOLD + 1)`` collect
    is the probe and, when it fits, the answer.  Otherwise the rows
    stay executor-side: ``pin_state`` (every reader sees the same rows)
    plus one ``count()``."""
    if bound is None or bound <= COLLECT_THRESHOLD:
        probe = df if bound is not None else df.limit(COLLECT_THRESHOLD + 1)
        tbl = probe.toArrow()
        if tbl.num_rows <= COLLECT_THRESHOLD:
            local = local_frame(df.sparkSession, df.schema, *tbl.columns)
            return local, tbl.num_rows, True
    df = pin_state(df)
    return df, df.count(), False


@contextlib.contextmanager
def scoped() -> Iterator[None]:
    """``release`` every frame ``pin``/``pin_state`` returns inside the
    block (in this thread or context), on exit, success or failure.
    For a block after which nothing scans those frames again — a
    foreachBatch body whose writes are done — so its pins do not
    outlive it waiting for Python GC.  Scopes nest; the innermost one
    holds a pin."""
    held: list[DataFrame] = []
    token = _held_by.set(held)
    try:
        yield
    finally:
        _held_by.reset(token)
        for df in held:
            release(df)


def _held(df: DataFrame) -> DataFrame:
    """``df``, recorded for release by the innermost open ``scoped``
    block, if any."""
    held = _held_by.get()
    if held is not None:
        held.append(df)
    return df


def release(df: DataFrame) -> None:
    """Drop the blocks behind a frame ``pin``/``pin_state`` returned,
    once no consumer will scan it again (the frame is unusable after).

    A pinned frame's logical plan is the ``LogicalRDD`` over the
    checkpointed RDD; ``unpersist`` frees its executor-local blocks at
    once instead of when Python GC drops the frame.  Any other plan —
    an unpinned frame (``SPARK_GRAFT_NO_PIN``, a non-local master
    without a checkpoint dir) or a driver-local frame — is left alone.
    A reliable checkpoint keeps no blocks (its rows live in the
    checkpoint dir), so there the call frees nothing."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


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
