"""Mutation-workload drivers mirroring the reference's dynamic-topology
benchmark scenarios (02_topology_dynamic/benchmark_scenario_a.py):

* scenario 1 — turn-taking: each round re-points ``update_ratio`` of the
  drones at the next HQ in a rotation, then measures (lines 25-46);
* scenario 2 — chain-churn: per depth in ``depth_cycle``, churn a ratio
  of drones between HQs and measure at that depth (lines 49-67);
* scenario 3 — partition & reconciliation: split the fleet, hammer the
  split half with updates for a window, reconcile, then measure a burst
  of post-reconcile sync queries (lines 70-93).

Spark-native shape: the delegation table is an immutable snapshot per
round (the reference's committed chunks ≈ our snapshot versions); every
mutation is the broadcast-join rewrite from mutation.py, and each round
yields (snapshot, measure) so the harness can time queries against a
well-defined version — the §7.4-5 mutation-while-querying pin.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from itertools import count

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_for_drones_spark.mutation import bucketed_rank, redelegate
from graphdb_for_drones_spark.operators._pin import pin_state
from graphdb_for_drones_spark.snapshots import SnapshotStore


_SNAPSHOT_COUNTER = count(1)


def _snapshot(df: DataFrame, store: SnapshotStore | None = None) -> DataFrame:
    # commit point: materialize the round's state (≈ the reference's
    # per-chunk COMMIT), keeping rounds independent of lineage depth.
    # Each snapshot carries a monotonically increasing version so timed
    # reads can record WHICH committed state they measured (SURVEY
    # §7.4-5: the reference interleaves committed chunked updates with
    # timed reads).  Default: in-session ``pin_state`` + counter.
    # With ``store``, the round commits to the on-disk versioned parquet
    # store instead — the version pin survives a session restart and the
    # yielded DataFrame READS BACK from the committed files (so what the
    # measurement sees is exactly what a post-restart reader would see).
    if store is not None:
        version = store.commit(df)
        out = store.read(df.sparkSession, version)
        out.snapshot_version = version
        return out
    out = pin_state(df)
    out.snapshot_version = next(_SNAPSHOT_COUNTER)
    return out


def _rank_chunks(
    ranked: DataFrame, key_col: str, start: int, stop: int, chunk_size: int
) -> Iterator[DataFrame]:
    """Chunk the rank range [start, stop) into committed batches of
    ``chunk_size`` keys — the reference's chunk loop, as DataFrames."""
    for s in range(start, stop, chunk_size):
        e = min(s + chunk_size, stop)
        yield ranked.filter(
            (F.col("__rank") >= s) & (F.col("__rank") < e)
        ).select(key_col)


def turn_taking(
    delegation: DataFrame,
    hq_ids: list[str],
    rounds: int,
    update_ratio: float = 0.2,
    chunk_size: int = 500,
    key_col: str = "drone_id",
    hq_col: str = "hq_id",
    store: SnapshotStore | None = None,
) -> Iterator[DataFrame]:
    """Yield one committed snapshot per round; round r re-points the first
    ``update_ratio`` fraction of drones (under the deterministic
    ``mutation.bucketed_rank`` order) at ``hq_ids[r % len]``.  With
    ``store`` each round is a durable on-disk version (see
    ``_snapshot``)."""
    current = _snapshot(delegation, store)
    ranked, total = bucketed_rank(current, key_col)
    ranked = pin_state(ranked)  # selection frozen across rounds
    n_upd = int(total * update_ratio)
    for r in range(rounds):
        target = hq_ids[r % len(hq_ids)]
        for chunk in _rank_chunks(ranked, key_col, 0, n_upd, chunk_size):
            current = redelegate(current, chunk, target, key_col, hq_col)
        current = _snapshot(current, store)
        yield current


def chain_churn(
    delegation: DataFrame,
    hq_ids: list[str],
    depth_cycle: list[int],
    update_ratio: float = 0.1,
    chunk_size: int = 500,
    key_col: str = "drone_id",
    hq_col: str = "hq_id",
    store: SnapshotStore | None = None,
) -> Iterator[tuple[int, DataFrame]]:
    """Per depth in the cycle: churn a ratio of drones round-robin across
    HQs, commit, and yield (depth, snapshot) for depth-d measurement."""
    current = _snapshot(delegation, store)
    ranked, total = bucketed_rank(current, key_col)
    ranked = pin_state(ranked)  # selection frozen across rounds
    n_upd = int(total * update_ratio)
    for i, depth in enumerate(depth_cycle):
        target = hq_ids[i % len(hq_ids)]
        start = (i * n_upd) % total if total else 0
        for chunk in _rank_chunks(
            ranked, key_col, start, min(start + n_upd, total), chunk_size
        ):
            current = redelegate(current, chunk, target, key_col, hq_col)
        current = _snapshot(current, store)
        yield depth, current


def partition_reconcile(
    delegation: DataFrame,
    main_hq: str,
    island_hq: str,
    split_ratio: float = 0.5,
    churn_rounds: int = 5,
    chunk_size: int = 500,
    key_col: str = "drone_id",
    hq_col: str = "hq_id",
) -> tuple[DataFrame, DataFrame]:
    """Scenario 3: split ``split_ratio`` of the fleet onto an island HQ,
    churn the island for ``churn_rounds``, then reconcile everyone back to
    the main HQ.  Returns (partitioned_snapshot, reconciled_snapshot)."""
    current = _snapshot(delegation)
    ranked, total = bucketed_rank(current, key_col)
    ranked = pin_state(ranked)  # selection frozen across rounds
    n_island = int(total * split_ratio)

    def island_chunks():
        return _rank_chunks(ranked, key_col, 0, n_island, chunk_size)

    for chunk in island_chunks():
        current = redelegate(current, chunk, island_hq, key_col, hq_col)
    current = _snapshot(current)
    partitioned = current
    for _ in range(churn_rounds):
        for chunk in island_chunks():
            current = redelegate(current, chunk, island_hq, key_col, hq_col)
        current = _snapshot(current)
    for chunk in island_chunks():
        current = redelegate(current, chunk, main_hq, key_col, hq_col)
    reconciled = _snapshot(current)
    return partitioned, reconciled


def measure_under_workload(
    snapshots: Iterator,
    query: Callable[[DataFrame], DataFrame],
) -> list[tuple[int, int, int]]:
    """Run ``query`` against each committed snapshot (the reference's
    measure-after-mutation loop); returns
    [(round, snapshot_version, result_count)] — every timed read records
    which committed snapshot it measured."""
    out = []
    for i, snap in enumerate(snapshots):
        snap_df = snap[1] if isinstance(snap, tuple) else snap
        version = getattr(snap_df, "snapshot_version", -1)
        out.append((i, version, query(snap_df).count()))
    return out
