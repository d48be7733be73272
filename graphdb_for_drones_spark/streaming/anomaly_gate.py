"""Streaming z-score anomaly gate.

The batch entry (`plans.q_event_type_outliers`) sweeps finished data; a
continuously-ingesting pipeline wants the same 3σ check ON THE WAY IN —
every arriving micro-batch of events is scored against per-key
reference statistics (mean/stddev computed offline from exact decimal
moments, the batch entry's arithmetic) and flagged rows append to a
quarantine table before the events reach downstream aggregates.

Shape: the stats table is SMALL (one row per key) — settled once by
``streaming/util.start_guard`` (after the start is allowed: a
driver-local frame, or a pin released when the query run terminates
if it outgrows the collect threshold) and re-joined (broadcastable)
against each micro-batch inside ``foreachBatch``.  No state accumulates beyond the
written flags, each batch's in its own ``batch_id=<n>`` partition
(``streaming/util.start_sink`` states the delivery contract:
exactly-once output given the gate's deterministic scoring).  Keys
unseen in the reference window pass through unflagged (no stats row —
the inner join drops them), mirroring how a production gate treats
cold keys until the next stats refresh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_for_drones_spark.streaming.util import read_sink, start_guard, write_batch


def reference_stats(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-key (mean, stddev) from exact decimal moments — the batch
    outlier entry's arithmetic (order-independent sums, so a stats
    refresh is reproducible on any cluster layout)."""
    v = F.col(value_col)
    agg = events.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v.cast("decimal(18,6)")).cast("double").alias("__s1"),
        F.sum((v * v).cast("decimal(28,10)")).cast("double").alias("__s2"),
    )
    mean = F.col("__s1") / F.col("n")
    ex2 = F.col("__s2") / F.col("n")
    return agg.select(
        key_col,
        F.col("n").alias("n_ref"),
        mean.alias("ref_mean"),
        F.sqrt(ex2 - mean * mean).alias("ref_std"),
    )


def flag_outliers(
    batch: DataFrame,
    stats: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    n_sigma: float = 3.0,
) -> DataFrame:
    """The per-batch scoring join: rows beyond ``n_sigma`` of their
    key's reference mean.  Shared by the streaming gate and its batch
    twin so stream==batch equivalence is by construction."""
    joined = batch.join(F.broadcast(stats), key_col)
    z_ok = F.abs(F.col(value_col) - F.col("ref_mean")) > (
        F.lit(float(n_sigma)) * F.col("ref_std")
    )
    return joined.filter(z_ok).select(
        batch.columns + ["ref_mean", "ref_std"]
    )


def make_apply_batch(
    pinned_stats: DataFrame,
    out_dir: str,
    key_col: str = "event_type",
    value_col: str = "value",
    n_sigma: float = 3.0,
):
    """The gate's per-micro-batch function, module-level so
    failure-injection tests can replay a batch_id (the at-least-once
    window between the write and the checkpoint commit)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(
            flag_outliers(batch_df, pinned_stats, key_col, value_col, n_sigma),
            batch_id,
            out_dir,
        )

    return apply_batch


def start_anomaly_gate(
    stream_events: DataFrame,
    stats: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    value_col: str = "value",
    n_sigma: float = 3.0,
    available_now: bool = True,
):
    """Append events beyond ``n_sigma`` of their key's reference mean
    to ``out_dir``.  ``stats`` is settled once (it is re-referenced per
    micro-batch).  Output is parquet partitioned by ``batch_id``."""
    return start_guard(
        stream_events,
        stats,
        lambda ref: make_apply_batch(ref, out_dir, key_col, value_col, n_sigma),
        out_dir, checkpoint_dir, available_now,
    )


read_quarantine = read_sink
