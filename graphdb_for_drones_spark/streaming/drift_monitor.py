"""Streaming distribution-drift monitor.

The batch entry (`plans.q_source_drift_stats` →
`operators/stats.distribution_drift`) sweeps finished data; an
ingesting pipeline wants the SAME drift report updated as slices
arrive — each micro-batch's rows are binned against the FROZEN
reference geometry (bounds collected once at monitor start), the
(g, bin) counts land idempotently per batch, and the report recomputes
TVD / smoothed chi-square / max-gap from the RUNNING totals.

Why counts, not statistics: histogram counts are the op's only
mergeable state — plain SUM across batches reproduces the batch
histogram exactly, so the final report equals the batch operator on the
union of all drained rows BY CONSTRUCTION (`drift_from_bin_counts` is
the shared math half; the monitor never re-implements a fold).  No
row-level state accumulates: state size is |groups| × n_bins counts
regardless of ingest volume — the 100 TB property.

Idempotence: each batch's counts go through
``streaming/util.write_batch`` (delivery contract: ``start_sink``), so
a foreachBatch retry replaces identical rows instead of double-counting.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators.stats import (
    bin_counts,
    drift_from_bin_counts,
)
from graphdb_for_drones_spark.streaming.util import hadoop_fs, start_sink, write_batch

META_FILE = "_drift_meta.json"  # "_"-prefixed: invisible to parquet scans


def _write_meta(spark: SparkSession, out_dir: str, meta: dict) -> None:
    fs, jpath = hadoop_fs(spark, out_dir.rstrip("/") + "/" + META_FILE)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        stream.close()


def read_meta(spark: SparkSession, out_dir: str) -> dict | None:
    """The monitor's persisted geometry (n_bins, bounds, columns), or
    None for a pre-sidecar directory."""
    fs, jpath = hadoop_fs(spark, out_dir.rstrip("/") + "/" + META_FILE)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        # byte-at-a-time: py4j COPIES a bytearray argument, so the
        # Java-side mutate-in-place read never reaches Python.  The
        # sidecar is <200 bytes; a py4j call per byte is fine.
        data = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            data.append(b)
        return json.loads(bytes(data).decode("utf-8"))
    finally:
        stream.close()


def reference_geometry(
    ref_df: DataFrame, value_col: str, n_bins: int = 10
) -> tuple[tuple[int, int], DataFrame]:
    """(bounds, reference (g='__ref__', b, c) counts) from the offline
    reference slice — one setup-time action for the two scalars; the
    counts table is n_bins rows, pinned by the caller."""
    row = ref_df.agg(
        F.min(value_col).cast("long").alias("lo"),
        F.max(value_col).cast("long").alias("hi"),
    ).first()
    if row.lo is None:
        raise ValueError("reference slice is empty — drift is undefined")
    bounds = (int(row.lo), int(row.hi))
    counts = bin_counts(
        ref_df.select(
            F.lit("__ref__").alias("__g"), F.col(value_col)
        ),
        "__g",
        value_col,
        n_bins=n_bins,
        bounds=bounds,
    )
    return bounds, counts


def make_apply_batch(
    bounds: tuple[int, int],
    out_dir: str,
    group_col: str,
    value_col: str,
    n_bins: int = 10,
):
    """The monitor's per-micro-batch function, module-level so retry
    tests can re-invoke it with the SAME batch_id (the at-least-once
    window)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts = bin_counts(
            batch_df, group_col, value_col, n_bins=n_bins, bounds=bounds
        )
        write_batch(counts, batch_id, out_dir)

    return apply_batch


def start_drift_monitor(
    stream_df: DataFrame,
    ref_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    n_bins: int = 10,
    available_now: bool = True,
):
    """Accumulate per-batch bin counts for ``stream_df`` against
    ``ref_df``'s frozen bin geometry.  Read the report any time with
    ``drift_report`` — it reflects every committed batch.

    ``out_dir`` and ``checkpoint_dir`` are paired for a monitor's
    lifetime: batch ids are checkpoint-relative, so re-using an out_dir
    with a FRESH checkpoint would restart ids at 0 and dynamic
    overwrite would leave a prior run's higher-numbered partitions
    inflating the totals.  A fresh checkpoint therefore TRUNCATES
    out_dir before the reference write instead of appending; restarting
    with the existing checkpoint keeps accumulated batches (the
    reference partition alone is dynamically replaced)."""
    spark = stream_df.sparkSession
    bounds, ref_counts = reference_geometry(ref_df, value_col, n_bins)
    ckpt_fs, ckpt_path = hadoop_fs(spark, checkpoint_dir)
    if not ckpt_fs.exists(ckpt_path):
        out_fs, out_path = hadoop_fs(spark, out_dir)
        out_fs.delete(out_path, True)
    # persist the reference counts beside the stream counts so the
    # report is self-contained (readable without re-deriving geometry)
    write_batch(ref_counts, -1, out_dir)
    _write_meta(
        spark,
        out_dir,
        {
            "n_bins": int(n_bins),
            "bounds": [int(bounds[0]), int(bounds[1])],
            "group_col": group_col,
            "value_col": value_col,
        },
    )
    apply_batch = make_apply_batch(bounds, out_dir, group_col, value_col, n_bins)
    return start_sink(
        stream_df, apply_batch, checkpoint_dir, available_now,
        partitioned=(out_dir,),
    )


def drift_report(
    spark: SparkSession, out_dir: str, n_bins: int | None = None
) -> DataFrame:
    """Drift statistics over every committed batch: SUM the accumulated
    (g, b) counts (including the ``batch_id=-1`` reference partition)
    and run the SHARED math half — bit-identical to
    ``distribution_drift`` on the union of all drained rows.

    ``n_bins`` defaults to the geometry the monitor persisted beside
    the counts (``_drift_meta.json``), so a monitor-vs-report mismatch
    cannot silently truncate the dense vectors; passing an explicit
    value that disagrees with the sidecar raises."""
    meta = read_meta(spark, out_dir)
    if meta is not None:
        if n_bins is not None and int(n_bins) != int(meta["n_bins"]):
            raise ValueError(
                f"drift_report n_bins={n_bins} disagrees with the "
                f"monitor's persisted geometry n_bins={meta['n_bins']} "
                f"in {out_dir}"
            )
        n_bins = int(meta["n_bins"])
    elif n_bins is None:
        raise ValueError(
            f"{out_dir} has no {META_FILE} sidecar (pre-round-11 "
            "monitor output?) — pass n_bins explicitly"
        )
    counts = spark.read.parquet(out_dir).select("g", "b", "c")
    if meta is None:
        # legacy dir without a sidecar: validate the caller's n_bins
        # against the data instead of silently truncating (tiny table:
        # |groups| x n_bins rows)
        max_b = counts.agg(F.max("b")).first()[0]
        if max_b is not None and int(max_b) >= int(n_bins):
            raise ValueError(
                f"accumulated counts carry bin ids up to {max_b} but "
                f"drift_report was called with n_bins={n_bins}"
            )
    return drift_from_bin_counts(counts, "g", "__ref__", n_bins)


def drain_drift_report(
    stream_df: DataFrame,
    ref_df: DataFrame,
    work_dir: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-shot drain: run a FRESH monitor over ``stream_df`` to
    completion (availableNow), its counts and checkpoint under
    ``work_dir``, and return ``drift_report`` over those counts (lazy:
    it reads ``work_dir``, so materialize it before removing the dir)."""
    counts_dir = os.path.join(work_dir, "counts")
    start_drift_monitor(
        stream_df,
        ref_df,
        out_dir=counts_dir,
        checkpoint_dir=os.path.join(work_dir, "ckpt"),
        group_col=group_col,
        value_col=value_col,
    ).awaitTermination()
    return drift_report(stream_df.sparkSession, counts_dir)
