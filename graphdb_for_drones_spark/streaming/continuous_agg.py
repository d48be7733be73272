"""Continuous aggregates: streaming maintenance of mergeable-sketch
rollup tables via ``foreachBatch``.

The batch side (`operators/sketches.py`) builds HLL / histogram sketch
tables from facts; this module keeps such a rollup CURRENT as events
stream in — each micro-batch builds its own fine-grain sketches and
MERGEs them into the persisted rollup by sketch union / bucket-count
sum.  Serving reads the (tiny) rollup table, never the fact stream.

At scale this is exactly the hypertable/continuous-aggregate pattern:
state size is O(keys × sketch), per-batch work is one aggregation of
the batch plus a merge shuffled on the rollup key, and the sketches'
associativity makes the merge correct under any batch boundaries —
replay/duplicated batches are the caller's concern (idempotence needs
an exactly-once sink like Delta; with plain parquet, checkpointed
sources give effectively-once for availableNow drains).  Both rollups
start through ``streaming/util.start_sink``; a merge is not a
``batch_id`` partition, so they keep their own swap commit.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators._pin import pin_state
from graphdb_for_drones_spark.operators.sketches import hist_build, hll_build
from graphdb_for_drones_spark.streaming.util import start_sink


def _merge_and_overwrite(batch_rollup: DataFrame, merge_fn, state_dir: str) -> None:
    """One micro-batch: merge ``batch_rollup`` into the state at
    ``state_dir`` with ``merge_fn`` and commit the result."""
    existing = _read_state(batch_rollup.sparkSession, state_dir)
    merged = batch_rollup if existing is None else merge_fn(
        existing.unionByName(batch_rollup)
    )
    # Commit via temp-dir + rename swap so a reader (or a crash) never
    # observes a partially written state dir: write the merged rollup
    # beside the live one, move the live one aside, move the new one in.
    # The exposure window is two directory renames, not a full rewrite;
    # _read_state recovers the `.old` dir if a crash lands inside it.
    # (A transactional table format — e.g. Delta — would make this a
    # real atomic commit; plain parquet gets the rename discipline.)
    tmp = f"{state_dir}.tmp.{os.getpid()}"
    # the merged rollup is the running state: pin_state cuts its lineage
    # to the live state dir, which the swap below moves aside (start_sink
    # releases the pin once the batch is done)
    pin_state(merged).write.mode("overwrite").parquet(tmp)
    old = f"{state_dir}.old.{os.getpid()}"
    if os.path.exists(state_dir):
        os.rename(state_dir, old)
    os.rename(tmp, state_dir)
    shutil.rmtree(old, ignore_errors=True)


def _read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """None ONLY for the genuine first batch (no state committed yet).
    A corrupt or partially readable state dir raises — silently treating
    a read failure as 'first batch' would replace the accumulated rollup
    with just the current batch."""
    if not os.path.exists(state_dir):
        leftover = sorted(glob.glob(state_dir + ".old.*"))
        if not leftover:
            return None  # first batch
        # a swap was interrupted between its two renames: recover
        os.rename(leftover[-1], state_dir)
    return spark.read.parquet(state_dir)


def start_hll_continuous_rollup(
    stream_df: DataFrame,
    keys: list[str],
    distinct_col: str,
    state_dir: str,
    checkpoint_dir: str,
    lgk: int = 12,
    available_now: bool = True,
):
    """Maintain a per-``keys`` HLL distinct-count rollup of a stream.
    Serving: ``read parquet(state_dir)`` + ``hll_sketch_estimate`` —
    see ``serve_hll_rollup``."""

    def merge(u: DataFrame) -> DataFrame:
        return u.groupBy(*keys).agg(
            F.hll_union_agg(F.col("hll")).alias("hll"),
            F.sum("n_rows").alias("n_rows"),
        )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        rollup = hll_build(batch_df, keys, distinct_col, lgk)
        _merge_and_overwrite(rollup, merge, state_dir)

    return start_sink(stream_df, apply_batch, checkpoint_dir, available_now)


def serve_hll_rollup(
    spark: SparkSession, state_dir: str, keys: list[str]
) -> DataFrame:
    """Read the maintained rollup and estimate distinct counts — no
    access to the fact stream."""
    return spark.read.parquet(state_dir).select(
        *keys,
        F.hll_sketch_estimate(F.col("hll")).cast("long").alias(
            "approx_distinct"
        ),
        "n_rows",
    )


def start_hist_continuous_rollup(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    buckets: int = 200,
    available_now: bool = True,
):
    """Maintain a per-``keys`` histogram quantile sketch of a stream
    (bucket counts merge by sum).  Serving:
    ``sketches.hist_quantiles(spark.read.parquet(state_dir), ...)``."""

    def merge(u: DataFrame) -> DataFrame:
        return u.groupBy(*keys, "bucket").agg(F.sum("cnt").alias("cnt"))

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        rollup = hist_build(batch_df, keys, value_col, lo, hi, buckets)
        _merge_and_overwrite(rollup, merge, state_dir)

    return start_sink(stream_df, apply_batch, checkpoint_dir, available_now)
