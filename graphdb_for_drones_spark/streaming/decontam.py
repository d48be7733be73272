"""Streaming benchmark-decontamination guard.

Batch decontamination (operators/curation.contamination_pairs) sweeps a
finished corpus; a 100 TB pipeline with continuous ingestion wants the
same check ON THE WAY IN — every arriving micro-batch of documents is
compared against the held-out eval set's shingle index, and flagged
(train_id, eval_id, jaccard) rows append to a quarantine table before
the documents ever reach a training shard.

Shape: the eval index is STATIC and small (benchmarks are thousands of
docs, not billions) — built once, pinned with ``_pin.pin``, and
re-joined against each micro-batch's freshly shingled side inside
``foreachBatch``.  Per-batch cost is one broadcastable join of batch
shingles against the eval index; nothing is quadratic in corpus size
and no state accumulates beyond the appended flags.  Checkpointed
sources + availableNow drains give effectively-once appends (same
contract as streaming/continuous_agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators import curation
from graphdb_for_drones_spark.operators._pin import pin


def make_apply_batch(
    eval_index: "DataFrame",
    out_dir: str,
    threshold: float = 0.1,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    metric: str = "jaccard",
):
    """The guard's per-micro-batch function, exposed at module level so
    failure-injection tests can re-invoke it with the SAME batch_id.
    Flags land in a ``batch_id=<n>`` partition via dynamic partition
    overwrite (the anomaly_gate contract): a micro-batch retried after
    the quarantine write but before the checkpoint commit REPLACES its
    own partition instead of appending duplicates — the previous blind
    ``append`` was only clean-re-drain idempotent, not mid-batch-crash
    idempotent."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        tr = curation.shingle_index(
            batch_df, "train_id", text_col, id_col, shingle_n
        )
        flagged = curation.contamination_pairs_from_index(
            tr, eval_index, threshold=threshold, metric=metric
        )
        (
            flagged.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return apply_batch


def start_contamination_guard(
    stream_docs: DataFrame,
    eval_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.1,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    metric: str = "jaccard",
):
    """Flag streaming documents overlapping the eval set.

    ``stream_docs``: a streaming DataFrame with (id_col, text_col).
    Flags append to ``out_dir`` as (train_id, eval_id, <metric>).

    ``metric`` matches the batch gate's choices: ``'jaccard'``
    (symmetric overlap) or ``'containment'`` (|batch ∩ eval| / |eval| —
    the asymmetric gate that catches a short benchmark prompt quoted
    inside a long incoming document, which jaccard dilutes below any
    workable threshold)."""
    import glob as _glob
    import os as _os

    # a quarantine dir written by the pre-batch_id flat-append layout
    # cannot mix with the partitioned one — that mix only fails at READ
    # time (conflicting directory structures), so refuse at start (the
    # anomaly_gate contract)
    legacy_parts = _glob.glob(
        _os.path.join(_glob.escape(out_dir), "part-*.parquet")
    ) + _glob.glob(_os.path.join(_glob.escape(out_dir), "part-*.snappy.parquet"))
    if legacy_parts:
        raise ValueError(
            f"out_dir {out_dir!r} holds flat-append (pre-batch_id-"
            "partition) quarantine files; mixing layouts makes the dir "
            "unreadable — point the guard at a fresh out_dir"
        )
    ev = pin(
        curation.shingle_index(eval_docs, "eval_id", text_col, id_col, shingle_n)
    )
    apply_batch = make_apply_batch(
        ev, out_dir, threshold, shingle_n, text_col, id_col, metric
    )
    writer = stream_docs.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_quarantine(spark: SparkSession, out_dir: str) -> DataFrame:
    """The appended flag table: every (incoming doc, eval doc) overlap
    the guard has seen."""
    return spark.read.parquet(out_dir)
