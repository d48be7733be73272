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
and no state accumulates beyond the written flags.  Started and written
through ``streaming/util.start_sink`` / ``write_batch`` (the delivery
contract is stated there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from graphdb_for_drones_spark.operators import curation
from graphdb_for_drones_spark.operators._pin import pin
from graphdb_for_drones_spark.streaming.util import read_sink, start_sink, write_batch


def make_apply_batch(
    eval_index: "DataFrame",
    out_dir: str,
    threshold: float = 0.1,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    metric: str = "jaccard",
):
    """The guard's per-micro-batch function, module-level so
    failure-injection tests can replay a batch_id (the at-least-once
    window between the write and the checkpoint commit)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        tr = curation.shingle_index(
            batch_df, "train_id", text_col, id_col, shingle_n
        )
        flagged = curation.contamination_pairs_from_index(
            tr, eval_index, threshold=threshold, metric=metric
        )
        write_batch(flagged, batch_id, out_dir)

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
    ev = pin(
        curation.shingle_index(eval_docs, "eval_id", text_col, id_col, shingle_n)
    )
    apply_batch = make_apply_batch(
        ev, out_dir, threshold, shingle_n, text_col, id_col, metric
    )
    return start_sink(
        stream_docs, apply_batch, checkpoint_dir, available_now,
        partitioned=(out_dir,),
    )


# the flag table: every (incoming doc, eval doc) overlap the guard has seen
read_quarantine = read_sink
