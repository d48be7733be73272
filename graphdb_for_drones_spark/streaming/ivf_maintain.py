"""Continuous IVF index maintenance: ingest new vectors into a persisted
index as they arrive.

The batch side builds the index offline (similarity.ivf_open: seeded
sampled k-means → nearest-centroid assignment → cluster-partitioned
parquet).  This module keeps that index CURRENT under continuous
ingestion, the standard IVF serving contract:

* **centroids stay fixed** between rebuilds — each arriving vector is
  assigned to its nearest existing centroid and written to
  ``<path>/ingest/cluster=<c>/batch_id=<n>`` (``util.write_batch``: a
  retried batch replaces its rows, never ingests them twice).
  ``ivf_read`` unions that dir with the built index, so probes see the
  vector on their next read, with the same partition pruning.
* **rebuild is an offline concern** — as the ingested distribution
  drifts, a periodic ``ivf_open`` against the grown corpus re-derives
  centroids; the serving index stays available throughout (the rebuild
  writes to a new fingerprinted path).

Per-batch cost is one nearest-centroid assignment of the batch (k·dim
multiply-adds per row, centroid literals broadcast in the plan) plus a
write of batch-sized parquet files — nothing rescans the existing
index.  The delivery contract is ``streaming/util.start_sink``'s.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from graphdb_for_drones_spark.operators.similarity import ivf_index, ivf_read
from graphdb_for_drones_spark.streaming.util import start_sink, write_batch


def start_ivf_ingest(
    stream_vecs: DataFrame,
    path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Assign each arriving vector to its nearest centroid of the index
    at ``path`` (which must already exist) and write it under that
    cluster's partition of ``<path>/ingest``."""
    # centroids are small (k·dim floats) and fixed: read once at start,
    # not per batch
    spark = stream_vecs.sparkSession
    _, cents = ivf_read(spark, path)
    ingest_dir = os.path.join(path, "ingest")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        assigned = ivf_index(batch_df, cents, id_col=id_col, vec_col=vec_col)
        write_batch(assigned, batch_id, ingest_dir, "cluster")

    return start_sink(
        stream_vecs, apply_batch, checkpoint_dir, available_now,
        partitioned=(ingest_dir,),
    )
