"""Streaming record-linkage guard: incremental fuzzy matching.

Batch linkage (operators/linkage.substitution_neighborhood_pairs /
_join) sweeps finished tables; an ingestion pipeline wants the signal
ON THE WAY IN — every arriving micro-batch of records is fuzzy-matched
(<= ``max_subs`` character substitutions) against everything already
accepted, and flagged matches append to an output table before the
newcomers are committed.

The streaming twin of the wildcard-neighborhood join, with the
corpus-sized side INDEXED rather than regenerated:

* a persistent **pattern index** (``<index_dir>/patterns``: pos_key,
  pat, id, key) — every accepted record's wildcard neighborhood,
  appended once per batch, never rewritten;
* per micro-batch: generate the batch's patterns (batch-sized work),
  flag within-batch pairs, then equi-join the batch patterns against
  the index on (positions, pattern).

Unlike the near-dup guard there is NO separate verification store: the
key rides the pattern row, so verification and canonical-owner dedup
are the same O(k) expressions the batch operator uses — one join, no
lookback reads.  Per-batch cost is O(batch x L) pattern work + one
equi-join against the index.

Flags accumulate in ``out_dir``; the union of within-batch and
cross-batch flags over a drain equals the batch sweep over the whole
corpus (pinned in tests/test_linkage_guard.py), because every pair is
either within one micro-batch or crosses two — and the crossing pair
is caught when its second member arrives.

Flags AND index are both written through
``streaming/util.write_batch``, whose delivery contract
(``start_sink``) makes a micro-batch retried after a mid-batch crash
REPLACE its own partitions, not just a clean ``availableNow`` re-drain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators.linkage import (
    _owner_and_diff,
    _pattern_rows,
    substitution_neighborhood_pairs,
)
from graphdb_for_drones_spark.operators._pin import pin
from graphdb_for_drones_spark.streaming.util import (
    read_history, read_sink, start_sink, write_batch,
)


def start_linkage_guard(
    stream_records: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_subs: int = 1,
    id_col: str = "id",
    key_col: str = "key",
    available_now: bool = True,
):
    """Flag streaming records fuzzy-matching anything already seen.

    ``stream_records``: streaming DataFrame with (id_col, key_col).
    Flags (id_a, id_b, key_a, key_b, hamming), id_a < id_b, append to
    ``out_dir``; the pattern index grows under ``index_dir``."""
    apply_batch = make_apply_batch(index_dir, out_dir, max_subs, id_col, key_col)
    return start_sink(
        stream_records, apply_batch, checkpoint_dir, available_now,
        partitioned=(out_dir, f"{index_dir}/patterns"),
    )


def make_apply_batch(
    index_dir: str,
    out_dir: str,
    max_subs: int = 1,
    id_col: str = "id",
    key_col: str = "key",
):
    """The guard's per-micro-batch function, module-level so
    failure-injection tests can replay a batch_id (the at-least-once
    window between the writes and the checkpoint commit)."""
    patterns_dir = f"{index_dir}/patterns"
    out_cols = ["id_a", "id_b", "key_a", "key_b", "hamming"]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # batch-sized: pin it — referenced by the within-batch sweep
        # is separate, but the pattern rows feed both the cross join
        # and the index append; start_sink releases it after the writes
        bpat = pin(_pattern_rows(batch_df, id_col, key_col, max_subs, "r_"))

        within = substitution_neighborhood_pairs(
            batch_df, id_col, key_col, max_subs
        ).select(*out_cols)

        hist = read_history(spark, patterns_dir, batch_id)
        flags = within
        if hist is not None:
            cand = hist.select(
                "pos_key",
                "pat",
                F.col("id").alias("l_id"),
                F.col("key").alias("l_key"),
            ).join(bpat, ["pos_key", "pat"]).filter(
                F.col("l_id") != F.col("r_id")
            )
            own, diff = _owner_and_diff(
                F.col("l_key"), F.col("r_key"), max_subs
            )
            swap = F.col("l_id") > F.col("r_id")
            cross = (
                cand.filter(own)
                .withColumn("hamming", F.size(diff).cast("long"))
                .select(
                    F.when(swap, F.col("r_id"))
                    .otherwise(F.col("l_id"))
                    .alias("id_a"),
                    F.when(swap, F.col("l_id"))
                    .otherwise(F.col("r_id"))
                    .alias("id_b"),
                    F.when(swap, F.col("r_key"))
                    .otherwise(F.col("l_key"))
                    .alias("key_a"),
                    F.when(swap, F.col("l_key"))
                    .otherwise(F.col("r_key"))
                    .alias("key_b"),
                    "hamming",
                )
            )
            # a record redelivered in a later batch would pair with its
            # own indexed copy at hamming 0 under a DIFFERENT id only;
            # identical ids are excluded above, duplicate flags here.
            # Dedup on the FULL row, not just (id_a, id_b): if the same
            # pair surfaces in both the within-batch and cross-batch
            # streams with different key/hamming values (an id
            # redelivered with a mutated key), a key-only dropDuplicates
            # would arbitrate nondeterministically and a replayed
            # partition could rewrite different content
            flags = within.unionByName(cross).dropDuplicates(
                ["id_a", "id_b", "key_a", "key_b", "hamming"]
            )

        write_batch(flags, batch_id, out_dir)
        write_batch(
            bpat.select(
                "pos_key",
                "pat",
                F.col("r_id").alias("id"),
                F.col("r_key").alias("key"),
            ),
            batch_id,
            patterns_dir,
        )

    return apply_batch


# the flag table: every fuzzy match the guard has seen
read_linkage_flags = read_sink
