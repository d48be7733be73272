"""Streaming near-duplicate guard: incremental MinHash-LSH dedup.

Batch near-dup dedup (operators/dedup.minhash_lsh_pairs) sweeps a
finished corpus; a pipeline with continuous ingestion wants the same
signal ON THE WAY IN — every arriving micro-batch of documents is
checked against everything already accepted, and flagged pairs append
to a quarantine table before the newcomers reach a training shard.

The streaming twin of the banded-LSH plan, with the corpus-sized side
INDEXED rather than recomputed:

* a persistent **band index** (``<index_dir>/bands``: band, band_hash,
  id) — the posting lists of every previously accepted document,
  appended once per batch, never rewritten;
* a persistent **signature store** (``<index_dir>/sigs``: id, sig,
  shingle hash set) for exact-jaccard verification of candidates;
* per micro-batch: shingle + sign the batch (batch-sized work), flag
  within-batch pairs, then join the batch's band keys against the band
  index — candidates are documents sharing ≥ 1 LSH bucket with a
  newcomer, verified by exact jaccard on the two hash sets.

Per-batch cost is O(batch) signature work + one equi join per side of
the band index — history is never re-shingled.  Flags accumulate in
``out_dir``; the UNION of within-batch and cross-batch flags over a
drain equals the batch sweep over the whole corpus (pinned in
tests/test_dedup_guard.py), because every pair is either within one
micro-batch or crosses two — and the crossing pair is caught when its
second member arrives.

Flags, signatures and band keys are all written through
``streaming/util.write_batch``, whose delivery contract
(``start_sink``) makes a retried micro-batch REPLACE its own partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators.dedup import (
    _bucket_pairs,
    minhash_signature_from_hashes,
    with_shingle_hashes,
)
from graphdb_for_drones_spark.operators._pin import pin
from graphdb_for_drones_spark.streaming.util import (
    read_history, read_sink, start_sink, write_batch,
)


def _signed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """(id, sh: distinct shingle hashes, sig: minhash signature)."""
    return with_shingle_hashes(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        text_col,
        shingle_n,
        out_col="__sh",
        keep=("id",),
    ).select(
        "id",
        F.array_distinct(F.col("__sh")).alias("sh"),
        minhash_signature_from_hashes(F.col("__sh"), num_hashes).alias("sig"),
    )


def _band_keys(signed: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_hash) — one row per LSH band per document."""
    rows_per_band = num_hashes // bands
    return signed.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice(
                                F.col("sig"), b * rows_per_band + 1, rows_per_band
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.band_hash")


def _verified(cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame,
              threshold: float) -> DataFrame:
    """Exact shingle-set jaccard over candidate (id_a, id_b) pairs."""
    pairs = cand.join(
        sets_a.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sets_b.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def start_neardup_guard(
    stream_docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
):
    """Flag streaming documents near-duplicating anything already seen.

    ``stream_docs``: streaming DataFrame with (id_col, text_col).
    Flags (id_a, id_b, jaccard), id_a < id_b, append to ``out_dir``;
    the band index and signature store grow under ``index_dir``."""
    apply_batch = make_apply_batch(
        index_dir, out_dir, num_hashes, bands, shingle_n, jaccard_threshold,
        text_col, id_col,
    )
    return start_sink(
        stream_docs, apply_batch, checkpoint_dir, available_now,
        partitioned=(out_dir, f"{index_dir}/bands", f"{index_dir}/sigs"),
    )


def make_apply_batch(
    index_dir: str,
    out_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The guard's per-micro-batch function, module-level so
    failure-injection tests can replay a batch_id (the at-least-once
    window between the writes and the checkpoint commit)."""
    bands_dir = f"{index_dir}/bands"
    sigs_dir = f"{index_dir}/sigs"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # batch-sized: pin it — referenced by self-pairs, the cross
        # join, and both index appends (a row pin, not columnar cache:
        # the array-cache rule); start_sink releases it after the writes
        signed = pin(_signed(batch_df, text_col, id_col, num_hashes, shingle_n))
        bkeys = pin(_band_keys(signed, num_hashes, bands))
        sets = signed.select("id", "sh")

        within = _verified(
            _bucket_pairs(bkeys, ["band", "band_hash"]),
            sets,
            sets,
            jaccard_threshold,
        )

        hist_bands = read_history(spark, bands_dir, batch_id)
        flags = within
        if hist_bands is not None:
            # sigs are written before bands, so they exist here
            hist_sets = read_history(spark, sigs_dir, batch_id).select("id", "sh")
            cross_cand = (
                hist_bands.select(
                    "band", "band_hash", F.col("id").alias("id_a")
                )
                .join(
                    bkeys.select(
                        "band", "band_hash", F.col("id").alias("id_b")
                    ),
                    ["band", "band_hash"],
                )
                .filter(F.col("id_a") != F.col("id_b"))
                .select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                )
                .dropDuplicates(["id_a", "id_b"])
            )
            # candidate sides: id_a may be historical or (re-ingested)
            # batch-side — verify against the union of both stores
            all_sets = hist_sets.unionByName(sets)
            cross = _verified(
                cross_cand, all_sets, all_sets, jaccard_threshold
            )
            flags = within.unionByName(cross).dropDuplicates(
                ["id_a", "id_b"]
            )

        write_batch(flags, batch_id, out_dir)
        # sigs BEFORE bands still: replay overwrites both, but if the
        # process dies between the two writes the next run sees extra
        # signatures (harmless — candidates only ever come from the
        # band index) rather than band rows whose verification
        # signatures are missing
        write_batch(signed.select("id", "sig", "sh"), batch_id, sigs_dir)
        write_batch(bkeys, batch_id, bands_dir)

    return apply_batch


# the flag table: every near-dup pair the guard has seen
read_neardup_flags = read_sink
