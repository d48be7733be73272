"""Skewed-corpus exactness + crossover contract for the PPJoin prefix plan.

VERDICT r3 #7: the prefix filter's win was documented but never measured.
A one-off harness measured it (PERF.md keeps the numbers); these tests
pin the semantics that measurement relied on:

* the skewed fixture really is two-point power-law in shingle df
  (boilerplate shingles at df = n_docs, the rest at df <= 2);
* the prefix plan returns the IDENTICAL pair set on that corpus —
  including the planted near-dup pairs — at thresholds both sides of the
  crossover;
* at t >= 0.5 the pruned inverted index contains NO boilerplate shingle
  (the mechanism behind the speedup, checked structurally rather than by
  timing so the test is stable on any machine).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graphdb_for_drones_spark import fixtures
from graphdb_for_drones_spark.operators import dedup


N_DOCS = 200


def _corpus(spark):
    return fixtures.skewed_corpus_dist(spark, N_DOCS).localCheckpoint()


def test_skewed_corpus_df_is_two_point_power_law(spark):
    corpus = _corpus(spark)
    sh = corpus.select(
        "doc_id",
        F.explode(
            F.array_distinct(dedup.shingle_hash_array(F.col("text"), 3))
        ).alias("h"),
    )
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("dfc"))
    hot = dfreq.filter(F.col("dfc") == N_DOCS).count()
    mid = dfreq.filter(
        (F.col("dfc") > 2) & (F.col("dfc") < N_DOCS)
    ).count()
    assert hot >= 5  # boilerplate shingles hit every doc
    assert mid == 0  # everything else is df <= 2: two-point distribution


def test_prefix_plan_identical_on_skewed_corpus(spark):
    corpus = _corpus(spark)
    for t in (0.1, 0.5, 0.7):
        plain = dedup.ngram_jaccard_pairs(corpus, threshold=t).select(
            "id_a", "id_b"
        )
        pref = dedup.ngram_jaccard_pairs(
            corpus, threshold=t, prefix_filter=True
        ).select("id_a", "id_b")
        assert plain.exceptAll(pref).count() == 0, t
        assert pref.exceptAll(plain).count() == 0, t


def test_planted_near_dups_found_at_high_threshold(spark):
    corpus = _corpus(spark)
    pairs = dedup.ngram_jaccard_pairs(
        corpus, threshold=0.5, prefix_filter=True
    )
    found = {
        (r.id_a, r.id_b)
        for r in pairs.select("id_a", "id_b").collect()
    }
    # every (2k, 2k+1) pair shares all boilerplate + nearly all unique words
    planted = {(i, i + 1) for i in range(0, N_DOCS, 2)}
    assert planted <= found


def test_prefix_index_drops_boilerplate_at_high_threshold(spark):
    """Structural mechanism check: rebuild the pruned index exactly as the
    operator does and assert no df=n shingle survives at t=0.5."""
    from pyspark.sql.window import Window

    corpus = _corpus(spark)
    t = 0.5
    sh = corpus.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(dedup.shingle_hash_array(F.col("text"), 3)).alias(
            "hashes"
        ),
    )
    inv = sh.select(
        "id", F.size("hashes").alias("n"), F.explode("hashes").alias("h")
    )
    dfreq = inv.groupBy("h").agg(F.count(F.lit(1)).alias("dfc"))
    ranked = inv.join(dfreq, "h").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("id").orderBy("dfc", "h")),
    )
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    pruned = ranked.filter(F.col("rn") <= prefix_len)
    assert pruned.filter(F.col("dfc") == N_DOCS).count() == 0
