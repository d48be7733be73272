"""Physical-plan regression tests: the properties PERF.md claims —
filter/projection pushdown into the parquet scan, broadcast of dimension
sides, whole-stage codegen on hot paths — asserted on `.explain` output
so a regression fails CI, not just the benchmark."""

import os

import pytest

from graphdb_for_drones_spark.plans import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pricing_summary_pushdown(spark):
    plan = formatted_plan(QUERIES["pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], "shipdate filter must reach the parquet scan"
    # column pruning: the scan must not read the unused l_partkey
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_partkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_events_filter_pushdown_and_pruning(spark):
    plan = formatted_plan(QUERIES["events_filter"](spark, SF_DIR))
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "event_type" in pushed and "value" in pushed
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "props" not in read_schema, "unused wide column must be pruned"


def test_top_customers_broadcasts_aggregated_side(spark):
    plan = formatted_plan(QUERIES["top_customers"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_region_volume_broadcasts_dimensions(spark):
    plan = formatted_plan(QUERIES["region_volume"](spark, SF_DIR))
    assert plan.count("BroadcastExchange") >= 2, (
        "region/nation/supplier dimension sides should broadcast"
    )


def test_pricing_summary_partial_aggregation(spark):
    plan = formatted_plan(QUERIES["pricing_summary"](spark, SF_DIR))
    assert "partial" in plan.lower(), "map-side combine expected before exchange"


def test_whole_stage_codegen_on_scan_agg(spark):
    df = QUERIES["pricing_summary"](spark, SF_DIR)
    df.collect()  # AQE finalizes stages at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark operators inside WholeStageCodegen stages
    assert "*(1)" in plan and "*(2)" in plan, (
        "scan→filter→partial-agg and final-agg must both be codegen stages"
    )


def test_partition_pruning_on_label(spark, tmp_path):
    from pyspark.sql import functions as F

    from graphdb_for_drones_spark.sources.io import write_partitioned

    v = spark.createDataFrame(
        [(f"n{i}", "Drone" if i % 2 else "Squad") for i in range(100)],
        "id string, label string",
    )
    path = str(tmp_path / "vertices")
    write_partitioned(v, path, ["label"])
    scan = spark.read.parquet(path).filter(F.col("label") == "Drone")
    plan = formatted_plan(scan)
    pf = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "label" in pf, "label filter must prune partitions:\n" + plan
    assert scan.count() == 50


def test_no_cartesian_or_nested_loop_joins_in_catalog(spark):
    """Plan hygiene across the ENTIRE query catalog: no CartesianProduct
    and no BroadcastNestedLoopJoin may appear in any physical plan —
    at 100 TB either marker is a query-killer.  Whitelist: abac_check's
    permission join constant-folds to a literal key (the top group id is
    a fixture constant), degenerating into a 25x5 dimension NLJ — the
    right plan at dimension size, impossible to hit at scale because the
    group id column is non-constant on real data; doc_tfidf_topk
    attaches the ONE-ROW corpus-size aggregate via
    crossJoin(broadcast(...)) — a scalar broadcast NLJ is the correct
    (constant-cost) way to bind a scalar into a distributed plan;
    source_bloom_probe_stats binds its one-row n_probed count the same
    way."""
    from graphdb_for_drones_spark.plans import QUERIES

    WHITELIST = {
        "abac_check",
        "doc_tfidf_topk",
        "source_bloom_probe_stats",
        "event_user_cm_counts",  # dense (sketch-key x probe) grid bind
        "doc_bm25_topk",  # one-row (N, sum dl) corpus-stats scalar bind
        "customer_rfm_segments",  # one-row corpus-max-date scalar bind
        "corpus_stopword_candidates",  # one-row corpus-size scalar bind
        "lang_temperature_mixture",  # one-row ordered-fold denominator bind
        "minhash_pairs",  # three one-row invariant sub-aggregates combined
        "simhash_pairs",  # (1x1x1 scalar bind, the doc_tfidf_topk shape)
        # one-row reference min/max + one-row reference histogram binds
        "source_drift_stats",
        # one-row chance-agreement (pe) scalar bind
        "lang_id_kappa",
        # one-row reference-centroid bind (the drift-family shape)
        "label_centroid_drift",
        # KS grid: |sources|-row group dimension broadcast against the
        # distributed reference jump points (group cardinality bounded,
        # the drift-family contract) — big side never replicated
        "source_drift_ks",
        "source_drift_w1",  # same shared grid
        # streamed twins: identical grid via ks/wasserstein_drift_from_counts
        "source_drift_ks_streamed",
        "source_drift_w1_streamed",
        "source_lang_drift",  # one-row reference category-mix bind
    }
    sf = "/root/testdata/sf0.001"
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    flagged = {}
    for name, fn in QUERIES.items():
        plan = fn(spark, sf)._jdf.queryExecution().explainString(mode)
        hits = [
            m
            for m in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if m in plan
        ]
        if hits and name not in WHITELIST:
            flagged[name] = hits
    assert not flagged, flagged


def test_blocked_cosine_size_split_broadcasts_counts(spark):
    """The adaptive blocked-cosine join decides exact-vs-LSH routing with
    a per-block count joined back in-plan: that side is rows-per-block —
    tiny — and must broadcast, never shuffle the vectors against it."""
    from pyspark.sql import functions as F

    from graphdb_for_drones_spark.operators.similarity import (
        cosine_pairs_blocked,
    )

    emb = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") + i).cast("double") for i in range(4)]).alias(
            "embedding"
        ),
        (F.col("id") % 3).alias("label"),
    )
    plan = formatted_plan(
        cosine_pairs_blocked(emb, "label", threshold=0.5, dim=4)
    )
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_nation_trade_flows_broadcasts_pruned_dims(spark):
    plan = formatted_plan(QUERIES["nation_trade_flows"](spark, SF_DIR))
    # nation-filtered supplier/customer sides and nation dims broadcast;
    # only the lineitem-orders fact join shuffles
    assert plan.count("BroadcastExchange") >= 2
    # the two-nation filter reaches the nation scans (dimension-side
    # pruning BEFORE the fact join, not a post-join filter)
    pushed = plan.split("PushedFilters")
    assert any("n_name" in seg.split("]")[0] for seg in pushed[1:])


def test_part_type_profit_pushes_type_filter(spark):
    plan = formatted_plan(QUERIES["part_type_profit"](spark, SF_DIR))
    pushed = plan.split("PushedFilters")
    assert any("p_type" in seg.split("]")[0] for seg in pushed[1:])


def test_bm25_prunes_term_stream_before_shuffle(spark):
    df = QUERIES["doc_bm25_topk"](spark, SF_DIR)
    plan = formatted_plan(df)
    # the exploded term stream is filtered by the query-term IN list
    # in-plan (a handful of keys survive to the tf shuffle)
    assert "vector" in plan and "Exchange" in plan
    # TakeOrdered (top-k), never a global Sort
    assert "TakeOrderedAndProject" in plan


def test_recursive_sql_runs_on_native_unionloop(spark):
    """The literal WITH RECURSIVE surface must execute on Catalyst's
    native UnionLoop operator (Spark 4, SPARK-24497) when the build
    supports it — not silently fall back to the iterative kernel.  The
    probe itself is also pinned: this session's Spark is 4.x, so
    support must be detected."""
    from graphdb_for_drones_spark.plans.queries import (
        recursive_cte_supported,
    )

    assert recursive_cte_supported(spark), (
        "Spark 4.x must report native recursive-CTE support"
    )
    for name in (
        "flat_chain_count_recursive_sql",
        "delegation_reachable_recursive_sql",
    ):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "UnionLoop" in plan, (
            f"{name} must plan as a native recursive CTE, got:\n{plan[:2000]}"
        )


def test_recursive_sql_matches_iterative_kernel(spark):
    """Engine-path equivalence: the native UnionLoop count equals the
    iterative kernel's on the same data (the two execution strategies
    for SURVEY §2.3 J8 must be interchangeable)."""
    native = QUERIES["flat_chain_count_recursive_sql"](spark, SF_DIR)
    kernel = QUERIES["flat_chain_count"](spark, SF_DIR)
    assert native.collect()[0][0] == kernel.collect()[0][0]


def test_bucketed_contamination_join_shuffle_free(spark):
    """The bucketed contamination variant's inverted-index join must
    read both h-bucketed sides with NO shuffle exchange before the
    join — the layout contract `write_bucketed` promises, asserted on
    the cataloged query (not just the synthetic io test).  Only the
    post-join pair aggregation may exchange."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the sf0.001 eval side would broadcast and hide the layout
        # property under test
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = QUERIES["contamination_check_bucketed"](spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    # exactly the aggregation exchanges survive: nothing between the
    # bucketed scans and the join
    join_part = plan.split("SortMergeJoin")[-1]
    assert "Exchange" not in join_part, (
        "bucketed sides must feed the join without a shuffle:\n"
        + join_part[:1500]
    )


def test_posting_bucket_pinning_no_reaggregation(spark):
    """The posting-bucket tables of the simhash/minhash/ann kernels are
    localCheckpointed (round 8): ReuseExchange dedups the shuffle but
    every consumer re-ran the post-shuffle collect_list aggregate
    (3-4× — measured 5.2 → 3.9 s at sf0.1).  Regression guard: the
    FINAL plan of each pair query must contain NO collect_list at all
    (the aggregate ran eagerly at build time; consumers scan the
    materialized RDD)."""
    from pyspark.sql import functions as F

    import graphdb_for_drones_spark.operators.dedup as D
    import graphdb_for_drones_spark.operators.similarity as S

    docs = spark.createDataFrame(
        [(i, f"w{i} common text tail {i % 3}") for i in range(12)],
        "doc_id long, text string",
    ).localCheckpoint()
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    ).localCheckpoint()
    for df in (
        D.simhash_pairs(docs, max_hamming=6),
        D.minhash_lsh_pairs(docs, jaccard_threshold=0.3),
        S.ann_near_pairs(emb, dim=8, threshold=0.3),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" not in plan, plan[:1200]
        assert "ExistingRDD" in plan or "LocalTableScan" in plan


def test_funnel_pushes_step_filters_and_prunes(spark):
    """Each funnel branch must push its event_type equality into the
    parquet scan and read only (ts, user_id, event_type) — the props
    JSON blob is the table's widest column and must never load."""
    plan = formatted_plan(QUERIES["event_funnel"](spark, SF_DIR))
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters")[1:]]
    for step in ("view", "click", "purchase"):
        assert any(f"EqualTo(event_type,{step}" in p for p in pushed), step
    for seg in plan.split("ReadSchema")[1:]:
        line = seg.splitlines()[0]
        assert "props" not in line and "value" not in line


def test_retention_and_gini_scans_are_pruned(spark):
    plan = formatted_plan(QUERIES["user_retention_cohorts"](spark, SF_DIR))
    line = plan.split("ReadSchema")[1].splitlines()[0]
    assert "user_id" in line and "props" not in line and "value" not in line
    plan = formatted_plan(QUERIES["doc_length_gini"](spark, SF_DIR))
    line = plan.split("ReadSchema")[1].splitlines()[0]
    assert "n_chars" in line and "text" not in line
