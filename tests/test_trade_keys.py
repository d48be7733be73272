"""The trade graph's long-id pair base (plans/extra_queries._trade_keys):
the decoded pairs are the string pairs the trade entries always used,
the 40-core computed on long ids equals the one on strings, and the
dedup runs after the exchange, not map-side.  The trade graph entries
leave no pinned blocks behind."""

from __future__ import annotations

import pytest
from conftest import SF_DIR_ORACLE
from pyspark.sql import functions as F

from graphdb_for_drones_spark.catalog import Catalog
from graphdb_for_drones_spark.operators.graph_algorithms import k_core
from graphdb_for_drones_spark.plans import extra_queries as eq


@pytest.fixture(scope="module")
def cat(spark):
    return Catalog(spark, SF_DIR_ORACLE)


def _string_pairs(cat):
    """The string pair list in the oracle SQL's form: the 'c'/'s'
    prefixed ids of every orders⋈lineitem row, then distinct."""
    return (
        cat.orders.join(cat.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )


def test_decoded_keys_are_the_string_pairs(cat):
    want = {tuple(r) for r in _string_pairs(cat).collect()}
    keys = eq._trade_keys(cat)
    decoded = keys.select(eq._trade_id("src"), eq._trade_id("dst")).collect()
    assert len(decoded) == len(want) > 0  # still distinct after decoding
    assert {tuple(r) for r in decoded} == want
    # customers even, suppliers odd: canonical, no self-loops
    assert keys.filter((F.col("src") % 2 != 0) | (F.col("dst") % 2 != 1)).count() == 0


def test_trade_kcore_equals_k_core_on_string_pairs(spark, cat):
    want = {tuple(r) for r in k_core(_string_pairs(cat), k=40).collect()}
    core = eq.q_trade_kcore(spark, SF_DIR_ORACLE)
    assert core.columns == ["id", "core_degree"]
    assert len(want) == 449
    assert {tuple(r) for r in core.collect()} == want


@pytest.mark.parametrize("key", [0, 1, 2**40])
def test_trade_id_round_trips(spark, key):
    df = spark.range(1).select(
        (F.lit(key) * 2).alias("c"), (F.lit(key) * 2 + 1).alias("s")
    )
    row = df.select(eq._trade_id("c"), eq._trade_id("s")).first()
    assert tuple(row) == (f"c{key}", f"s{key}")


def test_trade_keys_dedup_runs_after_the_exchange(cat):
    # the lineitem scan is one task (one row group): a HashAggregate
    # below the exchange would run the partial dedup inside it
    plan = eq._trade_keys(cat)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    exchange = next(i for i, line in enumerate(lines) if "Exchange hashpartitioning" in line)
    assert "src" in lines[exchange] and "dst" in lines[exchange]
    assert any("HashAggregate" in line for line in lines[:exchange])
    assert not any("HashAggregate" in line for line in lines[exchange:])


@pytest.mark.parametrize(
    "entry",
    [
        "trade_kcore",
        "trade_cheapest_route",
        "trade_temporal_reach",
        "trade_trust_from_anchor",
        "supplier_pagerank",
        "trade_graph_degrees",
    ],
)
def test_trade_entry_leaves_no_pinned_blocks(cat, entry):
    """An entry's answer is driver-local here (all are far below
    ``_pin.COLLECT_THRESHOLD`` at sf0.01), so once the entry
    returns no pin it took may hold blocks: not the pair list, the
    degree-annotated edges, the vertex list or a mid-loop state."""
    spark = cat.spark

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    out = getattr(eq, f"q_{entry}")(spark, cat.sf_dir)
    assert persisted() - before == set()
    assert out.count() > 0
