"""reachable_counts: counter semantics, strategy equivalence, fallback."""

import pytest
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators import _pin
from graphdb_for_drones_spark.traversal import (
    path_count_to,
    reachable,
    reachable_counts,
)


@pytest.fixture
def distributed(monkeypatch):
    """Every frontier (and seed DataFrame) "too big" for the driver: the
    BFS runs the distributed continuation from the first level."""
    monkeypatch.setattr(_pin, "COLLECT_THRESHOLD", 0)


@pytest.fixture(scope="module")
def diamond(spark):
    # a→{b,c}→d→e : two paths reach d (and e) — multiplicity 2
    return spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    ).localCheckpoint()


def _as_map(df):
    return {(r.node, r.level): r.cnt for r in df.collect()}


def test_path_mode_multiplicity(diamond):
    got = _as_map(reachable_counts(diamond, ["a"], 3, mode="path"))
    assert got == {
        ("b", 1): 1,
        ("c", 1): 1,
        ("d", 2): 2,
        ("e", 3): 2,
    }


def test_node_mode_first_level_wins(diamond):
    got = _as_map(reachable_counts(diamond, ["a"], 3, mode="node"))
    assert got == {("b", 1): 1, ("c", 1): 1, ("d", 2): 1, ("e", 3): 1}


def test_counts_agree_with_row_kernel(diamond):
    rows = reachable(diamond, ["a"], 3, mode="path").groupBy(
        "node", "level"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    assert _as_map(rows) == _as_map(reachable_counts(diamond, ["a"], 3, "path"))


def test_collect_edges_strategy_equivalent(diamond):
    a = _as_map(reachable_counts(diamond, ["a"], 3, mode="path"))
    b = _as_map(
        reachable_counts(diamond, ["a"], 3, mode="path", collect_edges=True)
    )
    assert a == b


def test_distributed_fallback_equivalent(diamond, distributed):
    got = _as_map(reachable_counts(diamond, ["a"], 3, mode="path"))
    assert got == {("b", 1): 1, ("c", 1): 1, ("d", 2): 2, ("e", 3): 2}


def test_distributed_fallback_node_mode(diamond, distributed):
    got = _as_map(reachable_counts(diamond, ["a"], 3, mode="node"))
    assert got == {("b", 1): 1, ("c", 1): 1, ("d", 2): 1, ("e", 3): 1}


def test_include_seed(diamond):
    got = _as_map(
        reachable_counts(diamond, ["a"], 1, mode="node", include_seed=True)
    )
    assert got == {("a", 0): 1, ("b", 1): 1, ("c", 1): 1}


def test_cycle_terminates_node_mode(spark):
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    ).localCheckpoint()
    got = _as_map(reachable_counts(cyc, ["a"], 10, mode="node"))
    assert got == {("b", 1): 1}  # a already visited as seed


def test_path_count_to(diamond):
    assert path_count_to(diamond, ["a"], "e", 3).first().path_count == 2
    assert path_count_to(diamond, ["a"], "e", 2).first().path_count == 0
    assert (
        path_count_to(diamond, ["a"], "e", 3, collect_edges=True)
        .first()
        .path_count
        == 2
    )


def test_empty_seeds(diamond):
    assert reachable_counts(diamond, [], 3, mode="path").count() == 0


def test_zero_depth(diamond):
    assert reachable_counts(diamond, ["a"], 0, mode="path").count() == 0
    got = _as_map(
        reachable_counts(diamond, ["a"], 0, mode="path", include_seed=True)
    )
    assert got == {("a", 0): 1}


def test_duplicate_seeds_path_multiplicity(diamond):
    got = _as_map(reachable_counts(diamond, ["a", "a"], 1, mode="path"))
    assert got == {("b", 1): 2, ("c", 1): 2}


def test_mitm_equals_direct(spark, diamond):
    from graphdb_for_drones_spark.traversal import path_count_to_mitm

    for target, max_len, want in [
        ("e", 3, 2),
        ("e", 2, 0),
        ("d", 2, 2),
        ("d", 3, 2),
        ("b", 1, 1),
        ("missing", 3, 0),
    ]:
        direct = path_count_to(diamond, ["a"], target, max_len).first().path_count
        mitm = path_count_to_mitm(
            diamond, ["a"], target, max_len
        ).first().path_count
        assert direct == want == mitm, (target, max_len, direct, mitm)


def test_mitm_long_chain(spark):
    from graphdb_for_drones_spark.traversal import path_count_to_mitm

    n = 12
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(n)], "src string, dst string"
    ).localCheckpoint()
    got = path_count_to_mitm(
        chain, ["n0"], f"n{n}", n, collect_edges=True
    ).first().path_count
    assert got == 1
    short = path_count_to_mitm(
        chain, ["n0"], f"n{n}", n - 1, collect_edges=True
    ).first().path_count
    assert short == 0


def test_mitm_multi_edge_multiplicity(spark):
    from graphdb_for_drones_spark.traversal import path_count_to_mitm

    # duplicate edge rows are distinct paths (UNION ALL semantics)
    g = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c")], "src string, dst string"
    ).localCheckpoint()
    assert path_count_to_mitm(g, ["a"], "c", 2).first().path_count == 2


def test_distributed_df_seeds_include_seed(spark, diamond, distributed):
    # DataFrame seeds + COLLECT_THRESHOLD=0 → distributed-from-start path;
    # level-0 seed rows must survive (regression: they were dropped)
    seeds = spark.createDataFrame([("a",)], "node string")
    got = _as_map(
        reachable_counts(diamond, seeds, 3, mode="path", include_seed=True)
    )
    assert got == {
        ("a", 0): 1,
        ("b", 1): 1,
        ("c", 1): 1,
        ("d", 2): 2,
        ("e", 3): 2,
    }


def test_distributed_df_seeds_cycle_node_mode(spark, distributed):
    # cycle back to a DataFrame seed must not re-report it at level>=1
    # (regression: distributed seeds were never marked visited)
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    ).localCheckpoint()
    seeds = spark.createDataFrame([("a",)], "node string")
    got = _as_map(reachable_counts(cyc, seeds, 10, mode="node"))
    assert got == {("b", 1): 1}


def test_distributed_df_seeds_duplicates_path(spark, diamond, distributed):
    seeds = spark.createDataFrame([("a",), ("a",)], "node string")
    got = _as_map(reachable_counts(diamond, seeds, 1, mode="path"))
    assert got == {("b", 1): 2, ("c", 1): 2}


@pytest.mark.parametrize("threshold", [_pin.COLLECT_THRESHOLD, 0])
def test_integer_ids(spark, monkeypatch, threshold):
    # integer-typed edges answer like their string twins, driver levels
    # and distributed continuation alike
    monkeypatch.setattr(_pin, "COLLECT_THRESHOLD", threshold)
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    ).localCheckpoint()
    got = _as_map(reachable_counts(e, [1], 2, mode="path"))
    assert got == {("2", 1): 1, ("3", 1): 1, ("4", 2): 2}
