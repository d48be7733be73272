"""Traversal kernel semantics: node-set vs path-multiplicity, cycle
termination, early exit — the §7.4-1 risk register pins."""

import pytest
from pyspark.sql import functions as F

from graphdb_for_drones_spark.traversal import (
    expand,
    path_count_to,
    reachable,
    reachable_count,
)


def edges_df(spark, pairs):
    # localCheckpoint: materialize JVM-side so the traversal loop's repeated
    # scans don't respawn Python workers for the pickled local relation
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "src string, dst string"
    ).coalesce(1).localCheckpoint()


@pytest.fixture(scope="module")
def tree(spark):
    # A -> B,C ; B -> D,E ; C -> F
    return edges_df(spark, [("A", "B"), ("A", "C"), ("B", "D"), ("B", "E"), ("C", "F")])


@pytest.fixture(scope="module")
def diamond(spark):
    # A -> B, A -> C, B -> D, C -> D  (two paths A..D)
    return edges_df(spark, [("A", "B"), ("A", "C"), ("B", "D"), ("C", "D")])


@pytest.fixture(scope="module")
def cycle(spark):
    return edges_df(spark, [("A", "B"), ("B", "C"), ("C", "A")])


def test_tree_levels(tree):
    rows = reachable(tree, ["A"], 2).collect()
    got = {(r.node, r.level) for r in rows}
    assert got == {("B", 1), ("C", 1), ("D", 2), ("E", 2), ("F", 2)}


def test_depth_bound(tree):
    assert reachable_count(tree, ["A"], 1) == 2


def test_node_vs_path_on_diamond(diamond):
    # node-set: D once; path: D twice
    assert reachable_count(diamond, ["A"], 2, mode="node") == 3
    assert reachable_count(diamond, ["A"], 2, mode="path") == 4


def test_node_min_level_on_shortcut(spark):
    # A->D direct and A->B->D: node mode reports D at level 1 only
    e = edges_df(spark, [("A", "D"), ("A", "B"), ("B", "D")])
    rows = {(r.node, r.level) for r in reachable(e, ["A"], 3).collect()}
    assert rows == {("D", 1), ("B", 1)}


def test_cycle_terminates_node_mode(cycle, monkeypatch):
    # node mode: seeds are visited, so the cycle closes without re-reporting
    # A, and the empty frontier stops the loop well before max_depth.  The
    # frontier is state (pin_state), so SPARK_GRAFT_NO_PIN changes nothing
    for no_pin in (False, True):
        if no_pin:
            monkeypatch.setenv("SPARK_GRAFT_NO_PIN", "1")
        else:
            monkeypatch.delenv("SPARK_GRAFT_NO_PIN", raising=False)
        rows = {(r.node, r.level) for r in reachable(cycle, ["A"], 10).collect()}
        assert rows == {("B", 1), ("C", 2)}, no_pin


def test_cycle_path_mode_bounded(cycle):
    # path mode on a cycle: exactly one walk per length, bounded by depth
    assert reachable_count(cycle, ["A"], 5, mode="path") == 5


def test_early_exit_empty_frontier(tree):
    # depth 10 >> diameter: early exit, same answer as depth 2
    assert reachable_count(tree, ["A"], 10) == 5


def test_include_seed(tree):
    rows = {(r.node, r.level) for r in reachable(tree, ["A"], 1, include_seed=True).collect()}
    assert ("A", 0) in rows and ("B", 1) in rows


def test_path_count_to_target(diamond):
    assert path_count_to(diamond, ["A"], "D", 3).collect()[0].path_count == 2


def test_expand_one_hop(tree, spark):
    f = spark.createDataFrame([("A",)], "node string")
    got = {r.node for r in expand(f, tree).collect()}
    assert got == {"B", "C"}


def test_seeds_as_dataframe(tree, spark):
    seeds = spark.createDataFrame([("A",), ("C",)], "node string")
    rows = {(r.node, r.level) for r in reachable(tree, seeds, 1).collect()}
    # C is itself a seed → visited, not re-reported at level 1
    assert rows == {("B", 1), ("F", 1)}
