"""Property-based kernel validation: random graphs (cycles, multi-edges,
self-loops included) against an independent pure-Python BFS counter.
Catches semantics drift that example-based tests on hand-built graphs
miss."""

import functools
from collections import Counter, defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graphdb_for_drones_spark import traversal
from graphdb_for_drones_spark.operators import _pin

NODES = list("abcdefg")


def py_reachable_counts(edges, seeds, max_depth, mode, include_seed=False):
    """Independent reference: dict-based level BFS with path counters
    (UNION ALL semantics) or visited-set node semantics (UNION)."""
    adj = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    frontier = {}
    for s in seeds:
        frontier[s] = 1 if mode == "node" else frontier.get(s, 0) + 1
    visited = set(frontier)
    out = {}
    if include_seed:
        for n, c in frontier.items():
            out[(n, 0)] = c
    for lvl in range(1, max_depth + 1):
        nxt = defaultdict(int)
        for n, c in frontier.items():
            for d in adj[n]:
                nxt[d] += c
        if mode == "node":
            nxt = {n: 1 for n in nxt if n not in visited}
            visited |= set(nxt)
        if not nxt:
            break
        for n, c in nxt.items():
            out[(n, lvl)] = c
        frontier = dict(nxt)
    return out


edges_strategy = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
    min_size=0,
    max_size=15,
)
seeds_strategy = st.lists(st.sampled_from(NODES), min_size=1, max_size=3)


def _strategy(mp, strategy):
    """Route the BFS through one strategy: driver levels (default), the
    collected adjacency, or the distributed continuation from level 1.
    ``reachable`` is patched through the module attribute it calls."""
    if strategy == "collected":
        mp.setattr(
            traversal,
            "reachable_counts",
            functools.partial(traversal.reachable_counts, collect_edges=True),
        )
    elif strategy == "distributed":
        mp.setattr(_pin, "COLLECT_THRESHOLD", 0)


@pytest.mark.slow
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=edges_strategy,
    seeds=seeds_strategy,
    depth=st.integers(min_value=0, max_value=4),
    mode=st.sampled_from(["node", "path"]),
    strategy=st.sampled_from(["driver", "collected", "distributed"]),
    include_seed=st.booleans(),
    seed_form=st.sampled_from(["list", "df"]),
)
def test_reachable_counts_matches_reference(
    spark, edges, seeds, depth, mode, strategy, include_seed, seed_form
):
    df = (
        spark.createDataFrame(
            edges or [("zz", "zz2")], "src string, dst string"
        )
        .limit(len(edges))
        .localCheckpoint()
    )
    seed_arg = seeds
    if seed_form == "df":
        seed_arg = spark.createDataFrame(
            [(s,) for s in seeds], "node string"
        ).localCheckpoint()
    args = (df, seed_arg, depth, mode, include_seed)
    want = py_reachable_counts(edges, seeds, depth, mode, include_seed)
    with pytest.MonkeyPatch.context() as mp:
        _strategy(mp, strategy)
        counts = traversal.reachable_counts(*args).collect()
        # reachable's rows are the counters' projection: one row per path
        rows = Counter((r.node, r.level) for r in traversal.reachable(*args).collect())
    assert {(r.node, r.level): r.cnt for r in counts} == want
    assert dict(rows) == want
