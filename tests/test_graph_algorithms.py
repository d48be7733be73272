"""Graph analytics: degrees, pagerank, connected components, trust
propagation on graphs with known answers."""

import pytest
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators.graph_algorithms import (
    connected_components,
    degrees,
    pagerank,
    trust_propagation,
)


def edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string").coalesce(1).localCheckpoint()


def test_degrees(spark):
    e = edges_df(spark, [("A", "B"), ("A", "C"), ("B", "C")])
    d = {r.id: (r.out_degree, r.in_degree) for r in degrees(e).collect()}
    assert d == {"A": (2, 0), "B": (1, 1), "C": (0, 2)}


def test_pagerank_star(spark):
    # star: A,B,C all point at D → D accumulates rank, sources stay at 1-d
    e = edges_df(spark, [("A", "D"), ("B", "D"), ("C", "D")])
    ranks = {r.id: r.rank for r in pagerank(e, iterations=5).collect()}
    assert ranks["D"] > ranks["A"]
    assert abs(ranks["A"] - 0.15) < 1e-9  # dangling sources: 1-d exactly
    assert ranks["A"] == ranks["B"] == ranks["C"]


def test_pagerank_cycle_uniform(spark):
    # symmetric cycle → uniform ranks of exactly 1.0
    e = edges_df(spark, [("A", "B"), ("B", "C"), ("C", "A")])
    ranks = [r.rank for r in pagerank(e, iterations=20).collect()]
    assert all(abs(x - 1.0) < 1e-6 for x in ranks)


def test_connected_components(spark):
    e = edges_df(spark, [("A", "B"), ("B", "C"), ("X", "Y")])
    comp = {r.id: r.component for r in connected_components(e).collect()}
    assert comp["A"] == comp["B"] == comp["C"] == "A"
    assert comp["X"] == comp["Y"] == "X"
    assert comp["A"] != comp["X"]


def test_connected_components_chain_converges(spark):
    # long chain exercises multi-iteration propagation + early exit
    n = 12
    e = edges_df(spark, [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)])
    comp = {r.id: r.component for r in connected_components(e).collect()}
    assert set(comp.values()) == {"n00"}


def test_trust_propagation(spark):
    # anchor → a → b; decay 0.5 per hop; diamond gives max not sum
    e = edges_df(
        spark,
        [("anchor", "a"), ("anchor", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
    )
    t = {r.id: r.trust for r in trust_propagation(e, "anchor", decay=0.5).collect()}
    assert t["anchor"] == 1.0
    assert t["a"] == 0.5 and t["b"] == 0.5
    assert t["c"] == 0.25  # max over two equal paths, not 0.5
    assert t["d"] == 0.125


def _py_max_trust(pairs, anchor, decay, max_depth):
    """Pure-Python trust loop: each hop relaxes the nodes whose trust
    improved, a node keeps the max over paths of length <= max_depth."""
    best = {anchor: 1.0}
    frontier = dict(best)
    for _ in range(max_depth):
        nxt = {}
        for s, d in pairs:
            if s in frontier:
                nxt[d] = max(nxt.get(d, 0.0), frontier[s] * decay)
        frontier = {n: t for n, t in nxt.items() if n not in best or t > best[n]}
        if not frontier:
            break
        best.update(frontier)
    return best


def test_trust_propagation_matches_max_over_paths(spark):
    # random graphs with cycles, multi-edges, self-loops and edges back
    # to the anchor; exact float equality with the reference loop
    import random

    rng = random.Random(7)
    nodes = list("abcdefgh")
    for case in range(8):
        pairs = [
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(rng.randrange(1, 16))
        ]
        anchor = rng.choice(nodes)
        decay = rng.choice([0.0, 0.3, 0.5, 0.7, 1.0])
        depth = rng.randrange(0, 5)
        got = {
            r.id: r.trust
            for r in trust_propagation(
                edges_df(spark, pairs), anchor, decay=decay, max_depth=depth
            ).collect()
        }
        want = _py_max_trust(pairs, anchor, decay, depth)
        assert got == want, (case, pairs, anchor, decay, depth)


@pytest.mark.parametrize("decay", [-0.1, 1.5])
def test_trust_propagation_rejects_decay_outside_unit_interval(spark, decay):
    # outside [0, 1] a longer path can score higher than the shortest
    e = edges_df(spark, [("anchor", "a")])
    with pytest.raises(ValueError, match="decay"):
        trust_propagation(e, "anchor", decay=decay)


def test_triangle_count_known(spark):
    # triangle a-b-c plus a pendant edge c-d (given in mixed orientation
    # and with a duplicate edge, which canonicalization must absorb)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    ).localCheckpoint()
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        triangle_count,
    )

    assert triangle_count(edges).first().n_triangles == 1


def test_triangle_count_none(spark):
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        triangle_count,
    )

    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    ).localCheckpoint()
    assert triangle_count(chain).first().n_triangles == 0


def test_connected_components_driver_vs_distributed_identical(spark, monkeypatch):
    # forest: chain 0-1-2-3, pair 10-11, isolated-by-edge 20-21, triangle 30-31-32
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (30, 31), (31, 32), (30, 32)]
    e = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    ).localCheckpoint()
    via_driver = {
        (r.id, r.component)
        for r in connected_components(e).collect()  # small: driver path
    }
    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    monkeypatch.setattr(ga, "SMALL_GRAPH_EDGES", 0)
    via_loop = {(r.id, r.component) for r in connected_components(e).collect()}
    assert via_driver == via_loop
    comp = dict(via_driver)
    assert comp["3"] == "0" and comp["11"] == "10" and comp["32"] == "30"


def test_connected_components_driver_matches_loop_on_random_graphs(
    spark, monkeypatch
):
    """Differential on seeded random forests with string ids that order
    differently as strings and as numbers ("10" < "9"): the driver step
    (codes in sorted id order) and the distributed loop both label each
    node with the string-min id of its component, as a Python
    union-find does.  The same graph on long ids gives the same
    components, each labelled with its numeric min."""
    import random

    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    rng = random.Random(3)
    for n, m in [(30, 20), (60, 45)]:
        pairs = [(str(rng.randrange(n)), str(rng.randrange(n))) for _ in range(m)]
        pairs.append(("9", "10"))
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = sorted((find(a), find(b)))
            parent[rb] = ra
        expect = {x: find(x) for x in list(parent)}
        assert expect["10"] == expect["9"] <= "10"
        members = {}
        for x, root in expect.items():
            members.setdefault(root, []).append(int(x))
        expect_long = {x: min(ms) for ms in members.values() for x in ms}
        assert expect_long[10] == expect_long[9] == 9
        longs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in pairs], "src long, dst long"
        ).localCheckpoint()
        for e, want in ((edges_df(spark, pairs), expect), (longs, expect_long)):
            driver = ga.connected_components(e).collect()
            with monkeypatch.context() as mp:
                mp.setattr(ga, "SMALL_GRAPH_EDGES", 0)
                loop = ga.connected_components(e).collect()
            for out in (driver, loop):
                assert {r.id: r.component for r in out} == want, (n, m)


def test_pagerank_fixed_point_matches_double_path(spark):
    # same graph through both kernels: the fixed-point ranks must agree
    # with the double ranks to well under one fixed-point ulp-per-step
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        pagerank_fixed_point,
    )

    e = edges_df(
        spark,
        [("A", "D"), ("B", "D"), ("C", "D"), ("D", "A"), ("A", "B")],
    )
    fp = {r.id: r.rank for r in pagerank_fixed_point(e, iterations=5).collect()}
    fl = {r.id: r.rank for r in pagerank(e, iterations=5).collect()}
    assert set(fp) == set(fl)
    for k in fp:
        assert abs(fp[k] - fl[k]) < 1e-9  # floor truncation ≤ iters/scale


def test_pagerank_fixed_point_partitioning_invariant(spark):
    # bit-identical rank_fp under different partitioning — the property
    # that makes the iterative algorithm oracle-checkable at all
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        pagerank_fixed_point,
    )

    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 50}") for i in range(200)]
    e1 = spark.createDataFrame(pairs, "src string, dst string").coalesce(1)
    e32 = spark.createDataFrame(pairs, "src string, dst string").repartition(32)
    r1 = sorted(
        (r.id, r.rank_fp) for r in pagerank_fixed_point(e1, iterations=4).collect()
    )
    r32 = sorted(
        (r.id, r.rank_fp) for r in pagerank_fixed_point(e32, iterations=4).collect()
    )
    assert r1 == r32


def test_pagerank_fixed_point_rejects_bad_scale(spark):
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        pagerank_fixed_point,
    )

    e = edges_df(spark, [("A", "B")])
    with pytest.raises(ValueError):
        pagerank_fixed_point(e, scale=10**12 + 1)


def test_k_core_cascading_peel(spark):
    from graphdb_for_drones_spark.operators.graph_algorithms import k_core

    # path A-B-C-D-E plus triangle X-Y-Z sharing node A via A-X.
    # 2-core: the path peels end-in (E, then D, then C, then B, then
    # A drops below 2 once X is its only neighbor... A-X also dies),
    # leaving exactly the triangle — a CASCADE needing several rounds.
    e = edges_df(
        spark,
        [
            ("A", "B"), ("B", "C"), ("C", "D"), ("D", "E"),
            ("X", "Y"), ("Y", "Z"), ("Z", "X"), ("A", "X"),
        ],
    )
    core = {r.id: r.core_degree for r in k_core(e, k=2).collect()}
    assert core == {"X": 2, "Y": 2, "Z": 2}


def test_k_core_empty_and_full(spark):
    from graphdb_for_drones_spark.operators.graph_algorithms import k_core

    tri = edges_df(spark, [("X", "Y"), ("Y", "Z"), ("Z", "X")])
    # k above the max degree → empty core
    assert k_core(tri, k=3).count() == 0
    # whole graph already a 2-core → survives intact (fixpoint round 0)
    core = {r.id: r.core_degree for r in k_core(tri, k=2).collect()}
    assert core == {"X": 2, "Y": 2, "Z": 2}


def test_k_core_parallel_edges_and_self_loops_collapse(spark):
    from graphdb_for_drones_spark.operators.graph_algorithms import k_core

    # degree counts DISTINCT neighbors: duplicates/reversed duplicates
    # and self-loops must not inflate it past k
    e = edges_df(
        spark,
        [("A", "B"), ("B", "A"), ("A", "B"), ("A", "A"), ("B", "B")],
    )
    assert k_core(e, k=2).count() == 0
    core = {r.id: r.core_degree for r in k_core(e, k=1).collect()}
    assert core == {"A": 1, "B": 1}


def _tedges(spark, triples):
    return spark.createDataFrame(
        triples, "src string, dst string, ts long"
    ).coalesce(1).localCheckpoint()


def test_temporal_reach_respects_time(spark):
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        temporal_reach,
    )

    # A->B at t=5; B->C departs at t=3 (BEFORE arrival at B) → C is NOT
    # reachable through it; B->D at t=7 is.
    e = _tedges(spark, [("A", "B", 5), ("B", "C", 3), ("B", "D", 7)])
    got = {r.id: (r.arrival, r.hops) for r in temporal_reach(e, "A", 3).collect()}
    assert got == {"B": (5, 1), "D": (7, 2)}


def test_temporal_reach_earliest_arrival_dominates(spark):
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        temporal_reach,
    )

    # two routes to B: direct at t=10, via X arriving t=4; the earlier
    # arrival opens the B->C edge at t=6 that the direct route misses
    e = _tedges(
        spark,
        [("A", "B", 10), ("A", "X", 2), ("X", "B", 4), ("B", "C", 6)],
    )
    got = {r.id: (r.arrival, r.hops) for r in temporal_reach(e, "A", 3).collect()}
    assert got["B"] == (4, 2)
    assert got["C"] == (6, 3)
    assert got["X"] == (2, 1)


def test_temporal_reach_hop_bound_and_tiebreak(spark):
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        temporal_reach,
    )

    e = _tedges(
        spark,
        [("A", "B", 1), ("B", "C", 2), ("C", "D", 3), ("A", "C", 2)],
    )
    got = {r.id: (r.arrival, r.hops) for r in temporal_reach(e, "A", 2).collect()}
    # C reachable at arrival 2 both via 1 hop (A->C) and 2 hops
    # (A->B->C): min hops at equal arrival
    assert got["C"] == (2, 1)
    # D rides the 2-hop A->C->D continuation (arrival 3)
    assert got["D"] == (3, 2)
    # with the hop bound at 1 only the direct neighbors remain
    got1 = {r.id: (r.arrival, r.hops) for r in temporal_reach(e, "A", 1).collect()}
    assert got1 == {"B": (1, 1), "C": (2, 1)}


def _py_k_core(pairs, k, max_rounds):
    """Reference peel with ``k_core``'s documented answer: the degree
    filter at k, then rounds until the survivor set stops changing; out
    of rounds, degrees within the last survivor set, unfiltered.  A node
    is listed only while one of its edges survives."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def degrees(alive):
        d = {u: sum(1 for v in adj[u] if v in alive) for u in alive}
        return {u: c for u, c in d.items() if c > 0}

    alive = {u for u, c in degrees(set(adj)).items() if c >= k}
    for _ in range(max_rounds):
        deg = degrees(alive)
        nxt = {u for u, c in deg.items() if c >= k}
        if nxt == alive:
            return {u: deg[u] for u in nxt}
        alive = nxt
    return degrees(alive)


def _random_kcore_cases(spark, budgets=False):
    """Seeded random canonical graphs across several densities, on
    string ids and on long ids, plus an empty edge list.  Each graph
    runs to the fixpoint (``max_rounds`` 64) for every k in 0..4; with
    ``budgets``, also with a ``max_rounds`` of 0 and of 1 for k in 2..3.
    Yields (label, edges, k, max_rounds, expected {id: core_degree})."""
    import random

    rng = random.Random(99)
    graphs = [(12, 18, "string"), (20, 40, "long"), (25, 90, "string"),
              (0, 0, "long")]
    runs = [(k, 64) for k in range(5)]
    if budgets:
        runs += [(k, r) for k in (2, 3) for r in (0, 1)]
    for trial, (n, m, ids) in enumerate(graphs):
        pairs = set()
        while len(pairs) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                pairs.add((min(a, b), max(a, b)))
        if ids == "string":
            pairs = {(f"n{a}", f"n{b}") for a, b in pairs}
        e = spark.createDataFrame(
            sorted(pairs), f"src {ids}, dst {ids}"
        ).coalesce(1).localCheckpoint()
        for k, max_rounds in runs:
            expect = _py_k_core(pairs, k, max_rounds)
            yield (trial, ids, k, max_rounds), e, k, max_rounds, expect


def test_k_core_matches_python_reference_on_random_graphs(spark, monkeypatch):
    """Differential: engine k-core vs a Python peel on seeded random
    graphs across several densities, id types, k values and round
    budgets, on the driver-side step (the default ``SMALL_GRAPH_EDGES``)
    and on the distributed loop (``SMALL_GRAPH_EDGES=0``).  Both paths
    give the same output schema too."""
    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    for label, e, k, rounds, expect in _random_kcore_cases(spark, budgets=True):
        driver = ga.k_core(e, k=k, max_rounds=rounds)
        with monkeypatch.context() as m:
            m.setattr(ga, "SMALL_GRAPH_EDGES", 0)
            loop = ga.k_core(e, k=k, max_rounds=rounds)
        assert driver.schema == loop.schema, label
        for out in (driver, loop):
            assert {r.id: r.core_degree for r in out.collect()} == expect, label


KNOBS = ["default", "collect_threshold_1", "no_pin"]


def _set_knob(monkeypatch, knob):
    """Apply a knob the answer must not depend on: ``collect_threshold_1``
    forces every settled state of two or more rows executor-side
    (``pin_state`` + count), ``no_pin`` disables ``_pin.pin``.  Returns
    the list ``pin_state`` calls append to under ``collect_threshold_1``."""
    from graphdb_for_drones_spark.operators import _pin

    pins = []
    if knob == "collect_threshold_1":
        monkeypatch.setattr(_pin, "COLLECT_THRESHOLD", 1)
        real_pin_state = _pin.pin_state
        monkeypatch.setattr(
            _pin, "pin_state", lambda df: pins.append(1) or real_pin_state(df)
        )
    elif knob == "no_pin":
        monkeypatch.setenv("SPARK_GRAFT_NO_PIN", "1")
    return pins


@pytest.mark.parametrize("knob", KNOBS[1:])
def test_k_core_answer_is_knob_independent(spark, monkeypatch, knob):
    """The same graphs as the differential test, on the distributed
    loop, with peel rounds forced executor-side (survivor collect
    threshold 1: every survivor set of two or more rows takes the
    pin_state + count branch) or with pinning disabled: the answer must
    not move."""
    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    pins = _set_knob(monkeypatch, knob)
    monkeypatch.setattr(ga, "SMALL_GRAPH_EDGES", 0)  # the loop's rounds
    for label, e, k, rounds, expect in _random_kcore_cases(spark):
        got = ga.k_core(e, k=k, max_rounds=rounds).collect()
        assert {r.id: r.core_degree for r in got} == expect, label
    if knob == "collect_threshold_1":
        assert pins  # the executor-side branch ran


def test_k_core_executor_side_state_cuts_lineage_unpinned(spark, monkeypatch):
    """Executor-side peel rounds with pinning disabled: a 20-node path
    at k=2 peels one node off each end per round (ten rounds).  Every
    round's survivor state must still be a materialized scan — an
    uncut state is read twice per round (one semi-join per endpoint),
    so round r's plan would hold 2^r copies of round 1."""
    from graphdb_for_drones_spark.operators import _pin
    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    monkeypatch.setattr(_pin, "COLLECT_THRESHOLD", 1)
    monkeypatch.setattr(ga, "SMALL_GRAPH_EDGES", 0)
    monkeypatch.setenv("SPARK_GRAFT_NO_PIN", "1")
    real_settle = ga.settle
    executor_side = []

    def checked(df, bound):
        out = real_settle(df, bound)
        if not out[2]:
            # checked as each round settles: an uncut plan fails here,
            # before later rounds grow it exponentially
            plan = out[0]._jdf.queryExecution().analyzed()
            assert plan.nodeName() == "LogicalRDD", plan.toString()
            executor_side.append(out[1])
        return out

    monkeypatch.setattr(ga, "settle", checked)
    e = edges_df(spark, [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(19)])
    assert ga.k_core(e, k=2).collect() == []
    assert executor_side == [18, 16, 14, 12, 10, 8, 6, 4, 2, 0]


def test_k_core_canonical_flag_gives_identical_answers(spark, monkeypatch):
    """On an already-canonical edge list (each undirected edge once, no
    self-loops, no parallel edges) ``canonical=True`` skips only the
    canonicalizing pass: both paths return the same core, on the
    driver-side step (the default ``SMALL_GRAPH_EDGES``) and on the
    distributed loop (``SMALL_GRAPH_EDGES=0``)."""
    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    for bound in (ga.SMALL_GRAPH_EDGES, 0):
        monkeypatch.setattr(ga, "SMALL_GRAPH_EDGES", bound)
        for label, e, k, rounds, expect in _random_kcore_cases(spark):
            fast = ga.k_core(e, k=k, max_rounds=rounds, canonical=True).collect()
            slow = ga.k_core(e, k=k, max_rounds=rounds).collect()
            fast, slow = ({r.id: r.core_degree for r in o} for o in (fast, slow))
            assert fast == slow == expect, (bound, label)


def test_k_core_max_rounds_exhaustion_returns_unfiltered_degrees(spark):
    """When ``max_rounds`` runs out before the fixpoint, the answer is
    every node of the last survivor set with its degree WITHIN that set,
    not filtered by k (pinned before the peel loop was ported)."""
    from graphdb_for_drones_spark.operators.graph_algorithms import k_core

    # the cascading-peel graph: the degree filter drops E, round 1 drops
    # D; C keeps its round-1 place but has one neighbor left
    e = edges_df(
        spark,
        [
            ("A", "B"), ("B", "C"), ("C", "D"), ("D", "E"),
            ("X", "Y"), ("Y", "Z"), ("Z", "X"), ("A", "X"),
        ],
    )
    core = {r.id: r.core_degree for r in k_core(e, k=2, max_rounds=1).collect()}
    assert core == {"A": 2, "B": 2, "C": 1, "X": 3, "Y": 2, "Z": 2}
    # no peel round at all: degrees within the degree-filtered set
    core0 = {r.id: r.core_degree for r in k_core(e, k=2, max_rounds=0).collect()}
    assert core0 == {"A": 2, "B": 2, "C": 2, "D": 1, "X": 3, "Y": 2, "Z": 2}


def test_k_core_pins_only_through_pin_policy(spark, monkeypatch):
    """Pin-policy guard: on a driver-sized graph, k_core materializes
    only through ``_pin.pin`` — no direct localCheckpoint, which would
    bypass the policy that is safe on a cluster."""
    import sys

    from graphdb_for_drones_spark.operators import _pin
    from graphdb_for_drones_spark.operators.graph_algorithms import k_core

    e = edges_df(
        spark,
        [
            ("A", "B"), ("B", "C"), ("C", "D"), ("D", "E"),
            ("X", "Y"), ("Y", "Z"), ("Z", "X"), ("A", "X"),
        ],
    )
    cls = type(e)
    real = cls.localCheckpoint
    bypass = []

    def counting(self, *args, **kwargs):
        f = sys._getframe(1)
        while f is not None and f.f_code is not _pin.pin.__code__:
            f = f.f_back
        if f is None:
            bypass.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    core = {r.id: r.core_degree for r in k_core(e, k=2).collect()}
    assert core == {"X": 2, "Y": 2, "Z": 2}
    assert bypass == []


def _leak_graph(spark, n):
    """A path n0..n{n-1} (edge i weighs 1 and departs at t=i) plus the
    triangle X-Y-Z, as (src, dst, w, ts) edges."""
    return spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}", 1, i) for i in range(n - 1)]
        + [("X", "Y", 1, 0), ("Y", "Z", 1, 0), ("Z", "X", 1, 0)],
        "src string, dst string, w long, ts long",
    ).coalesce(1).localCheckpoint()


def _leak_cases():
    """kernel -> (path length of the leak graph, call, answer reader,
    expected answer).  k_core peels the twenty-node path (for ten rounds
    on the loop); the other kernels run on an eight-node path."""
    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    path = {f"n{i}": "n0" for i in range(8)}
    tri = {"X": "X", "Y": "X", "Z": "X"}
    components = (
        8,
        ga.connected_components,
        lambda rows: {r.id: r.component for r in rows},
        {**path, **tri},
    )
    k_core = (
        20,
        lambda e: ga.k_core(e, k=2),
        lambda rows: {r.id: r.core_degree for r in rows},
        {"X": 2, "Y": 2, "Z": 2},
    )
    return {
        "k_core": k_core,
        "k_core_driver": k_core,
        "pagerank": (
            8,
            lambda e: ga.pagerank(e, iterations=3),
            lambda rows: {r.id for r in rows},
            set(path) | set(tri),
        ),
        # five iterations, so the mid-loop lineage cut runs
        "pagerank_fixed_point": (
            8,
            lambda e: ga.pagerank_fixed_point(e, iterations=5),
            lambda rows: {r.id for r in rows},
            set(path) | set(tri),
        ),
        "weighted_sssp": (
            8,
            lambda e: ga.weighted_sssp(e, "n0", rounds=3),
            lambda rows: {r.id: r.cost for r in rows},
            {"n0": 0, "n1": 1, "n2": 2, "n3": 3},
        ),
        "temporal_reach": (
            8,
            lambda e: ga.temporal_reach(e, "n0", max_hops=3),
            lambda rows: {r.id: (r.arrival, r.hops) for r in rows},
            {"n1": (0, 1), "n2": (1, 2), "n3": (2, 3)},
        ),
        "components_driver": components,
        "components_loop": components,
    }


@pytest.mark.parametrize("threshold", [None, 1])
@pytest.mark.parametrize(
    "kernel",
    [
        "k_core",
        "k_core_driver",
        "pagerank",
        "pagerank_fixed_point",
        "weighted_sssp",
        "temporal_reach",
        "components_driver",
        "components_loop",
    ],
)
def test_graph_loop_leaves_no_pinned_blocks(spark, monkeypatch, kernel, threshold):
    """Every state-carrying loop releases its edge pin and every
    replaced state: with the state driver-side it leaves no persisted
    RDD, executor-side (collect threshold 1) only the answer's own.
    The driver-side graph step (``k_core_driver``,
    ``components_driver``: numpy over one Arrow collect) is driver-side
    at either threshold; ``k_core`` and ``components_loop`` force the
    distributed loop (``SMALL_GRAPH_EDGES=0``)."""
    from graphdb_for_drones_spark.operators import _pin
    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    if threshold is not None:
        monkeypatch.setattr(_pin, "COLLECT_THRESHOLD", threshold)
    if kernel in ("k_core", "components_loop"):
        monkeypatch.setattr(ga, "SMALL_GRAPH_EDGES", 0)
    size, call, read, expect = _leak_cases()[kernel]
    e = _leak_graph(spark, size)

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    out = call(e)
    executor_side = threshold is not None and not kernel.endswith("_driver")
    assert len(persisted() - before) == (1 if executor_side else 0)
    assert read(out.collect()) == expect


@pytest.mark.parametrize("knob", KNOBS)
def test_temporal_reach_matches_python_reference_on_random_graphs(
    spark, monkeypatch, knob
):
    """Differential: engine earliest-arrival reachability vs a
    label-correcting Python reference on seeded random temporal
    graphs (multi-edges, cycles, duplicate timestamps), under each
    knob the answer must not depend on.  Each graph also runs on long
    ids (node ``n{k}`` is ``k``): the answer keeps the long type and
    maps back to the same rows."""
    import random

    from graphdb_for_drones_spark.operators.graph_algorithms import (
        temporal_reach,
    )

    pins = _set_knob(monkeypatch, knob)

    rng = random.Random(7)
    for trial in range(3):
        n, m, hops = [(10, 30, 3), (14, 60, 4), (8, 40, 2)][trial]
        triples = [
            (
                f"n{rng.randrange(n)}",
                f"n{rng.randrange(n)}",
                rng.randrange(1, 20),
            )
            for _ in range(m)
        ]
        triples = [(a, b, t) for a, b, t in triples if a != b]
        anchor = "n0"
        # reference: BFS layers keeping (node -> min arrival, hops of
        # the earliest-arrival path with min-hop tiebreak)
        best = {anchor: (-(1 << 62), 0)}
        frontier = {anchor: (-(1 << 62), 0)}
        for _ in range(hops):
            nxt = {}
            for a, b, t in triples:
                if a in frontier and t > frontier[a][0]:
                    cand = (t, frontier[a][1] + 1)
                    if b not in nxt or cand < nxt[b]:
                        nxt[b] = cand
            for node, cand in nxt.items():
                if node not in best or cand < best[node]:
                    best[node] = cand
            frontier = nxt
        expect = {
            node: v for node, v in best.items() if node != anchor
        }
        e = _tedges(spark, triples)
        got = {
            r.id: (r.arrival, r.hops)
            for r in temporal_reach(e, anchor, hops).collect()
        }
        assert got == expect, trial
        longs = spark.createDataFrame(
            [(int(a[1:]), int(b[1:]), t) for a, b, t in triples],
            "src long, dst long, ts long",
        ).localCheckpoint()
        out = temporal_reach(longs, 0, hops)
        assert out.schema["id"].dataType.simpleString() == "bigint"
        assert {f"n{r.id}": (r.arrival, r.hops) for r in out.collect()} == expect
    if knob == "collect_threshold_1":
        assert pins  # the executor-side branch ran


@pytest.mark.parametrize("knob", KNOBS)
def test_weighted_sssp_matches_python_bellman_ford(spark, monkeypatch, knob):
    """Differential: bounded-relaxation SSSP vs a python reference on
    random weighted digraphs (cycles, multi-edges, unreachable nodes),
    under each knob the answer must not depend on.  Each graph also
    runs on long ids (node ``nodes[k]`` is ``k``): the answer keeps the
    long type and maps back to the same costs."""
    import random

    from graphdb_for_drones_spark.operators.graph_algorithms import (
        weighted_sssp,
    )

    pins = _set_knob(monkeypatch, knob)

    rng = random.Random(7)
    nodes = list("abcdef")
    for trial in range(4):
        edges = [
            (rng.choice(nodes), rng.choice(nodes), rng.randint(1, 9))
            for _ in range(rng.randint(3, 14))
        ]
        rounds = 4
        df = spark.createDataFrame(
            edges, "src string, dst string, w long"
        ).localCheckpoint()
        got = {
            r.id: r.cost for r in weighted_sssp(df, "a", rounds=rounds).collect()
        }
        # reference: k rounds of relaxation
        best = {"a": 0}
        for _ in range(rounds):
            nxt = dict(best)
            for s, d, w in edges:
                if s in best and best[s] + w < nxt.get(d, 1 << 60):
                    nxt[d] = best[s] + w
            best = nxt
        assert got == best, (trial, edges)
        longs = spark.createDataFrame(
            [(nodes.index(s), nodes.index(d), w) for s, d, w in edges],
            "src long, dst long, w long",
        ).localCheckpoint()
        out = weighted_sssp(longs, 0, rounds=rounds)
        assert out.schema["id"].dataType.simpleString() == "bigint"
        assert {nodes[r.id]: r.cost for r in out.collect()} == best, (trial, edges)
    if knob == "collect_threshold_1":
        assert pins  # the executor-side branch ran


def test_weighted_sssp_exact_at_hop_diameter(spark):
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        weighted_sssp,
    )

    # chain with a costly shortcut: a->b->c->d (1+1+1) vs a->d (10)
    edges = [("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("a", "d", 10)]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {r.id: r.cost for r in weighted_sssp(df, "a", rounds=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}
    # with rounds=1 only the direct (costlier) edge is visible
    got1 = {r.id: r.cost for r in weighted_sssp(df, "a", rounds=1).collect()}
    assert got1["d"] == 10
