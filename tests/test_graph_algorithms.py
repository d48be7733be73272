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


def test_connected_components_driver_vs_distributed_identical(spark):
    # forest: chain 0-1-2-3, pair 10-11, isolated-by-edge 20-21, triangle 30-31-32
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (30, 31), (31, 32), (30, 32)]
    e = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    ).localCheckpoint()
    via_driver = {
        (r.id, r.component)
        for r in connected_components(e).collect()  # small: driver path
    }
    via_loop = {
        (r.id, r.component)
        for r in connected_components(e, small_graph_edges=0).collect()
    }
    assert via_driver == via_loop
    comp = dict(via_driver)
    assert comp["3"] == "0" and comp["11"] == "10" and comp["32"] == "30"


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


def test_trust_propagation_fixed_depth_equals_early_exit(spark):
    # both modes must produce identical (id, trust) sets — max over
    # paths is monotone and idempotent, so skipping the convergence
    # machinery cannot change the fixpoint within the depth budget
    pairs = [(f"n{i}", f"n{(i * 3 + 1) % 20}") for i in range(40)]
    e = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src string, dst string"
    ).localCheckpoint()
    a = sorted(
        (r.id, r.trust)
        for r in trust_propagation(e, "n0", decay=0.5, max_depth=4).collect()
    )
    b = sorted(
        (r.id, r.trust)
        for r in trust_propagation(
            e, "n0", decay=0.5, max_depth=4, early_exit=False
        ).collect()
    )
    assert a == b


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


def _random_kcore_cases(spark):
    """Seeded random canonical graphs across several densities, with
    the brute-force peeled k-core for k in 2..4: yields (label, edges,
    k, expected {id: core_degree})."""
    import random

    rng = random.Random(99)
    for trial, (n, m) in enumerate([(12, 18), (20, 40), (25, 90)]):
        pairs = set()
        while len(pairs) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                pairs.add((f"n{min(a,b)}", f"n{max(a,b)}"))
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        e = edges_df(spark, sorted(pairs))
        for k in (2, 3, 4):
            alive = set(adj)
            while True:
                nxt = {
                    u for u in alive
                    if sum(1 for v in adj[u] if v in alive) >= k
                }
                if nxt == alive:
                    break
                alive = nxt
            # brute-force peel keeps isolated survivors only if deg>=k,
            # so every surviving node has core_degree >= k > 0
            expect = {
                u: sum(1 for v in adj[u] if v in alive)
                for u in alive
                if sum(1 for v in adj[u] if v in alive) > 0
            }
            yield (trial, k), e, k, expect


def test_k_core_matches_python_reference_on_random_graphs(spark):
    """Differential: engine k-core vs brute-force peeling on seeded
    random graphs across several densities and k values."""
    from graphdb_for_drones_spark.operators.graph_algorithms import k_core

    for label, e, k, expect in _random_kcore_cases(spark):
        got = {r.id: r.core_degree for r in k_core(e, k=k).collect()}
        assert got == expect, label


@pytest.mark.parametrize("knob", ["collect_threshold_1", "no_pin"])
def test_k_core_answer_is_knob_independent(spark, monkeypatch, knob):
    """The same graphs as the differential test, with peel rounds
    forced executor-side (survivor collect threshold 1: every survivor
    set of two or more rows takes the pin_state + count branch) or with
    pinning disabled: the answer must not move."""
    from graphdb_for_drones_spark import traversal
    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    pins = []
    if knob == "collect_threshold_1":
        monkeypatch.setattr(traversal, "COLLECT_THRESHOLD", 1)
        real_pin_state = ga.pin_state
        monkeypatch.setattr(
            ga, "pin_state", lambda df: pins.append(1) or real_pin_state(df)
        )
    else:
        monkeypatch.setenv("SPARK_GRAFT_NO_PIN", "1")
    for label, e, k, expect in _random_kcore_cases(spark):
        got = {r.id: r.core_degree for r in ga.k_core(e, k=k).collect()}
        assert got == expect, label
    if knob == "collect_threshold_1":
        assert pins  # the executor-side branch ran


def test_k_core_executor_side_state_cuts_lineage_unpinned(spark, monkeypatch):
    """Executor-side peel rounds with pinning disabled: a 20-node path
    at k=2 peels one node off each end per round (ten rounds).  Every
    round's survivor state must still be a materialized scan — an
    uncut state is read twice per round (one semi-join per endpoint),
    so round r's plan would hold 2^r copies of round 1."""
    from graphdb_for_drones_spark import traversal
    from graphdb_for_drones_spark.operators import graph_algorithms as ga

    monkeypatch.setattr(traversal, "COLLECT_THRESHOLD", 1)
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


def test_k_core_canonical_flag_gives_identical_answers(spark):
    """On an already-canonical edge list (each undirected edge once, no
    self-loops, no parallel edges) ``canonical=True`` skips only the
    canonicalizing pass: both paths return the same core."""
    from graphdb_for_drones_spark.operators.graph_algorithms import k_core

    for label, e, k, expect in _random_kcore_cases(spark):
        fast = {
            r.id: r.core_degree for r in k_core(e, k=k, canonical=True).collect()
        }
        slow = {r.id: r.core_degree for r in k_core(e, k=k).collect()}
        assert fast == slow == expect, label


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


def test_temporal_reach_matches_python_reference_on_random_graphs(spark):
    """Differential: engine earliest-arrival reachability vs a
    label-correcting Python reference on seeded random temporal
    graphs (multi-edges, cycles, duplicate timestamps)."""
    import random

    from graphdb_for_drones_spark.operators.graph_algorithms import (
        temporal_reach,
    )

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


def test_weighted_sssp_matches_python_bellman_ford(spark):
    """Differential: bounded-relaxation SSSP vs a python reference on
    random weighted digraphs (cycles, multi-edges, unreachable nodes)."""
    import random

    from graphdb_for_drones_spark.operators.graph_algorithms import (
        weighted_sssp,
    )

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
