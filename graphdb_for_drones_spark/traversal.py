"""Iterative traversal kernel — the Spark-native replacement for the
reference's recursive SQL CTEs and Cypher variable-length paths.

The reference expresses traversal two ways and our engine must reproduce
BOTH semantics exactly (SURVEY.md §7.4-1):

* ``WITH RECURSIVE ... UNION ALL`` (PostgreSQL,
  demo_did_graph/common/bench_utils.py:9-34) enumerates *rows* — i.e.
  paths.  On a DAG with diamonds a node reached twice counts twice.
  → ``mode="path"``: no dedupe, per-level multiplicity preserved.

* Reachable-node-set questions (ABAC group membership via recursive
  ``UNION`` i.e. distinct, reference
  04_web_of_trust/benchmark_scenario_a.py:208-231) want each node once.
  → ``mode="node"``: per-level distinct + global visited anti-join
  (matches SQL recursive ``UNION`` semantics, terminates on cycles).

One BFS answers both: ``reachable_counts`` keeps a path counter per
(node, level) — ``cnt`` paths reach ``node`` at ``level`` — so the
frontier stays O(distinct nodes) even when the path count is
combinatorial.  Every other traversal answer is a projection of its
rows: ``reachable`` (the row per path), ``reachable_count``,
``path_count_to`` / ``path_count_to_mitm`` and
``graph_algorithms.trust_propagation``.

Execution model (designed for a 1000-executor cluster, tested on local):
one Spark job per level at most.  Levels run in the driver while the
frontier fits ``_pin.COLLECT_THRESHOLD`` (the frontier is a dict, each
level's plan is rooted at literal values + the edge scan: no lineage
growth, no checkpoints), then hand off to a distributed continuation in
which the frontier stays in executors, pinned eagerly per level with
``_pin.pin_state`` (materializes it, so the empty-frontier check is a
cheap job, and cuts lineage, which otherwise makes deep traversals
quadratic in planning time).  Both hop on ``expand``; a frontier under
``BROADCAST_THRESHOLD`` rows is broadcast, so the expansion is a
map-side join with no shuffle of the (huge) edge table.  Above it the
join falls back to shuffle hash/SMJ, where bucketing the edge table by
``src`` removes its shuffle side entirely.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_for_drones_spark.local_frame import local_rows
from graphdb_for_drones_spark.operators import _pin
from graphdb_for_drones_spark.operators._pin import pin_state

BROADCAST_THRESHOLD = 2_000_000  # frontier rows; ids are short strings
# frontier size worth inlining as an isin() predicate.  The literal IN
# list costs ~0.4 ms/element of driver-side plan build (py4j literal
# shipping + codegen), linear in frontier size, while the broadcast-join
# alternative is flat (~0.4 s Arrow frontier + one job) — measured
# crossover between 512 and 1024 on the sf1 customer-edge table (isin
# 0.33/0.55/1.83 s at 512/1024/4096 vs broadcast 0.43/0.43/0.40 s;
# round-9 sf1 sweep caught flat_chain_count paying 2.6 s on a 5.7k
# frontier under the old 10k threshold)
ISIN_THRESHOLD = 512
_FRONTIER = "node string, cnt long"


def expand(
    frontier: DataFrame, edges: DataFrame, broadcast_frontier: bool = True
) -> DataFrame:
    """One hop: frontier(node, ...) ⋈ edges(src,dst) → next frontier
    (node, ...), one row per edge, carrying the frontier's other columns
    (the path counter ``cnt``) along.

    The J1 edge-expansion join of the recursive member
    (``FROM delegation d JOIN chain c ON d.hq_id = c.drone_id``,
    reference common/bench_utils.py:26-30)."""
    f = F.broadcast(frontier) if broadcast_frontier else frontier
    carried = [f[c] for c in frontier.columns if c != "node"]
    return edges.join(f, edges["src"] == f["node"]).select(
        edges["dst"].alias("node"), *carried
    )


def _hop(frontier: DataFrame, edges: DataFrame, broadcast_frontier: bool) -> DataFrame:
    """Counter hop: the paths reaching each next node, summed executor-side."""
    return (
        expand(frontier, edges, broadcast_frontier)
        .groupBy("node")
        .agg(F.sum("cnt").alias("cnt"))
    )


def reachable(
    edges: DataFrame,
    seeds,
    max_depth: int,
    mode: str = "node",
    include_seed: bool = False,
) -> DataFrame:
    """Bounded BFS.  Returns DataFrame(node string, level int).

    mode="node": each node appears once, at its minimum level
      (recursive-CTE-with-UNION / reachability semantics).
    mode="path": one row per distinct path, so nodes repeat with
      multiplicity (recursive-CTE-with-UNION-ALL / Cypher path semantics).

    A projection of ``reachable_counts``: node mode drops the counter
    (always 1), path mode repeats each (node, level) row ``cnt`` times.
    Counting questions should sum ``cnt`` there instead of exploding."""
    counts = reachable_counts(edges, seeds, max_depth, mode, include_seed)
    if mode == "node":
        return counts.select("node", "level")
    return counts.select(
        "node", "level", F.explode(F.sequence(F.lit(1).cast("long"), "cnt"))
    ).drop("col")


def _seed_counts(seeds, mode: str):
    """Seeds → driver dict {node: path_count}, or None if a seed
    DataFrame holds more than ``COLLECT_THRESHOLD`` rows."""
    if isinstance(seeds, DataFrame):
        col = seeds.columns[0]
        rows = (
            seeds.select(F.col(col).cast("string").alias("node"))
            .limit(_pin.COLLECT_THRESHOLD + 1)
            .collect()
        )
        if len(rows) > _pin.COLLECT_THRESHOLD:
            return None
        it = (r.node for r in rows)
    else:
        it = (str(s) for s in seeds)
    counts: dict[str, int] = {}
    for n in it:
        counts[n] = 1 if mode == "node" else counts.get(n, 0) + 1
    return counts


def _next_level(edges: DataFrame, frontier: dict, adj: dict | None):
    """One driver-side level: the next ``{node: cnt}`` before the
    node-mode visited filter, or None when it outgrows
    ``COLLECT_THRESHOLD`` (hand off to the distributed continuation).
    The hop's (dst, cnt) pairs come from the collected adjacency
    ``adj``; else, for a frontier within ``ISIN_THRESHOLD``, from one
    map-only job (inlined isin predicate — it pushes below
    unions/aggregates into the scan, so derived edge tables only shuffle
    the reachable slice — and a raw (src, dst) collect, no join, no
    exchange); else from the broadcast frontier's hop aggregated
    executor-side."""
    pairs = None
    if adj is not None:
        pairs = [(d, c) for n, c in frontier.items() for d in adj.get(n, ())]
    elif len(frontier) <= ISIN_THRESHOLD:
        raw = (
            edges.filter(F.col("src").isin(list(frontier)))
            .limit(_pin.COLLECT_THRESHOLD + 1)
            .collect()
        )
        if len(raw) <= _pin.COLLECT_THRESHOLD:
            pairs = [(r.dst, frontier[r.src]) for r in raw]
    if pairs is None:
        fdf = local_rows(edges.sparkSession, sorted(frontier.items()), _FRONTIER)
        pairs = _hop(fdf, edges, True).limit(_pin.COLLECT_THRESHOLD + 1).collect()
        if len(pairs) > _pin.COLLECT_THRESHOLD:
            return None
    nxt: dict = {}
    for n, c in pairs:
        nxt[n] = nxt.get(n, 0) + c
    return nxt


def reachable_counts(
    edges: DataFrame,
    seeds,
    max_depth: int,
    mode: str = "path",
    include_seed: bool = False,
    collect_edges: bool = False,
) -> DataFrame:
    """Bounded BFS in the compact (node, level int, cnt long)
    representation: ``cnt`` is the number of distinct paths reaching
    ``node`` at ``level`` (always 1 in node mode).  The engine's one
    BFS; see the module docstring for the semantics.

    Where the LOOP state lives is chosen adaptively (all of it runs on a
    cluster; the edge data stays in executors except under
    ``collect_edges``, the traversal analogue of a broadcast join):

    1. driver levels (``_next_level``) while seeds and frontiers fit
       ``COLLECT_THRESHOLD``.  With ``collect_edges=True`` the caller
       asserts the edge table is dimension-sized (the reference's
       web-of-trust chain is 25 nodes, its ABAC subgroup chain
       likewise): one collect, then every level is a dict lookup —
       running N distributed jobs over a 25-row table is the wrong plan
       at any scale.
    2. the distributed continuation, once a frontier (or a seed
       DataFrame) outgrows ``COLLECT_THRESHOLD``: the frontier stays in
       executors; the driver only sees counts.
    """
    if mode not in ("node", "path"):
        raise ValueError(f"mode must be 'node' or 'path', got {mode!r}")
    spark = edges.sparkSession
    # string ids throughout: driver frontiers are keyed by the seeds'
    # str() (a no-op cast on the usual string-typed edges)
    edges = edges.select(*(F.col(c).cast("string").alias(c) for c in ("src", "dst")))
    out_schema = "node string, level int, cnt long"

    frontier = _seed_counts(seeds, mode)
    adj = None
    if collect_edges and frontier is not None:
        adj = {}
        for r in edges.collect():
            adj.setdefault(r.src, []).append(r.dst)
    driver_rows: list = []
    visited = set(frontier or ())  # node mode only
    if frontier is not None and include_seed:
        driver_rows += [(n, 0, c) for n, c in sorted(frontier.items())]
    lvl = 1
    while frontier and lvl <= max_depth:
        nxt = _next_level(edges, frontier, adj)
        if nxt is None:
            break
        if mode == "node":
            nxt = {n: 1 for n in nxt if n not in visited}
            visited |= set(nxt)
        driver_rows += [(n, lvl, c) for n, c in sorted(nxt.items())]
        frontier, lvl = nxt, lvl + 1
    if frontier is not None and (not frontier or lvl > max_depth):
        return local_rows(spark, driver_rows, out_schema)

    # distributed continuation (one job per level, eager pin_state,
    # broadcast frontier under threshold — see the module docstring);
    # every level re-reads the edges, so they are pinned lazily (the
    # first level's join materializes them) and released at the end
    edges = _pin.pin(edges, eager=False)
    parts = [local_rows(spark, driver_rows, out_schema)]
    if frontier is not None:
        f_df = local_rows(spark, sorted(frontier.items()), _FRONTIER)
    else:
        # seeds DataFrame too large for driver coordination: the frontier
        # starts (and stays) executor-side
        col = seeds.columns[0]
        f_df = seeds.select(F.col(col).cast("string").alias("node")).groupBy(
            "node"
        ).agg((F.count(F.lit(1)) if mode == "path" else F.lit(1)).alias("cnt"))
    f_df = pin_state(f_df)  # loop state, even when seeded from local rows
    if frontier is None and include_seed:
        # level-0 rows for distributed seeds (driver-held seeds put
        # theirs into driver_rows above)
        parts.append(
            f_df.select("node", F.lit(0).alias("level"), F.col("cnt").cast("long"))
        )
    visited_df = None
    if mode == "node":
        visited_df = local_rows(spark, [(n,) for n in sorted(visited)], "node string")
        if frontier is None:
            # distributed seeds never entered the driver `visited` set; mark
            # them so a cycle back to a seed is not re-reported at level>=1
            visited_df = visited_df.unionByName(f_df.select("node"))
    for dl in range(lvl, max_depth + 1):
        n = f_df.count()
        if n == 0:
            break
        nxt = _hop(f_df, edges, n <= BROADCAST_THRESHOLD)
        if mode == "node":
            nxt = nxt.select("node", F.lit(1).alias("cnt")).join(
                visited_df, "node", "left_anti"
            )
        nxt = pin_state(nxt)
        if mode == "node":
            visited_df = visited_df.unionByName(nxt.select("node"))
        parts.append(
            nxt.select("node", F.lit(dl).alias("level"), F.col("cnt").cast("long"))
        )
        f_df = nxt
    _pin.release(edges)
    return reduce(DataFrame.unionByName, parts)


def reachable_count(edges: DataFrame, seeds, max_depth: int, mode: str = "node") -> int:
    """A1 scalar count over the chain CTE
    (``SELECT COUNT(*) FROM chain``, reference common/bench_utils.py:32):
    the sum of the path counters, never the exploded path rows."""
    total = reachable_counts(edges, seeds, max_depth, mode).agg(F.sum("cnt"))
    return total.first()[0] or 0


def path_count_to(
    edges: DataFrame,
    seeds,
    target: str,
    max_len: int,
    collect_edges: bool = False,
) -> DataFrame:
    """Count paths of length 1..max_len from seeds to a fixed target —
    the web-of-trust J9 query
    (``MATCH path=(c)-[:CROSSED_SIGNED*1..L]->(a {did:anchor})
    RETURN count(path)``,
    reference 04_web_of_trust/benchmark_scenario_c.py:131-137).

    Path multiplicity matters: returns one-row DataFrame(path_count long).
    Runs in the counter representation — the path count is a sum of per-
    node multiplicities, never a materialized path list."""
    counts = reachable_counts(
        edges, seeds, max_len, mode="path", collect_edges=collect_edges
    )
    return counts.filter(F.col("node") == target).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("path_count")
    )


def path_count_to_mitm(
    edges: DataFrame,
    seeds,
    target: str,
    max_len: int,
    collect_edges: bool = False,
) -> DataFrame:
    """Meet-in-the-middle variant of ``path_count_to``: expand forward
    from the seeds to depth ⌈L/2⌉ and BACKWARD from the anchor (over
    reversed edges) to depth L−⌈L/2⌉, then join the two count tables at
    the meeting position.  A length-t path is split at the unique node
    at position h(t)=min(t, H) from the seed, so each path is counted
    exactly once: paths(t) = Σ_node fwd(node, h) · bwd(node, t−h).

    Halves the number of SEQUENTIAL expansion rounds — the dominant cost
    of deep anchored traversals, where each level is a driver-coordinated
    or distributed job barrier.  Same result as ``path_count_to``."""
    spark = edges.sparkSession
    half = (max_len + 1) // 2
    fwd = reachable_counts(
        edges, seeds, half, mode="path", include_seed=True,
        collect_edges=collect_edges,
    ).select(
        F.col("node"), F.col("level").alias("lf"), F.col("cnt").alias("cf")
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = reachable_counts(
        rev, [target], max_len - half, mode="path", include_seed=True,
        collect_edges=collect_edges,
    ).select(
        F.col("node"), F.col("level").alias("lb"), F.col("cnt").alias("cb")
    )
    combos = local_rows(
        spark,
        sorted({(min(t, half), t - min(t, half)) for t in range(1, max_len + 1)}),
        "lf int, lb int",
    )
    joined = fwd.join(bwd, "node").join(F.broadcast(combos), ["lf", "lb"])
    return joined.agg(
        F.coalesce(F.sum(F.col("cf") * F.col("cb")), F.lit(0))
        .cast("long")
        .alias("path_count")
    )


def reachable_via_labels(
    graph,
    seed_id: str,
    edge_label: str,
    max_depth: int,
    target_vlabel: str | None = None,
    mode: str = "node",
) -> DataFrame:
    """Cypher-shaped entry: ``MATCH (x {id:seed})-[:LABEL*1..d]->(t:TLabel)``
    (reference 01_multi_layer/benchmark_scenario_c.py:47-53).
    Returns (node, level) optionally restricted to a target vertex label.
    The label restriction is a plain join — AQE picks broadcast vs shuffle
    based on the label table's actual size."""
    hops = reachable(graph.out_edges(edge_label), [seed_id], max_depth, mode=mode)
    if target_vlabel is None:
        return hops
    tgt = graph.vlabel(target_vlabel).select(F.col("id").alias("node"))
    return hops.join(tgt, "node")
