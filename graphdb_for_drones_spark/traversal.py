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

Execution model (designed for a 1000-executor cluster, tested on local):
one Spark job per level; the driver only controls the loop — all data
movement is executor-side joins.  Per level:

* the new frontier is pinned eagerly with ``_pin.pin_state``: this
  materializes it (so the loop's empty-frontier early-exit count is a
  cheap job over materialized blocks) AND truncates lineage, which
  otherwise makes deep traversals quadratic in planning time.  On a
  non-local master with a checkpoint dir the policy takes a reliable
  checkpoint instead — same plan shape.
* frontiers under ``broadcast_threshold`` rows are broadcast so the
  expansion is a map-side join — no shuffle of the (huge) edge table.
  Above the threshold the join falls back to shuffle hash/SMJ, where
  bucketing the edge table by ``src`` removes its shuffle side entirely.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphdb_for_drones_spark.operators._pin import pin_state

BROADCAST_THRESHOLD = 2_000_000  # frontier rows; ids are short strings


def _as_seed_df(edges: DataFrame, seeds) -> DataFrame:
    if isinstance(seeds, DataFrame):
        col = seeds.columns[0]
        return seeds.select(F.col(col).cast("string").alias("node"))
    spark = edges.sparkSession
    return _local_df(spark, [(str(s),) for s in seeds], "node string")


def expand(
    frontier: DataFrame, edges: DataFrame, broadcast_frontier: bool = True
) -> DataFrame:
    """One hop: frontier(node) ⋈ edges(src,dst) → next frontier(node).

    The J1 edge-expansion join of the recursive member
    (``FROM delegation d JOIN chain c ON d.hq_id = c.drone_id``,
    reference common/bench_utils.py:26-30)."""
    f = F.broadcast(frontier) if broadcast_frontier else frontier
    return edges.join(f, edges["src"] == f["node"]).select(
        edges["dst"].alias("node")
    )


def reachable(
    edges: DataFrame,
    seeds,
    max_depth: int,
    mode: str = "node",
    include_seed: bool = False,
    broadcast_threshold: int = BROADCAST_THRESHOLD,
    cache_edges: bool = True,
) -> DataFrame:
    """Bounded BFS.  Returns DataFrame(node string, level int).

    mode="node": each node appears once, at its minimum level
      (recursive-CTE-with-UNION / reachability semantics).
    mode="path": one row per distinct path, so nodes repeat with
      multiplicity (recursive-CTE-with-UNION-ALL / Cypher path semantics).
    """
    if mode not in ("node", "path"):
        raise ValueError(f"mode must be 'node' or 'path', got {mode!r}")
    edges = edges.select("src", "dst")
    if cache_edges:
        # the loop scans edges once per level; persist so the (possibly
        # expensive) edge derivation runs once.  MEMORY_AND_DISK default:
        # spills rather than OOMs on huge edge tables; pass
        # cache_edges=False when the caller manages caching or a single
        # scan is cheaper than materialization.
        edges = edges.persist()
    seed_df = _as_seed_df(edges, seeds)

    frontier = pin_state(seed_df.distinct() if mode == "node" else seed_df)
    visited = frontier  # node-set mode only
    levels: list[DataFrame] = []
    if include_seed:
        levels.append(frontier.select("node", F.lit(0).alias("level")))

    for lvl in range(1, max_depth + 1):
        n = frontier.count()  # cheap: frontier is checkpointed blocks
        if n == 0:
            break
        nxt = expand(frontier, edges, broadcast_frontier=n <= broadcast_threshold)
        if mode == "node":
            nxt = nxt.distinct().join(visited, "node", "left_anti")
        nxt = pin_state(nxt)  # eager: materialize + cut lineage
        # (sparse checkpointing re-executes the un-materialized segment for
        # every count/broadcast build — measured quadratic; eager-per-level
        # is strictly faster)
        if mode == "node":
            visited = visited.unionByName(nxt)
        levels.append(nxt.select("node", F.lit(lvl).alias("level")))
        frontier = nxt

    if cache_edges:
        # safe: every level is an eager pin_state, so the result no
        # longer references the edge lineage
        edges.unpersist()
    if not levels:
        spark = edges.sparkSession
        return spark.createDataFrame([], "node string, level int")
    return reduce(DataFrame.unionByName, levels)


COLLECT_THRESHOLD = 200_000  # frontier rows the driver will coordinate
# frontier size worth inlining as an isin() predicate.  The literal IN
# list costs ~0.4 ms/element of driver-side plan build (py4j literal
# shipping + codegen), linear in frontier size, while the broadcast-join
# alternative is flat (~0.4 s Arrow frontier + one job) — measured
# crossover between 512 and 1024 on the sf1 customer-edge table (isin
# 0.33/0.55/1.83 s at 512/1024/4096 vs broadcast 0.43/0.43/0.40 s;
# round-9 sf1 sweep caught flat_chain_count paying 2.6 s on a 5.7k
# frontier under the old 10k threshold)
ISIN_THRESHOLD = 512


def _local_df(spark, rows, schema) -> DataFrame:
    """Local rows → DataFrame via the Arrow path (pandas input): the
    plain tuple path is Python-RDD-backed, so every downstream scan
    respawns Python workers — measured ~2.4× slower per consuming query
    on a 3 k-row frontier (and a single materialization of a tuple-backed
    frame pays one worker spawn PER PARTITION — profiled as 32-task
    zero-JVM-CPU stages inside the iterative kernels).  ``schema`` is a
    DDL string or a StructType."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd

    if isinstance(schema, str):
        cols = [f.strip().split()[0] for f in schema.split(",")]
    else:
        cols = list(schema.fieldNames())
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema=schema)


def _seed_counts(edges: DataFrame, seeds, mode: str, collect_threshold: int):
    """Seeds → driver dict {node: path_count}, or None if too large."""
    if isinstance(seeds, DataFrame):
        col = seeds.columns[0]
        rows = (
            seeds.select(F.col(col).cast("string").alias("node"))
            .limit(collect_threshold + 1)
            .collect()
        )
        if len(rows) > collect_threshold:
            return None
        it = (r.node for r in rows)
    else:
        it = (str(s) for s in seeds)
    counts: dict[str, int] = {}
    for n in it:
        counts[n] = 1 if mode == "node" else counts.get(n, 0) + 1
    return counts


def reachable_counts(
    edges: DataFrame,
    seeds,
    max_depth: int,
    mode: str = "path",
    include_seed: bool = False,
    collect_edges: bool = False,
    collect_threshold: int = COLLECT_THRESHOLD,
    isin_threshold: int = ISIN_THRESHOLD,
) -> DataFrame:
    """Bounded BFS in the compact (node, level, cnt) representation:
    ``cnt`` is the number of distinct paths reaching ``node`` at ``level``
    (always 1 in node mode).  Semantically equal to ``reachable`` with
    path rows aggregated — but the frontier stays O(distinct nodes) even
    when the path count is combinatorial, which is what makes deep DAG
    traversals tractable (path rows explode, counters don't).

    Execution strategy, chosen adaptively (all three run on a cluster;
    the difference is where the LOOP state lives, never where the edge
    data lives — except (1), which is the traversal analogue of a
    broadcast join):

    1. ``collect_edges=True`` — the caller asserts the edge table is
       dimension-sized (the reference's web-of-trust chain is 25 nodes,
       its ABAC subgroup chain likewise).  One collect, pure-driver BFS,
       one createDataFrame.  Running N distributed jobs over a 25-row
       table is the wrong plan at any scale.
    2. driver-coordinated frontier (default): the frontier dict lives in
       the driver; each level is ONE job — edges filtered by an inlined
       ``isin`` predicate on the frontier (pushed below distincts/unions
       into the scan) joined to the broadcast frontier literal, grouped
       by dst.  No lineage growth, no checkpoints, no caching needed:
       every level's plan is rooted at literal values + the edge scan.
    3. fully distributed: when a frontier outgrows ``collect_threshold``
       the loop switches to the checkpointing kernel (frontier stays in
       executors); driver only sees counts.
    """
    if mode not in ("node", "path"):
        raise ValueError(f"mode must be 'node' or 'path', got {mode!r}")
    spark = edges.sparkSession
    edges = edges.select("src", "dst")
    out_schema = "node string, level int, cnt long"

    if collect_edges:
        frontier = _seed_counts(edges, seeds, mode, collect_threshold)
        if frontier is None:
            raise ValueError("collect_edges=True requires driver-sized seeds")
        adj: dict[str, list[str]] = {}
        for r in edges.collect():
            adj.setdefault(r.src, []).append(r.dst)
        rows, visited = [], set(frontier)
        if include_seed:
            rows += [(n, 0, c) for n, c in sorted(frontier.items())]
        for lvl in range(1, max_depth + 1):
            nxt: dict[str, int] = {}
            for n, c in frontier.items():
                for d in adj.get(n, ()):
                    nxt[d] = nxt.get(d, 0) + c
            if mode == "node":
                nxt = {n: 1 for n in nxt if n not in visited}
                visited |= set(nxt)
            if not nxt:
                break
            rows += [(n, lvl, c) for n, c in sorted(nxt.items())]
            frontier = nxt
        return _local_df(spark, rows, out_schema)

    frontier = _seed_counts(edges, seeds, mode, collect_threshold)
    local_rows: list = []
    visited: set = set(frontier) if (frontier is not None and mode == "node") else set()
    if frontier is not None and include_seed:
        local_rows += [(n, 0, c) for n, c in sorted(frontier.items())]
    lvl = 1
    while frontier is not None and lvl <= max_depth:
        if not frontier:
            return _local_df(spark, local_rows, out_schema)
        nxt = None
        if len(frontier) <= isin_threshold:
            # single map-only job: inlined isin predicate (pushes below
            # unions/aggregates into the scan, so derived edge tables only
            # shuffle the reachable slice) + raw (src,dst) collect; the
            # counter fold happens in the driver — no join, no exchange
            raw = (
                edges.filter(F.col("src").isin(list(frontier)))
                .limit(collect_threshold + 1)
                .collect()
            )
            if len(raw) <= collect_threshold:
                nxt = {}
                for r in raw:
                    c = frontier.get(r.src)
                    if c is not None:
                        nxt[r.dst] = nxt.get(r.dst, 0) + c
        if nxt is None:
            # frontier too wide to inline (or raw expansion too big to
            # fold in the driver): aggregate executor-side first
            fdf = F.broadcast(
                _local_df(
                    spark, sorted(frontier.items()), "node string, cnt long"
                )
            )
            nxt_df = (
                edges.join(fdf, edges["src"] == fdf["node"])
                .groupBy(edges["dst"])
                .agg(F.sum("cnt").alias("cnt"))
            )
            rows = nxt_df.limit(collect_threshold + 1).collect()
            if len(rows) > collect_threshold:
                frontier = None  # fall through to the distributed kernel
                break
            nxt = {r.dst: r.cnt for r in rows}
        if mode == "node":
            nxt = {n: 1 for n in nxt if n not in visited}
            visited |= set(nxt)
        if not nxt:
            return _local_df(spark, local_rows, out_schema)
        local_rows += [(n, lvl, c) for n, c in sorted(nxt.items())]
        frontier = nxt
        lvl += 1
    if frontier is not None:  # completed within driver coordination
        return _local_df(spark, local_rows, out_schema)

    # distributed continuation: counts-typed variant of the checkpointing
    # kernel (one job per level, eager pin_state, broadcast frontier
    # under threshold — see `reachable` for the measured rationale)
    edges = edges.persist()
    seeded_from_df = False
    if local_rows or not isinstance(seeds, DataFrame):
        f_df = _local_df(
            spark,
            [(n, c) for n, l, c in local_rows if l == lvl - 1]
            if local_rows
            else [(str(s), 1) for s in seeds],
            "node string, cnt long",
        )
    else:
        # seeds DataFrame too large for driver coordination: the frontier
        # starts (and stays) executor-side
        col = seeds.columns[0]
        f_df = seeds.select(F.col(col).cast("string").alias("node")).groupBy(
            "node"
        ).agg((F.count(F.lit(1)) if mode == "path" else F.lit(1)).alias("cnt"))
        seeded_from_df = True
    f_df = pin_state(f_df)  # loop state, even when seeded from local rows
    parts = [_local_df(spark, local_rows, out_schema)]
    if seeded_from_df and include_seed:
        # level-0 rows for distributed seeds (driver-coordinated seeds put
        # theirs into local_rows above)
        parts.append(
            f_df.select("node", F.lit(0).alias("level"), F.col("cnt").cast("long"))
        )
    visited_df = None
    if mode == "node":
        visited_df = _local_df(spark, [(n,) for n in sorted(visited)], "node string")
        if seeded_from_df:
            # distributed seeds never entered the driver `visited` set; mark
            # them so a cycle back to a seed is not re-reported at level>=1
            visited_df = visited_df.unionByName(f_df.select("node"))
    for dl in range(lvl, max_depth + 1):
        n = f_df.count()
        if n == 0:
            break
        f = F.broadcast(f_df) if n <= BROADCAST_THRESHOLD else f_df
        nxt = (
            edges.join(f, edges["src"] == f["node"])
            .groupBy(edges["dst"].alias("node"))
            .agg(F.sum("cnt").alias("cnt"))
        )
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
    edges.unpersist()
    return reduce(DataFrame.unionByName, parts)


def reachable_count(edges: DataFrame, seeds, max_depth: int, mode: str = "node") -> int:
    """A1 scalar count over the chain CTE
    (``SELECT COUNT(*) FROM chain``, reference common/bench_utils.py:32)."""
    return reachable(edges, seeds, max_depth, mode=mode).count()


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
    combos = _local_df(
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
