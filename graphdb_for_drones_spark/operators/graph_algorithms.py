"""Analytics graph algorithms in aggregateMessages style — message
passing expressed as join + groupBy (the DataFrame translation of
GraphX's aggregateMessages; PySpark has no GraphX bindings, and the
join/agg form lets Catalyst fuse/optimize each superstep).

These serve the reference's web-of-trust analytics surface: trust
propagation over CROSSED_SIGNED edges
(04_web_of_trust/setup_scenario_c.py:75-101), component analysis of the
delegation fabric, and degree centrality of issuers.

Scale notes: each superstep is one shuffle keyed on dst (message
aggregation).  Supersteps materialize per iteration to cut lineage;
``settle`` (used by ``k_core``) keeps driver-sized outputs as local
frames and pins larger ones through ``_pin.pin_state``.  For billion-edge
graphs, pre-partition edges by dst so the per-iteration shuffle
degenerates to a local combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphdb_for_drones_spark import traversal
from graphdb_for_drones_spark.operators._pin import pin, pin_state


def degrees(edges: DataFrame) -> DataFrame:
    """In/out degree per node — issuer fan-out, signer fan-in."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "id", "full_outer")
        .fillna(0, ["out_degree", "in_degree"])
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    cache_edges: bool = True,
) -> DataFrame:
    """Standard PageRank, one superstep per iteration:
    contribution = rank/out_degree flows along edges; new rank =
    (1-d) + d * Σ incoming.  Returns (id, rank) — un-normalized
    GraphX-convention ranks (sum ≈ N)."""
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    if cache_edges:
        edges = edges.select("src", "dst").persist()
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ranks = verts.withColumn("rank", F.lit(1.0))
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["id"])
            .join(out_deg, ranks["id"] == out_deg["id"])
            .select(
                edges["dst"].alias("id"),
                (F.col("rank") / F.col("deg")).alias("contrib"),
            )
        )
        summed = contribs.groupBy("id").agg(F.sum("contrib").alias("s"))
        ranks = (
            verts.join(summed, "id", "left")
            .select(
                "id",
                (
                    F.lit(1 - damping)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    if cache_edges:
        edges.unpersist()
    return ranks


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 10**12,
    cache_edges: bool = True,
) -> DataFrame:
    """PageRank in FIXED-POINT INTEGER arithmetic — the hash-checkable
    twin of :func:`pagerank`.

    Floating-point PageRank is reduction-order-dependent (the per-node
    Σ of double contributions changes with partitioning), so it can
    only ever be a rows-only catalog entry.  This variant keeps every
    step exact on BIGINTs: ranks live in units of ``1/scale``
    (``rank_fp = scale`` ≡ rank 1.0), the damping factor is the
    rational ``damping_num/damping_den`` (default 17/20 = 0.85), and
    each superstep computes

        contrib  = rank_fp div out_degree            (floor, exact)
        rank_fp' = (scale·(den-num)) div den
                   + (num · Σ incoming contrib) div den

    Integer sums are associative-commutative, so the result is
    bit-identical on any partitioning AND on any other engine — a SQL
    twin unrolls the same ``iterations`` stages as CTEs and the driver
    gate hash-checks an *iterative graph algorithm* end to end.

    Overflow bound: ``damping_num · (per-node incoming Σ)`` must stay
    under 2^63.  Incoming Σ is at most the total mass ``N·scale`` (star
    graph), so pick ``scale ≲ 2^62 / (damping_num · N)`` — the default
    1e12 is safe past 500k nodes; a billion-node corpus graph drops to
    scale=1e8 and keeps 8 fractional digits.  Dangling mass is dropped,
    matching :func:`pagerank` (GraphX convention, sum ≲ N).

    Plan shape per superstep: one equi join rank→edges on ``src`` (both
    sides pre-partitionable on src), one shuffle keyed on ``dst`` for
    the partial-aggregated Σ — identical to the double path.

    Returns (id, rank_fp long, rank double) where ``rank`` is the single
    IEEE division ``rank_fp / scale`` (exact-input, engine-stable).
    """
    if scale % damping_den != 0:  # keeps the base term exact
        raise ValueError(f"scale must be divisible by {damping_den}")
    from pyspark.sql.window import Window

    # out-degree as an unbounded COUNT window over src (the
    # count-per-key lesson: one shuffle, no groupBy + join-back), and
    # the degree-annotated edge list materialized ONCE — it is static
    # across supersteps, so each iteration is left with exactly one
    # join (rank → edges on src) and one partial-aggregated Σ on dst
    deg_edges = edges.select(
        "src",
        "dst",
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
    )
    if cache_edges:
        deg_edges = deg_edges.localCheckpoint()
    verts = (
        deg_edges.select(F.col("src").alias("id"))
        .unionByName(deg_edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    base = (scale * (damping_den - damping_num)) // damping_den
    ranks = verts.withColumn("rank_fp", F.lit(scale).cast("long"))
    for i in range(iterations):
        contribs = deg_edges.join(ranks, deg_edges["src"] == ranks["id"]).select(
            deg_edges["dst"].alias("id"),
            F.expr("rank_fp div deg").alias("contrib"),
        )
        summed = contribs.groupBy("id").agg(F.sum("contrib").alias("s"))
        ranks = verts.join(summed, "id", "left").select(
            "id",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"({damping_num} * coalesce(s, 0L)) div {damping_den}"
                )
            ).alias("rank_fp"),
        )
        # lineage cut every few supersteps, not every one: a shallow
        # unrolled plan compiles into one job; eager per-iteration
        # checkpoints dominate wall-clock on dimension-sized graphs
        if (i + 1) % 4 == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "id",
        "rank_fp",
        (F.col("rank_fp") / F.lit(float(scale))).alias("rank"),
    )


# edge sets at or below this size resolve driver-side: near-dup pair
# graphs are usually dimension-sized (pairs above a high threshold),
# and a union-find over one collect beats O(diameter) Spark supersteps
# whose per-iteration job overhead dominates tiny graphs.  Same
# threshold-guarded adaptive pattern as the traversal kernel's driver
# strategies (traversal.py): the distributed loop remains the
# continuation for anything larger.
SMALL_GRAPH_EDGES = 500_000


def _components_driver(edges: DataFrame) -> DataFrame:
    """Union-find over a collected dimension-sized edge list; identical
    output contract to the distributed loop (component = min reachable
    node id, per min-label propagation's fixpoint)."""
    from graphdb_for_drones_spark.traversal import _local_df

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges.select("src", "dst").collect():
        for n in (r.src, r.dst):
            if n not in parent:
                parent[n] = n
        ra, rb = find(r.src), find(r.dst)
        if ra != rb:
            # union by min: keep the smaller label as root so the final
            # root IS the min of the component
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(n, find(n)) for n in parent]
    src_type = dict(edges.dtypes)["src"]
    return _local_df(
        edges.sparkSession, rows, f"id {src_type}, component {src_type}"
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    cache_edges: bool = True,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Label-propagation connected components (undirected): every node
    repeatedly adopts the min component id among itself and its
    neighbors; converges in O(diameter) supersteps with an early-exit
    convergence check.  Returns (id, component).

    Edge sets ≤ ``small_graph_edges`` short-circuit to a driver
    union-find (threshold-guarded, like the traversal kernel's driver
    strategies) — identical result, none of the per-superstep job
    overhead that dominates dimension-sized pair graphs."""
    if small_graph_edges:
        # materialize once BEFORE the size probe: edges are typically an
        # expensive pair-join output, and both the probe and whichever
        # path wins would otherwise re-execute that plan (scalar-typed
        # rows — the no-array-cache rule doesn't apply)
        edges = edges.select("src", "dst").localCheckpoint()
        if edges.count() <= small_graph_edges:
            return _components_driver(edges)
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if cache_edges:
        sym = sym.persist()
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        nbr_min = (
            sym.join(labels, sym["src"] == labels["id"])
            .select(F.col("dst").alias("id"), F.col("component"))
            .groupBy("id")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if cache_edges:
        sym.unpersist()
    return labels


def trust_propagation(
    edges: DataFrame,
    anchor: str,
    decay: float = 0.5,
    max_depth: int = 6,
    early_exit: bool = True,
) -> DataFrame:
    """Web-of-trust scoring: trust flows OUT from the anchor along
    CROSSED_SIGNED edges with per-hop decay; a node's score is the max
    over paths (order-independent, idempotent — safe under the BFS's
    multiplicity).  Returns (id, trust) for reached nodes.
    The graph analog of the reference's path-count trust query
    (04_web_of_trust/benchmark_scenario_d.py:200-203).

    ``early_exit=False`` runs exactly ``max_depth`` fixed supersteps
    with NO per-hop convergence actions: the frontier re-expands every
    reached node each hop and ``best`` is a max-merge — identical
    output (max over paths is monotone and idempotent), but each hop is
    one join + one aggregation instead of join + improvement anti-join
    + count action + two checkpoints.  The right mode for small fixed
    depths (the catalog entry measured 4.3 → ~1.5 s at depth 4); keep
    the default for deep/converging propagation where the shrinking
    improved-frontier is the win."""
    from graphdb_for_drones_spark.traversal import _local_df

    frontier = _local_df(
        edges.sparkSession, [(anchor, 1.0)], "id string, trust double"
    ).localCheckpoint()
    edges = edges.select("src", "dst").persist()
    best = frontier
    if not early_exit:
        # each level is referenced TWICE (next hop's expansion + the
        # final merge); Spark re-executes shared subplans per reference,
        # so an uncheckpointed chain re-evaluates lower levels
        # combinatorially — one eager localCheckpoint per level keeps
        # the work linear (max_depth small jobs + one merge action)
        levels = [frontier]
        for _ in range(max_depth):
            frontier = (
                edges.join(F.broadcast(frontier), edges["src"] == frontier["id"])
                .select(
                    F.col("dst").alias("id"),
                    (F.col("trust") * decay).alias("trust"),
                )
                .groupBy("id")
                .agg(F.max("trust").alias("trust"))
                .localCheckpoint()
            )
            levels.append(frontier)
        best = levels[0]
        for lv in levels[1:]:
            best = best.unionByName(lv)
        best = best.groupBy("id").agg(F.max("trust").alias("trust"))
        edges.unpersist()
        return best
    for _ in range(max_depth):
        nxt = (
            edges.join(F.broadcast(frontier), edges["src"] == frontier["id"])
            .select(
                F.col("dst").alias("id"),
                (F.col("trust") * decay).alias("trust"),
            )
            .groupBy("id")
            .agg(F.max("trust").alias("trust"))
        )
        # keep only improvements over current best (monotone → terminates)
        improved = (
            nxt.alias("n")
            .join(best.alias("b"), "id", "left")
            .filter(
                F.col("b.trust").isNull() | (F.col("n.trust") > F.col("b.trust"))
            )
            .select("id", F.col("n.trust").alias("trust"))
            .localCheckpoint()
        )
        if improved.count() == 0:
            break
        best = (
            best.alias("b")
            .join(improved.alias("i"), "id", "left")
            .select(
                "id",
                F.greatest(
                    F.col("b.trust"), F.coalesce(F.col("i.trust"), F.lit(0.0))
                ).alias("trust"),
            )
            .unionByName(
                improved.join(best.select("id"), "id", "left_anti")
            )
            .localCheckpoint()
        )
        frontier = improved
    edges.unpersist()
    return best


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected graph given as an edge list.

    Canonicalizes to src < dst (each undirected edge once, self-loops
    dropped) and counts ordered wedges i<j<k closed by (i,k) — every
    triangle exactly once.  Two equi-joins, no explosion beyond true
    wedge count.

    At 100 TB: the classic refinement is degree-ordering (orient edges
    from low- to high-degree endpoint) which bounds the wedge join by
    arboricity rather than max degree; canonical id-ordering here is the
    same plan shape with ids standing in for the degree rank.
    Returns one row: (n_triangles long)."""
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = e.select(F.col("a").alias("i"), F.col("b").alias("j"))
    e2 = e.select(F.col("a").alias("j"), F.col("b").alias("k"))
    e3 = e.select(F.col("a").alias("i"), F.col("b").alias("k"))
    wedges = e1.join(e2, "j")
    return wedges.join(e3, ["i", "k"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def settle(df: DataFrame, bound: int) -> tuple[DataFrame, int, bool]:
    """Materialize one superstep's output: ``(frame, n_rows, local)``.

    ``bound`` is an upper bound on ``df``'s rows (e.g. the previous
    round's count).  Within ``traversal.COLLECT_THRESHOLD`` the rows
    come back to the driver in one collect and return as a local Arrow
    frame (``local=True``: broadcast it into the next superstep) — the
    collect is both the materialization and the halt signal, so no
    separate count job runs.  Otherwise the output stays executor-side:
    ``pin_state`` (always cuts lineage) plus one ``count()``."""
    if bound <= traversal.COLLECT_THRESHOLD:
        rows = df.collect()
        local = traversal._local_df(df.sparkSession, rows, df.schema)
        return local, len(rows), True
    df = pin_state(df)
    return df, df.count(), False


def k_core(
    edges: DataFrame, k: int, max_rounds: int = 64, canonical: bool = False
) -> DataFrame:
    """k-core of an undirected graph: the maximal subgraph in which
    every node has degree >= k, by iterative peeling — drop nodes whose
    surviving-neighbor count is below k, recompute, repeat to fixpoint
    (the degeneracy decomposition primitive behind dense-community
    mining and the trust-core analysis of a web-of-trust fabric).

    Input is an edge list (src, dst) read as undirected; self-loops are
    dropped and parallel edges collapse (degree = DISTINCT neighbors,
    the standard k-core definition).  Returns (id, core_degree) for the
    surviving nodes, where core_degree is the node's degree WITHIN the
    k-core.

    The edge list is pinned once (``_pin.pin``) and counted, which
    bounds the first round's survivors; each peel round is one
    semi-join of the doubled list against the survivors plus one
    neighbor count, settled by :func:`settle` with the previous round's
    count as the bound (driver-sized survivor sets broadcast into the
    next round).  Survivors carry their degree, so at the fixpoint the
    last round's rows ARE the answer.  Every round removes the whole
    sub-threshold shell: peeling converges in a handful of rounds.  If
    ``max_rounds`` runs out first, the answer is the last survivor set
    with its degrees within that set, unfiltered.

    ``canonical=True`` asserts the input is ALREADY canonical (each
    undirected edge exactly once, no self-loops, no parallel edges —
    e.g. a distinct bipartite pair list) and skips the least/greatest
    + distinct pass, a full extra shuffle of the edge list.
    """
    if canonical:
        sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    else:
        sym = (
            edges.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    sym = pin(sym, eager=False)  # materialized by the count below
    und = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )

    def peel(alive, local, min_deg, bound):
        e = und
        if alive is not None:
            hint = F.broadcast if local else (lambda d: d)
            for side in ("a", "b"):
                ids = alive.select(F.col("id").alias(side))
                e = e.join(hint(ids), side, "left_semi")
        deg = e.groupBy(F.col("a").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("core_degree")
        )
        return settle(deg.filter(F.col("core_degree") >= min_deg), bound)

    # a node of degree >= k ends >= k of the |sym| edges, so at most
    # 2|sym|/k nodes pass the degree filter; later rounds only shrink
    alive, n, local = peel(None, False, k, 2 * sym.count() // max(k, 1))
    for _ in range(max_rounds):
        if n == 0:
            return alive
        nxt = peel(alive, local, k, n)
        if nxt[1] == n:
            # fixpoint: peeling only removes nodes, so equal cardinality
            # is the equal set, and these degrees are within the core
            return nxt[0]
        alive, n, local = nxt
    return peel(alive, local, 0, n)[0]  # out of rounds: unfiltered degrees


def temporal_reach(
    edges: DataFrame,
    anchor: str,
    max_hops: int = 3,
    ts_col: str = "ts",
) -> DataFrame:
    """Earliest-arrival temporal reachability: nodes reachable from
    ``anchor`` along TIME-RESPECTING paths — each consecutive edge must
    depart strictly AFTER the path's current arrival time — within
    ``max_hops`` hops, each with its earliest possible arrival.

    The temporal-path semantics a plain traversal cannot express:
    A→B at t=5 then B→C at t=3 is NOT a path (the information-flow /
    contact-network model; Wu et al., "Path Problems in Temporal
    Graphs", VLDB 2014).  Keeping only the MIN arrival per node per
    round is sound for earliest-arrival reachability because an earlier
    arrival strictly dominates (every continuation open to a later
    arrival is open to an earlier one), and MIN over integer timestamps
    is reduction-order-independent — so this iterative algorithm is
    driver-hash-checkable like the fixed-point pagerank.

    Input edges are (src, dst, ``ts_col``); the anchor departs at
    -infinity (any first edge qualifies).  Returns (id, arrival,
    hops) for reached nodes (anchor excluded), where ``hops`` is the
    hop count of the earliest-arrival path (MIN tiebreak on hops at
    equal arrival).  Each superstep is one frontier⋈edges join with the
    time predicate fused (Catalyst pushes it into the join), one
    min-aggregation keyed on dst — shuffle bounded by reached nodes,
    never path multiplicity.
    """
    spark = edges.sparkSession
    ts = F.col(ts_col).cast("long")
    e = edges.select("src", "dst", ts.alias("__t")).persist()
    from graphdb_for_drones_spark.traversal import _local_df

    frontier = _local_df(
        spark, [(anchor, -(1 << 62), 0)], "id string, arrival long, hops int"
    ).localCheckpoint()
    # defer the best-merge to ONE final aggregation (the fixed-depth
    # trust_propagation lesson): per-level min-arrival frontiers are
    # exactly what the next hop must expand — an earlier arrival at a
    # node strictly dominates (every t > later is also > earlier) — and
    # the global earliest arrival per node is the min over levels, so
    # per-hop merging buys nothing but 2 extra shuffles + checkpoints a
    # hop.  Each level checkpoints once (it is referenced twice: next
    # hop + final merge).
    levels = [frontier]
    for _ in range(max_hops):
        frontier = (
            e.join(F.broadcast(frontier), e["src"] == frontier["id"])
            .filter(F.col("__t") > F.col("arrival"))
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.min("__t").alias("arrival"),
                (F.min(F.struct(F.col("__t"), (F.col("hops") + 1).alias("h")))["h"]).alias("hops"),
            )
            .localCheckpoint()
        )
        levels.append(frontier)
    best = levels[0]
    for lv in levels[1:]:
        best = best.unionByName(lv)
    best = best.groupBy("id").agg(
        F.min(F.struct("arrival", "hops"))["arrival"].alias("arrival"),
        F.min(F.struct("arrival", "hops"))["hops"].alias("hops"),
    )
    e.unpersist()
    return best.filter(F.col("id") != anchor)


def _cooccurrence_dense(
    e: DataFrame, k: int, items: list, item_type
) -> DataFrame:
    """Dense-dimension co-occurrence: per partition, accumulate the full
    item x item count matrix with numpy and merge the (dimension-
    bounded) partials on the driver — the centroid-collect pattern.

    Replaces the sum-of-C(d,2) pair STREAM (12.5M rows through partial
    aggregation at sf0.1) with one n² integer matrix per partition:
    each group adds 1 to M[ix(a, a)], so the diagonal is the item
    degree and the upper triangle the shared-group counts — every
    number the similarity needs from ONE pass over the edges, no pair
    shuffle at all.  Exact integers + one IEEE division, bit-identical
    to the posting-path plan (the entry's oracle pins it).

    Memory contract: n_items <= dense threshold (2048) bounds each
    partial at n² x 8 B = 33 MB and the driver merge at ~8 partials —
    why the edge list repartitions to at most 8 groups-complete
    partitions here (group rows must be co-located for the in-group
    outer product; arrow chunks within a partition are re-grouped in
    the accumulator dict)."""
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    n = len(items)
    idx = {v: j for j, v in enumerate(items)}
    nparts = max(1, min(spark.sparkContext.defaultParallelism, 8))
    # group keys travel as STRINGS through Arrow: an integral column
    # with even one null turns into float64 in pandas, and int64 keys
    # above 2^53 (xxhash64-derived group ids) would silently collide
    # after the lossy conversion, merging distinct groups.  The cast is
    # injective per source type, so grouping semantics are unchanged.
    rep = e.withColumn("__g", F.col("__g").cast("string")).repartition(
        nparts, "__g"
    )

    def accumulate(batches):
        groups: dict = {}
        for pdf in batches:
            for g, i in zip(pdf["__g"].values, pdf["__i"].values):
                # a null group key arrives as None (object dtype after
                # the string cast); keep the NaN normalization as a
                # belt-and-braces guard for exotic Arrow conversions
                if isinstance(g, float) and g != g:
                    g = None
                groups.setdefault(g, set()).add(idx[i])
        M = np.zeros((n, n), dtype=np.int64)
        for grp in groups.values():
            a = np.asarray(list(grp), dtype=np.int64)
            # set-deduped: np.ix_ += is buffered (a repeated index
            # would count once anyway), and the input contract is
            # distinct (group, item) rows
            M[np.ix_(a, a)] += 1
        yield pd.DataFrame({"payload": [M.tobytes()]})

    parts = rep.mapInPandas(accumulate, "payload binary").collect()
    M = np.zeros((n, n), dtype=np.int64)
    for r in parts:
        M += np.frombuffer(r.payload, np.int64).reshape(n, n)
    deg = np.diag(M)
    ia, ib = np.triu_indices(n, 1)
    c = M[ia, ib]
    nz = c > 0
    ia, ib, c = ia[nz], ib[nz], c[nz]
    top = np.lexsort((ib, ia, -c))[:k]
    rows = [
        (
            items[int(a)],
            items[int(b)],
            int(cnt),
            float(cnt) / float(deg[a] + deg[b] - cnt),
        )
        for a, b, cnt in zip(ia[top], ib[top], c[top])
    ]
    schema = T.StructType(
        [
            T.StructField("id_a", item_type),
            T.StructField("id_b", item_type),
            T.StructField("n_common", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    # Arrow local-rows path: the tuple form is Python-RDD-backed and
    # spawns one Python worker per partition per scan (r12 profiling)
    from graphdb_for_drones_spark.traversal import _local_df

    return _local_df(spark, rows, schema).orderBy(
        F.desc("n_common"), F.asc("id_a"), F.asc("id_b")
    )


#: Exact pair-stream budget: Σ_g C(d_g, 2) rows above this raises
#: instead of silently running a super-linear shuffle.  Sized so the
#: sf1 sweep's measured stream (~12.5M pairs, 15.3 s) passes with
#: ~100× headroom while a 100 TB-scale hot-degree explosion (billions
#: of pair rows per executor wave) fails loudly with the escape routes
#: named.  Pass ``max_pairs=None`` to run the exact plan regardless.
EXACT_PAIRS_BUDGET = 2_000_000_000


def cooccurrence_similarity(
    edges: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 20,
    broadcast_degrees: bool = True,
    dense_items_threshold: int = 2048,
    n_items_hint: int | None = None,
    max_pairs: int | None = EXACT_PAIRS_BUDGET,
) -> DataFrame:
    """Item-item similarity by group co-occurrence — the bipartite
    node-similarity primitive (co-purchase / co-citation analysis):
    for items a < b, ``n_common`` = number of groups containing both,
    ``jaccard`` = n_common / (deg(a) + deg(b) − n_common), top-``k``
    pairs by (n_common DESC, a, b).

    Input must be DISTINCT (group, item) rows.  The pair stream is
    enumerated skew-adaptively from per-group posting lists
    (``dedup.posting_pairs``: map-side C(d,2) for normal groups, a
    streamed per-key self-join for degenerate hot groups — never the
    classic index self-join, which shuffles the index twice), then
    counted through partial aggregation; degrees join back on the
    item-pair rows (item dimension ≪ pair stream).  All arithmetic is
    exact integers plus one IEEE division — driver-hash-checkable.

    At 100 TB the posting-list exchange is the one shuffle that grows
    with data; hot groups (a customer buying from every supplier)
    stream rather than materialize, the `posting_pairs` contract.

    ADAPTIVE dense branch: when the caller asserts a small item
    dimension (``n_items_hint`` <= ``dense_items_threshold``, e.g. the
    supplier table's row count), the whole similarity reduces to one
    per-partition n² count matrix and a driver merge
    (``_cooccurrence_dense``) — no pair stream exists at all (measured
    5.2 → 1.5 s on the trade entry, where the posting path counts
    12.5M pairs).  The hint is verified (a lying hint falls back), the
    posting path stays the default and the unbounded-cardinality
    strategy.

    SCALE POLICY (round 11, the one default plan with super-linear
    growth): the posting path's pair stream is Σ_g C(d_g, 2) shuffled
    rows — inherent to EXACT co-occurrence, 5.9× at the sf1 sweep and
    unbounded at 100 TB.  Before enumerating, one cheap aggregate over
    the (already pinned) posting table computes that sum exactly; if it
    exceeds ``max_pairs`` (default ``EXACT_PAIRS_BUDGET``) the op
    RAISES, naming the three escape routes: (a) the dense branch when
    the item dimension is small (``n_items_hint``), (b) the
    same-shape SAMPLED twin ``cooccurrence_similarity_sampled``
    (unbiased estimates, auto-γ), (c) ``max_pairs=None`` to run the
    exact quadratic plan deliberately.  Auto-switching is deliberately
    NOT done — (b) changes semantics (estimates, not counts), and a
    silent semantics change is worse than a loud budget error
    (mirrors the traversal kernel's threshold-strategy pattern,
    traversal.py:135, except thresholds there pick among
    SAME-semantics strategies)."""
    from graphdb_for_drones_spark.operators.dedup import posting_pairs

    e = edges.select(
        F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
    )
    if n_items_hint is not None and n_items_hint <= dense_items_threshold:
        # match the posting path's null handling (collect_list drops
        # null items) before anything is counted or collected
        e = e.filter(F.col("__i").isNotNull()).localCheckpoint()
        # BOUNDED probe before any driver collect: a hint lying about a
        # 50M-item column must fall back without pulling the item set
        # (or anything item-sized) onto the driver
        distinct_items = e.select("__i").distinct()
        if (
            distinct_items.limit(dense_items_threshold + 1).count()
            <= dense_items_threshold
        ):
            items = sorted(r[0] for r in distinct_items.collect())
            return _cooccurrence_dense(
                e, k, items, e.schema["__i"].dataType
            )
    # ONE pass over the (possibly expensive) edge input: the unfiltered
    # posting table is pinned via localCheckpoint and BOTH consumers —
    # pair enumeration and item degrees — derive from it (a frame
    # referenced twice re-executes its upstream pipeline; the trade
    # entry's join+distinct source ran twice before, 6.7 → 6.0 s at
    # sf0.1 — the remaining cost is the pair count itself, which on
    # this path is inherent: every one of the C(1000,2) supplier pairs
    # shares a customer on this graph.  The dense branch above removes
    # it when the item dimension is asserted small.)
    posting_all = (
        e.groupBy("__g")
        .agg(F.sort_array(F.collect_list("__i")).alias("ids"))
        .localCheckpoint()
    )
    if max_pairs is not None:
        # exact Σ_g C(d_g, 2) in one scan of the pinned posting table —
        # the size of the stream we are about to shuffle
        est_pairs = posting_all.select(
            F.sum(
                (F.size("ids").cast("long") * (F.size("ids") - 1)) / 2
            ).cast("long")
        ).first()[0]
        if est_pairs is not None and est_pairs > max_pairs:
            raise ValueError(
                f"exact co-occurrence would shuffle {est_pairs:,} pair "
                f"rows (> max_pairs={max_pairs:,}); at this scale use "
                "cooccurrence_similarity_sampled (unbiased auto-γ "
                "estimates), pass n_items_hint if the item dimension "
                "is small (dense branch), or pass max_pairs=None to "
                "run the exact quadratic plan deliberately"
            )
    posting = posting_all.filter(F.size("ids") >= 2)
    common = (
        posting_pairs(posting, ["__g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    deg = (
        posting_all.select(F.explode("ids").alias("__i"))
        .groupBy("__i")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    # the degree table is item-dimension-sized (one row per item) while
    # common is the pair stream — broadcast both sides of the rejoin or
    # Spark sort-merges the multi-million-row pair table twice (the
    # aggregated deg frame has no size stats, so AQE alone won't pick
    # the broadcast).  F.broadcast is an UNCONDITIONAL hint: pass
    # broadcast_degrees=False when the item dimension itself is huge
    # (beyond ~10M items the hint trades a slow sort-merge for an OOM)
    def maybe_bcast(d):
        return F.broadcast(d) if broadcast_degrees else d

    joined = common.join(
        maybe_bcast(
            deg.select(F.col("__i").alias("id_a"), F.col("deg").alias("__da"))
        ),
        "id_a",
    ).join(
        maybe_bcast(
            deg.select(F.col("__i").alias("id_b"), F.col("deg").alias("__db"))
        ),
        "id_b",
    )
    jac = (F.col("n_common") * F.lit(1.0)) / (
        F.col("__da") + F.col("__db") - F.col("n_common")
    )
    return (
        joined.select("id_a", "id_b", "n_common", jac.alias("jaccard"))
        .orderBy(F.desc("n_common"), F.asc("id_a"), F.asc("id_b"))
        .limit(k)
    )


def auto_dimsum_gamma(n_items: int) -> float:
    """Oversampling parameter sized to the ITEM dimension:
    γ = 4·max(8, ⌈log₂ n_items⌉), i.e. floored at 32 (the sf0.1-tuned
    accuracy anchor — corpora ≤ 256 items resolve to the old fixed
    constant, so small-data behavior is unchanged).  The log₂ growth is
    the DIMSUM paper's Ω(log n) oversampling factor: a pair's estimate
    has relative variance ≤ 1/(γ·p·c)-ish, and holding a union bound
    over the C(n,2) candidate estimates needs γ ∝ log n — a CONSTANT γ
    knees exactly like the fixed 16-plane LSH geometry did (the
    documented ann_near_pairs_fixed16 lesson, 34× at sf1).

    Computed in INTEGER arithmetic — ⌈log₂ n⌉ = smallest w with
    2^w ≥ n = ``(n-1).bit_length()`` — so the SQL oracle twin
    reproduces γ from COUNT(*) exactly (the ``auto_band_width``
    pattern, similarity.py:291)."""
    if n_items <= 1:
        return 32.0
    return 4.0 * max(8, (n_items - 1).bit_length())


def cooccurrence_similarity_sampled(
    edges: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 20,
    gamma: float | None = None,
    tag: str = "dimsum",
    broadcast_degrees: bool = True,
) -> DataFrame:
    """DIMSUM-style SAMPLED co-occurrence (Zadeh & Goel 2013,
    "Dimension Independent Matrix Square using MapReduce") — the scale
    path `cooccurrence_similarity` lacks when the item dimension is too
    large for the dense branch AND the exact pair stream (Σ_g C(d_g,2)
    shuffled rows) is the bottleneck: each pair occurrence survives
    with probability p_ab = min(1, γ/√(deg_a·deg_b)) and the count is
    inverse-probability-weighted, so ``est_common`` is unbiased with
    relative variance ~1/(γ·jaccard-ish) independent of the matrix
    dimension (the paper's point).  The C(d,2) enumeration stays
    map-side exactly as in the exact op — what sampling removes is the
    pair-stream SHUFFLE and aggregation state, which is the term that
    grows quadratically per hot group at 100 TB.

    The sampling coin is DETERMINISTIC and cheap where it matters: one
    md5 per (group, item) ROW seeds 31-bit integers gx/x (O(|edges|)
    digests — a per-OCCURRENCE md5 measured 4× the whole exact entry's
    cost at sf0.1: 12.5M digests for the coin alone), and each pair
    occurrence mixes them with a Horner chain + two squaring rounds mod
    the Mersenne prime 2^31−1 (a few integer ops; every intermediate
    < 2^62, exact signed-64 in any engine).  u = h/(2^31−1) and
    p_ab = min(1, γ/√(deg_a·deg_b)) are each ONE correctly-rounded IEEE
    op on bit-identical inputs, so the SAMPLED estimate is
    oracle-EXACT, not tolerance-checked: DuckDB reproduces the same
    kept set and the same est_common to the last bit (the
    ann_near_pairs_auto pattern applied to sampling).  The polynomial
    coin is a sampling coin, not a crypto hash — the squaring rounds
    break the affine structure that would stripe consecutive ids, and
    the md5 seeds decorrelate it from key arithmetic.  γ ≥ √(max deg
    product) degrades to exact counting (p=1 everywhere).

    ``gamma=None`` = AUTO (the default since round 11): one
    column-pruned count of the ITEM dimension sizes γ via
    ``auto_dimsum_gamma`` (4·max(8, ⌈log₂ n_items⌉)), so the
    variance budget tracks the candidate-pair union bound instead of
    kneeing on a constant; pass an explicit γ to pin it (the fixed32
    oracle twin).

    ``broadcast_degrees`` mirrors the exact op's contract: the degree
    table is item-dimension-sized; pass False beyond ~10M items.

    Input contract matches the exact op: DISTINCT (group, item) rows.
    Returns top-``k`` by (est_common DESC, item_a, item_b):
    (item_a, item_b, deg_a, deg_b, est_common)."""
    from graphdb_for_drones_spark.operators._pin import pin
    from graphdb_for_drones_spark.operators.dedup import (
        _spread_input,
        posting_pairs,
    )
    from graphdb_for_drones_spark.operators.split import _md5_60bit

    P = 2147483647  # Mersenne prime 2^31 - 1
    C1, C2 = 1103515245, 1203793907  # odd multipliers < 2^31

    def seed31(col):
        # md5-60-bit (the split/sampling family's shared decode) → 31-bit
        # seed.  NULL-safe via a single-space sentinel: the exact op's
        # groupBy keeps a NULL group as a real group, so the coin must
        # too — a NULL-propagating concat made the filter silently drop
        # every NULL-group occurrence and broke the γ→∞ == exact anchor
        # (round-9 review finding, reproduced).  Coin collision with a
        # literal " " key is the accepted trade (keys here are
        # stringified ids; a collision only correlates two coins, it
        # cannot corrupt counts).
        safe = F.coalesce(col, F.lit(" "))
        return F.pmod(
            _md5_60bit(F.concat(F.lit(tag + ":"), safe)), F.lit(1 << 31)
        )

    # one scan of the (possibly expensive, e.g. join+distinct) edge
    # input: deg and the carry join below are two consumers (the exact
    # op pins for the same reason).  r13 (guide §2.5): the pin
    # materializes at AQE's byte-coalesced partitioning (profiled: the
    # 2×-md5-per-row seed stage ran as 5 tasks of ~600 ms CPU on 32
    # cores); re-spread the PINNED blocks — a cheap probe on an
    # ExistingRDD, and a no-op whenever the pin already carries >=
    # cluster-parallelism partitions, i.e. always at real scale.
    e = _spread_input(
        pin(
            edges.select(
                F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
            ).filter(F.col("__i").isNotNull())
        ),
        "__g",
        "__i",
    )
    deg = e.groupBy("__i").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    if gamma is None:
        # the auto-γ path gives deg a SECOND consumer (this count plus
        # the carry join below), so pin deg itself before counting —
        # counting the unpinned aggregate re-ran the degree derivation
        # per consumer (ADVICE r11); the oracle twin derives the SAME γ
        # from COUNT(*) in SQL
        deg = pin(deg)
        gamma = auto_dimsum_gamma(deg.count())
    ed = e.join(
        F.broadcast(deg) if broadcast_degrees else deg, "__i"
    ).select(
        "__g",
        seed31(F.col("__g").cast("string")).alias("__gx"),
        F.struct(
            F.col("__i").alias("i"),
            F.col("deg"),
            seed31(F.col("__i").cast("string")).alias("x"),
        ).alias("s"),
    )
    posting = (
        ed.groupBy("__g", "__gx")
        .agg(F.sort_array(F.collect_list("s")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # pinned for posting_pairs' three plan consumers (the r9 lesson)
    posting = pin(posting)
    occ = posting_pairs(posting, ["__g", "__gx"], keep_keys=True)
    a_i, b_i = F.col("id_a.i"), F.col("id_b.i")
    dd = F.col("id_a.deg").cast("double") * F.col("id_b.deg").cast("double")
    p = F.least(F.lit(1.0), F.lit(float(gamma)) / F.sqrt(dd))
    # Horner chain over (gx, ax, bx) + two squaring rounds, all mod P:
    # h*C < 2^62, h*h < 2^62, +x < 2^62 + 2^31 — no signed-64 overflow
    h = F.col("__gx")
    h = (h * F.lit(C1) + F.col("id_a.x")) % F.lit(P)
    h = (h * F.lit(C2) + F.col("id_b.x")) % F.lit(P)
    h = (h * h + F.lit(1)) % F.lit(P)
    h = (h * h + F.lit(3)) % F.lit(P)
    u = h.cast("double") / F.lit(float(P))
    kept = occ.filter(u < p)
    inv_p = F.greatest(
        F.lit(1.0),
        F.sqrt(F.col("deg_a").cast("double") * F.col("deg_b").cast("double"))
        / F.lit(float(gamma)),
    )
    est = (
        kept.groupBy(
            a_i.alias("item_a"),
            F.col("id_a.deg").alias("deg_a"),
            b_i.alias("item_b"),
            F.col("id_b.deg").alias("deg_b"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("est_common", F.round(F.col("__c") * inv_p, 9))
    )
    return (
        est.orderBy(F.desc("est_common"), F.asc("item_a"), F.asc("item_b"))
        .limit(k)
        .select("item_a", "item_b", "deg_a", "deg_b", "est_common")
    )


def weighted_sssp(
    edges: DataFrame,
    source: str,
    rounds: int = 4,
    broadcast_best: bool | None = None,
    broadcast_threshold: int = 1_000_000,
) -> DataFrame:
    """Single-source shortest paths with nonnegative integer weights by
    bounded Bellman-Ford relaxation: ``rounds`` supersteps of
    d_k(v) = min(d_{k-1}(v), min over edges (d_{k-1}(u) + w(u,v))) —
    after k rounds every node holds its cheapest cost over paths of
    <= k edges (textbook relaxation invariant; with rounds >= the
    shortest-path hop diameter this is the exact SSSP).

    Input: (src, dst, w long) DIRECTED edges (symmetrize upstream for
    undirected graphs).  Returns (id, cost long) for reached nodes.
    Integer costs + MIN reductions are order-independent, so the whole
    iterative computation is driver-hash-checkable against an unrolled
    SQL twin (the fixed-point-pagerank treatment).  Each superstep is
    one join + one min-agg over the best-so-far table — node-bounded,
    never path-bounded (a recursive path enumeration explodes
    combinatorially on dense graphs; relaxation cannot).  The best
    table localCheckpoints per round (small: one row per reached node).
    """
    spark = edges.sparkSession
    # pin the edge list once: it is re-referenced every round, and an
    # expensive upstream (join + groupBy weight derivation) would
    # otherwise re-execute per superstep (measured 5.4 → 3.5 s on the
    # trade entry at sf0.1)
    e = edges.select(
        "src", "dst", F.col("w").cast("long").alias("w")
    ).localCheckpoint()
    from graphdb_for_drones_spark.traversal import _local_df

    best = _local_df(
        spark, [(source, 0)], "id string, cost long"
    ).localCheckpoint()
    # the best-so-far table is node-dimension-sized while e is the edge
    # table: broadcasting best makes each superstep's relaxation a
    # map-side join over the PINNED edges (no per-round edge shuffle;
    # the checkpointed frame's stats don't reliably trigger AQE's
    # broadcast on their own).  But best GROWS with the reached-node
    # set, so an unconditional hint trades the shuffle for a
    # driver/executor OOM on large graphs.  Default (None) is a
    # per-round BOUNDED probe on the just-checkpointed table — a
    # limit-count over materialized partitions, the dense-cooccurrence
    # gating pattern — that falls back to the shuffle join the first
    # round the frontier outgrows ``broadcast_threshold``.  Explicit
    # True/False skips the probe (the cataloged trade queries pass
    # True: nation-dimension graphs, probe would cost more than it
    # saves).
    def maybe_bcast(d, small):
        return F.broadcast(d) if small else d

    small = bool(broadcast_best)
    probing = broadcast_best is None
    if probing:
        small = True  # best is exactly the single source row pre-round-1
    for rnd in range(rounds):
        if probing and rnd > 0:
            small = (
                best.limit(broadcast_threshold + 1).count()
                <= broadcast_threshold
            )
            if not small:
                # best only grows round-over-round: once it outgrows the
                # threshold it never shrinks back, so stop paying the probe
                probing = False
        relaxed = (
            e.join(maybe_bcast(best, small), e["src"] == best["id"])
            .select(F.col("dst").alias("id"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        best = (
            best.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint()
        )
    return best
