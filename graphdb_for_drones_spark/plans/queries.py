"""Query catalog: every operator family from SURVEY.md §2 expressed over
the driver testdata, each with a DuckDB oracle for the correctness gate.

Mapping of the reference workload onto the testdata (FIXTURES.md §B):

  Region→Nation→{Customer,Supplier}  =  HQ→…→Drone delegation hierarchy
  orders                             =  mission_test fact table
  nation chain (key k → k+1)         =  web-of-trust linear chain
  customer→nation membership + chain =  ABAC member/subgroup/permission
  events (signup/…/error)            =  CDC change log (c/u/d ops)
  documents / embeddings             =  LLM-pipeline dedup & similarity

Conventions (driver hash-compare requires them):
* every computed column is aliased identically in Spark and oracle SQL;
* counts are BIGINT on both sides;
* floating aggregates are summed as DECIMAL (exact, order-independent)
  then cast to DOUBLE, or rounded to a fixed scale where decimal sums
  are impossible — never raw double sums, whose value depends on
  reduction order and would differ between engines (and between runs
  at different parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphdb_for_drones_spark.catalog import Catalog
from graphdb_for_drones_spark.graph import testdata_graph
from graphdb_for_drones_spark.traversal import path_count_to, reachable_counts

# --------------------------------------------------------------------- #
# shared sub-plans
# --------------------------------------------------------------------- #

_EDGES_SQL_T = """
    SELECT 'R' || CAST(n_regionkey AS {vt}) AS src,
           'N' || CAST(n_nationkey AS {vt}) AS dst FROM nation
    UNION ALL
    SELECT 'N' || CAST(c_nationkey AS {vt}),
           'C' || CAST(c_custkey AS {vt}) FROM customer
    UNION ALL
    SELECT 'N' || CAST(s_nationkey AS {vt}),
           'S' || CAST(s_suppkey AS {vt}) FROM supplier
"""
_EDGES_SQL = _EDGES_SQL_T.format(vt="VARCHAR")

_NATION_CHAIN_SQL = """
    SELECT 'N' || CAST(a.n_nationkey AS VARCHAR) AS src,
           'N' || CAST(b.n_nationkey AS VARCHAR) AS dst
    FROM nation a JOIN nation b ON b.n_nationkey = a.n_nationkey + 1
"""


def _nation_chain_edges(cat: Catalog) -> DataFrame:
    """Web-of-trust linear chain (e0→e1→…→anchor, reference
    04_web_of_trust/setup_scenario_a.py:85-90) built from nation keys."""
    a = cat.nation.select(F.col("n_nationkey").alias("k"))
    b = cat.nation.select(F.col("n_nationkey").alias("k2"))
    return (
        a.join(b, b["k2"] == a["k"] + 1)
        .select(
            F.concat(F.lit("N"), F.col("k").cast("string")).alias("src"),
            F.concat(F.lit("N"), F.col("k2").cast("string")).alias("dst"),
        )
    )


# --------------------------------------------------------------------- #
# traversal family (SURVEY §2.3 J1–J11, §2.2 P1–P6, §2.4 A1–A3)
# --------------------------------------------------------------------- #


def q_delegation_reachable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded reachability from HQ ('R0'), node-set semantics — the
    recursive-CTE chain of common/bench_utils.py:9-34 at depth 2."""
    g = testdata_graph(spark, sf_dir)
    return reachable_counts(g.out_edges("DELEGATES"), ["R0"], 2, mode="node").select(
        "node", "level"
    )


def _delegation_reachable_sql(vt: str) -> str:
    """ONE dialect-neutral ``WITH RECURSIVE`` template, rendered per
    engine via the string-type spelling (DuckDB ``VARCHAR`` / Spark
    ``STRING``) — no post-hoc string surgery on the oracle text, so a
    future oracle edit can't silently break the engine twin."""
    return f"""
WITH RECURSIVE edges AS ({_EDGES_SQL_T.format(vt=vt)}),
chain AS (
  SELECT 'R0' AS node, 0 AS level
  UNION ALL
  SELECT e.dst, c.level + 1 FROM edges e JOIN chain c ON e.src = c.node
  WHERE c.level < 2
)
SELECT node, level FROM chain WHERE level >= 1
"""


ORACLE_DELEGATION_REACHABLE = _delegation_reachable_sql("VARCHAR")


def q_delegation_count_by_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = testdata_graph(spark, sf_dir)
    hops = reachable_counts(g.out_edges("DELEGATES"), ["R0"], 2, mode="node")
    return hops.groupBy("level").agg(F.count(F.lit(1)).alias("n"))


ORACLE_DELEGATION_COUNT_BY_LEVEL = f"""
WITH RECURSIVE edges AS ({_EDGES_SQL}),
chain AS (
  SELECT 'R0' AS node, 0 AS level
  UNION ALL
  SELECT e.dst, c.level + 1 FROM edges e JOIN chain c ON e.src = c.node
  WHERE c.level < 2
)
SELECT level, COUNT(*) AS n FROM chain WHERE level >= 1 GROUP BY level
"""


def q_flat_chain_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact replica of the flat-delegation chain count
    (common/bench_utils.py:9-34): star topology, recursion runs but dies
    after level 1 because drone ids never appear as hq ids (SURVEY §7.4-1).
    delegation(drone_id=c_custkey, hq_id='N'||c_nationkey), seed N5, depth 3."""
    cat = Catalog(spark, sf_dir)
    edges = cat.customer.select(
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("src"),
        F.col("c_custkey").cast("string").alias("dst"),
    )
    chain = reachable_counts(edges, ["N5"], 3, mode="path")
    return chain.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("chain_count")
    )


ORACLE_FLAT_CHAIN_COUNT = """
WITH RECURSIVE chain AS (
  SELECT CAST(c_custkey AS VARCHAR) AS node, 1 AS lvl FROM customer
  WHERE 'N' || CAST(c_nationkey AS VARCHAR) = 'N5'
  UNION ALL
  SELECT CAST(c2.c_custkey AS VARCHAR), ch.lvl + 1
  FROM customer c2 JOIN chain ch
    ON 'N' || CAST(c2.c_nationkey AS VARCHAR) = ch.node
  WHERE ch.lvl < 3
)
SELECT COUNT(*) AS chain_count FROM chain
"""


def q_mission_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traversal + fact join + count — scenario A's flagship
    (01_multi_layer/benchmark_scenario_a.py:48-66: recursive delegation
    chain, filter to drones, join mission_test, count)."""
    cat = Catalog(spark, sf_dir)
    g = testdata_graph(spark, sf_dir)
    reach = reachable_counts(g.out_edges("DELEGATES"), ["R0"], 2, mode="node").select(
        "node"
    )
    orders = cat.orders.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("node"),
        "o_orderkey",
    )
    return reach.join(orders, "node").agg(
        F.count("o_orderkey").alias("mission_count")
    )


ORACLE_MISSION_COUNT = f"""
WITH RECURSIVE edges AS ({_EDGES_SQL}),
chain AS (
  SELECT 'R0' AS node, 0 AS level
  UNION ALL
  SELECT e.dst, c.level + 1 FROM edges e JOIN chain c ON e.src = c.node
  WHERE c.level < 2
)
SELECT COUNT(o.o_orderkey) AS mission_count
FROM chain c JOIN orders o ON 'C' || CAST(o.o_custkey AS VARCHAR) = c.node
WHERE c.level >= 1
"""


def q_vc_count_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 2-hop graph-pattern join + per-root aggregate — J7
    (``MATCH (i:Issuer)-[:ISSUED]->(v:VC)-[:ASSERTS]->(s:Subject)``,
    reference scripts/traversal_verify.py:119-122), root kept as group key."""
    cat = Catalog(spark, sf_dir)
    g = testdata_graph(spark, sf_dir)
    e = g.out_edges("DELEGATES")
    e1 = e.filter(F.col("src").startswith("R")).select(
        F.col("src").alias("region_id"), F.col("dst").alias("mid")
    )
    e2 = e.filter(F.col("dst").startswith("C")).select(
        F.col("src").alias("mid"), F.col("dst").alias("node")
    )
    orders = cat.orders.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("node")
    )
    return (
        e1.join(e2, "mid")
        .join(orders, "node")
        .groupBy("region_id")
        .agg(F.count(F.lit(1)).alias("vc_count"))
    )


ORACLE_VC_COUNT_PER_REGION = """
SELECT 'R' || CAST(n.n_regionkey AS VARCHAR) AS region_id,
       COUNT(*) AS vc_count
FROM nation n
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


def q_path_count_diamond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-multiplicity traversal on a true DAG (orders→parts→suppliers
    via lineitem): recursive CTE UNION ALL semantics where a node reached
    twice counts twice — the J9 / §7.4-1 semantics pin."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    e1 = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("dst"),
    ).distinct()
    e2 = li.select(
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    edges = e1.unionByName(e2)
    seeds = cat.orders.filter(F.col("o_orderkey") <= 100).select(
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("node")
    )
    paths = reachable_counts(edges, seeds, 2, mode="path")
    return paths.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("path_count")
    )


ORACLE_PATH_COUNT_DIAMOND = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT 'O' || CAST(l_orderkey AS VARCHAR) AS src,
                  'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem
  UNION ALL
  SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR),
                  'S' || CAST(l_suppkey AS VARCHAR) FROM lineitem
),
chain AS (
  SELECT 'O' || CAST(o_orderkey AS VARCHAR) AS node, 0 AS lvl FROM orders
  WHERE o_orderkey <= 100
  UNION ALL
  SELECT e.dst, c.lvl + 1 FROM edges e JOIN chain c ON e.src = c.node
  WHERE c.lvl < 2
)
SELECT COUNT(*) AS path_count FROM chain WHERE lvl >= 1
"""


def q_wot_path_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-of-trust path count to a fixed anchor within max length — J9
    (04_web_of_trust/benchmark_scenario_d.py:200-203).  Linear chain
    N0→N1→…→N24; anchor N24, L=24 → exactly one path.  The chain is a
    25-row dimension graph: the kernel collects it and runs the BFS in
    the driver (collect_edges) — the traversal analogue of a broadcast
    join — instead of 24 distributed jobs."""
    cat = Catalog(spark, sf_dir)
    return path_count_to(
        _nation_chain_edges(cat), ["N0"], "N24", 24, collect_edges=True
    )


ORACLE_WOT_PATH_COUNT = f"""
WITH RECURSIVE e AS ({_NATION_CHAIN_SQL}),
chain AS (
  SELECT 'N0' AS node, 0 AS lvl
  UNION ALL
  SELECT e.dst, c.lvl + 1 FROM e JOIN chain c ON e.src = c.node
  WHERE c.lvl < 24
)
SELECT COUNT(*) AS path_count FROM chain WHERE node = 'N24' AND lvl >= 1
"""


def q_wot_path_count_short(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same anchor query with L=10 < chain distance → zero paths
    (the reference sweeps max_path_lengths,
    04_web_of_trust/benchmark_scenario_a.py:194-239)."""
    cat = Catalog(spark, sf_dir)
    return path_count_to(
        _nation_chain_edges(cat), ["N0"], "N24", 10, collect_edges=True
    )


ORACLE_WOT_PATH_COUNT_SHORT = f"""
WITH RECURSIVE e AS ({_NATION_CHAIN_SQL}),
chain AS (
  SELECT 'N0' AS node, 0 AS lvl
  UNION ALL
  SELECT e.dst, c.lvl + 1 FROM e JOIN chain c ON e.src = c.node
  WHERE c.lvl < 10
)
SELECT COUNT(*) AS path_count FROM chain WHERE node = 'N24' AND lvl >= 1
"""


def q_abac_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABAC permission check — J10/J11
    (04_web_of_trust/benchmark_scenario_a.py:267-279: user → member-of →
    subgroup* → permission ⋈ resource → count(allowed)).
    user = customer 1, groups = nations, subgroup chain Nk→Nk+1,
    top group N24 holds permission on every resource; resource RES0."""
    cat = Catalog(spark, sf_dir)
    member = cat.customer.filter(F.col("c_custkey") == 1).select(
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("node")
    )
    groups = reachable_counts(
        _nation_chain_edges(cat),
        member,
        30,
        mode="node",
        include_seed=True,
        collect_edges=True,
    ).select("node").distinct()
    perm = cat.region.select(
        F.lit("N24").alias("node"),
        F.concat(F.lit("RES"), F.col("r_regionkey").cast("string")).alias(
            "resource_id"
        ),
    )
    return (
        groups.join(perm, "node")
        .filter(F.col("resource_id") == "RES0")
        .agg(F.count(F.lit(1)).alias("allowed"))
    )


ORACLE_ABAC_CHECK = f"""
WITH RECURSIVE sub AS ({_NATION_CHAIN_SQL}),
member AS (
  SELECT 'N' || CAST(c_nationkey AS VARCHAR) AS node FROM customer
  WHERE c_custkey = 1
),
grp AS (
  SELECT node, 0 AS lvl FROM member
  UNION ALL
  SELECT s.dst, g.lvl + 1 FROM sub s JOIN grp g ON s.src = g.node
  WHERE g.lvl < 30
)
SELECT COUNT(*) AS allowed
FROM (SELECT DISTINCT node FROM grp) g
JOIN (SELECT 'N24' AS node,
             'RES' || CAST(r_regionkey AS VARCHAR) AS resource_id
      FROM region) p USING (node)
WHERE p.resource_id = 'RES0'
"""


# --------------------------------------------------------------------- #
# relational/aggregation family (SURVEY §2.4 A1–A7, §2.5 W1–W3)
# --------------------------------------------------------------------- #


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan+group+agg over the biggest table: exercises
    partial (map-side) aggregation, decimal-exact sums, pushdown of the
    shipdate filter into the parquet scan."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias(
            "sum_qty"
        ),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias(
            "sum_base_price"
        ),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
    AS sum_disc_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join + deterministic top-k (sort + limit with a
    tiebreak key).  Agg before join keeps the shuffle on the small side."""
    cat = Catalog(spark, sf_dir)
    spend = cat.orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_spend")
    )
    return (
        spend.join(cat.customer, spend["o_custkey"] == cat.customer["c_custkey"])
        .select("c_custkey", "c_name", "total_spend")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


ORACLE_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, total_spend
FROM (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
  FROM orders GROUP BY o_custkey
) s JOIN customer ON s.o_custkey = c_custkey
ORDER BY total_spend DESC, c_custkey ASC
LIMIT 10
"""


def q_priority_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-membership predicate (P6, ``ANY(%s)`` of
    03_equalization/benchmark_scenario_a.py:64-69) + group count."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM")
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_PRIORITY_HISTOGRAM = """
SELECT o_orderpriority, COUNT(*) AS n FROM orders
WHERE o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
GROUP BY o_orderpriority
"""


def q_events_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P7: predicate + projection, both pushed into the parquet scan."""
    cat = Catalog(spark, sf_dir)
    return cat.events.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0)
    ).select("event_id", "user_id", "value")


ORACLE_EVENTS_FILTER = """
SELECT event_id, user_id, value FROM events
WHERE event_type = 'purchase' AND value > 150.0
"""


def q_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 DISTINCT scan (``SELECT DISTINCT from_did FROM web_trust``,
    04_web_of_trust/benchmark_scenario_a.py:198)."""
    cat = Catalog(spark, sf_dir)
    return cat.customer.select(F.col("c_mktsegment").alias("segment")).distinct()


ORACLE_DISTINCT_SEGMENTS = "SELECT DISTINCT c_mktsegment AS segment FROM customer"


def q_entity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 UNION ALL of typed scans + group count."""
    cat = Catalog(spark, sf_dir)
    u = cat.customer.select(F.lit("customer").alias("entity_type")).unionByName(
        cat.supplier.select(F.lit("supplier").alias("entity_type"))
    )
    return u.groupBy("entity_type").agg(F.count(F.lit(1)).alias("n"))


ORACLE_ENTITY_COUNTS = """
SELECT entity_type, COUNT(*) AS n FROM (
  SELECT 'customer' AS entity_type FROM customer
  UNION ALL
  SELECT 'supplier' FROM supplier
) GROUP BY entity_type
"""


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 latest-row-wins window — the dedupe-to-latest building block of
    the CDC apply path (SURVEY §7.4-4)."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        cat.events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


ORACLE_LATEST_EVENT_PER_USER = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 stats harness aggregates (02_e2e_cdc.py:44-64) as engine ops."""
    cat = Catalog(spark, sf_dir)
    return cat.events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "total_value"
        ),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_value"),
    )


ORACLE_EVENT_TYPE_STATS = """
SELECT event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
FROM events GROUP BY event_type
"""


def q_order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the reference's p50/p95/p99 metric protocol
    (statistics.quantiles, common/bench_utils.py:44-60) as an exact
    interpolated percentile over the data itself."""
    cat = Catalog(spark, sf_dir)
    return cat.orders.agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


ORACLE_ORDER_PRICE_PERCENTILES = """
SELECT ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95,
       ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders
"""


# --------------------------------------------------------------------- #
# CDC-as-batch (SURVEY §2.8 C4/C5 apply semantics, oracle-checkable)
# --------------------------------------------------------------------- #


def q_cdc_apply_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table as a CDC log and compute the final sink
    state, with the op-dispatch semantics of the reference's sink
    (06_postgres_cdc_sink.py:32-64): signup=c upserts, error=d deletes,
    other=u updates (a u cannot resurrect a deleted row; a later c can).

    Final state per key: present iff last 'c' is after last 'd';
    value = value of the last c-or-u event.  event_id is the log sequence
    (the reference's monotonically increasing change_id)."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events
    s = ev.groupBy("user_id").agg(
        F.expr(
            "max(event_id) FILTER (WHERE event_type = 'signup')"
        ).alias("last_c"),
        F.expr("max(event_id) FILTER (WHERE event_type = 'error')").alias(
            "last_d"
        ),
        F.expr(
            "max_by(value, event_id) FILTER (WHERE event_type <> 'error')"
        ).alias("last_value"),
        F.expr(
            "max(event_id) FILTER (WHERE event_type <> 'error')"
        ).alias("last_event_id"),
    )
    return s.filter(
        F.col("last_c").isNotNull()
        & (F.col("last_d").isNull() | (F.col("last_c") > F.col("last_d")))
    ).select("user_id", "last_event_id", "last_value")


ORACLE_CDC_APPLY_EVENTS = """
SELECT user_id, last_event_id, last_value FROM (
  SELECT user_id,
    MAX(event_id) FILTER (WHERE event_type = 'signup') AS last_c,
    MAX(event_id) FILTER (WHERE event_type = 'error') AS last_d,
    MAX_BY(value, event_id) FILTER (WHERE event_type <> 'error') AS last_value,
    MAX(event_id) FILTER (WHERE event_type <> 'error') AS last_event_id
  FROM events GROUP BY user_id
) WHERE last_c IS NOT NULL AND (last_d IS NULL OR last_c > last_d)
"""


def q_events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream — the batch twin
    of the Structured-Streaming windowed aggregate (same ``F.window``
    call runs under readStream with a watermark; see streaming tests).
    Window start is emitted as epoch seconds: timezone-proof across
    engines."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


ORACLE_EVENTS_TUMBLING_HOURLY = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def recursive_cte_supported(spark: SparkSession) -> bool:
    """True when this Spark build parses+plans ``WITH RECURSIVE``
    (Spark >= 4.0, SPARK-24497: the UnionLoop physical operator).
    Probed once per session with a one-row recursion; the traversal
    family's literal-SQL surface falls back to the iterative kernel on
    builds where this is False — SURVEY §4's stated adoption plan."""
    cache = getattr(spark, "_graft_recursive_cte", None)
    if cache is None:
        try:
            spark.sql(
                "WITH RECURSIVE __p(n) AS (SELECT 1 UNION ALL"
                " SELECT n + 1 FROM __p WHERE n < 2)"
                " SELECT count(*) FROM __p"
            ).collect()
            cache = True
        except Exception:
            cache = False
        spark._graft_recursive_cte = cache
    return cache


def q_flat_chain_count_recursive_sql(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's chain-count SQL running NATIVELY as a Spark 4
    recursive CTE (``WITH RECURSIVE``) — the compatibility SQL surface
    (api.get_bench_query; reference common/bench_utils.py:9-34).  Same
    semantics as flat_chain_count, executed by Catalyst's UnionLoop
    instead of the iterative kernel; on Spark builds without recursive
    CTEs it falls back to the kernel (documented, probe-gated)."""
    if not recursive_cte_supported(spark):  # pragma: no cover - Spark<4
        return q_flat_chain_count(spark, sf_dir)
    from graphdb_for_drones_spark.api import get_bench_query

    cat = Catalog(spark, sf_dir)
    cat.customer.select(
        F.col("c_custkey").alias("drone_id"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("hq_id"),
    ).createOrReplaceTempView("delegation")
    return spark.sql(get_bench_query("N5", 3))


ORACLE_FLAT_CHAIN_COUNT_SQL = ORACLE_FLAT_CHAIN_COUNT


def q_delegation_reachable_recursive_sql(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded reachability as LITERAL ``WITH RECURSIVE`` SQL — the
    shared dialect-neutral template rendered with Spark's string-type
    spelling (``_delegation_reachable_sql("STRING")``; the oracle is the
    same template rendered ``VARCHAR``), planned natively by Catalyst's
    UnionLoop (Spark 4), beside the iterative-kernel twin
    `delegation_reachable`.  Hash-matches the same oracle, so the
    driver row certifies the NATIVE recursion path end-to-end
    (reference common/bench_utils.py:9-34 shape)."""
    if not recursive_cte_supported(spark):  # pragma: no cover - Spark<4
        return q_delegation_reachable(spark, sf_dir)
    from graphdb_for_drones_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_delegation_reachable_sql("STRING"))


# --------------------------------------------------------------------- #
# registry
# --------------------------------------------------------------------- #

QUERIES = {
    "delegation_reachable": q_delegation_reachable,
    "delegation_count_by_level": q_delegation_count_by_level,
    "flat_chain_count": q_flat_chain_count,
    "mission_count": q_mission_count,
    "vc_count_per_region": q_vc_count_per_region,
    "path_count_diamond": q_path_count_diamond,
    "wot_path_count": q_wot_path_count,
    "wot_path_count_short": q_wot_path_count_short,
    "abac_check": q_abac_check,
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "priority_histogram": q_priority_histogram,
    "events_filter": q_events_filter,
    "distinct_segments": q_distinct_segments,
    "entity_counts": q_entity_counts,
    "latest_event_per_user": q_latest_event_per_user,
    "event_type_stats": q_event_type_stats,
    "order_price_percentiles": q_order_price_percentiles,
    "cdc_apply_events": q_cdc_apply_events,
    "events_tumbling_hourly": q_events_tumbling_hourly,
    "flat_chain_count_recursive_sql": q_flat_chain_count_recursive_sql,
    "delegation_reachable_recursive_sql": q_delegation_reachable_recursive_sql,
}

ORACLES = {
    "delegation_reachable": ORACLE_DELEGATION_REACHABLE,
    "delegation_count_by_level": ORACLE_DELEGATION_COUNT_BY_LEVEL,
    "flat_chain_count": ORACLE_FLAT_CHAIN_COUNT,
    "mission_count": ORACLE_MISSION_COUNT,
    "vc_count_per_region": ORACLE_VC_COUNT_PER_REGION,
    "path_count_diamond": ORACLE_PATH_COUNT_DIAMOND,
    "wot_path_count": ORACLE_WOT_PATH_COUNT,
    "wot_path_count_short": ORACLE_WOT_PATH_COUNT_SHORT,
    "abac_check": ORACLE_ABAC_CHECK,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "top_customers": ORACLE_TOP_CUSTOMERS,
    "priority_histogram": ORACLE_PRIORITY_HISTOGRAM,
    "events_filter": ORACLE_EVENTS_FILTER,
    "distinct_segments": ORACLE_DISTINCT_SEGMENTS,
    "entity_counts": ORACLE_ENTITY_COUNTS,
    "latest_event_per_user": ORACLE_LATEST_EVENT_PER_USER,
    "event_type_stats": ORACLE_EVENT_TYPE_STATS,
    "order_price_percentiles": ORACLE_ORDER_PRICE_PERCENTILES,
    "cdc_apply_events": ORACLE_CDC_APPLY_EVENTS,
    "events_tumbling_hourly": ORACLE_EVENTS_TUMBLING_HOURLY,
    "flat_chain_count_recursive_sql": ORACLE_FLAT_CHAIN_COUNT_SQL,
    "delegation_reachable_recursive_sql": ORACLE_DELEGATION_REACHABLE,
}
