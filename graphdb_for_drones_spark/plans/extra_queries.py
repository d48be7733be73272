"""Round-2 coverage widening: TPC-H-shaped multi-join analytics, explicit
anti/semi joins, rollup, sliding windows, sessionization, as-of join,
grouped distincts/percentiles, triangle counting, and IVF similarity
search — each with a DuckDB oracle.

Determinism conventions as in plans/queries.py: decimal-exact sums cast
to double, epochs as BIGINT (ms where sub-second matters), percentiles
and cosines rounded to a fixed scale, nullable outputs coalesced to
sentinels (pandas represents nullable ints as floats, which would break
the driver's hash compare).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphdb_for_drones_spark.catalog import Catalog
from graphdb_for_drones_spark.operators import _index_store
from graphdb_for_drones_spark.operators.graph_algorithms import triangle_count
from graphdb_for_drones_spark.operators.similarity import ivf_open, ivf_search
from graphdb_for_drones_spark.operators.temporal import asof_join, session_stats
from graphdb_for_drones_spark.streaming.util import drain

# --------------------------------------------------------------------- #
# TPC-H-shaped relational family
# --------------------------------------------------------------------- #


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: selective dimension filter → 3-way join → grouped
    revenue → deterministic top-10.  The segment filter reduces customer
    before the join; revenue aggregates before the sort."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    orders = cat.orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = cat.lineitem.filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("rev"),
    )
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            "o_orderpriority",
        )
        .agg(F.sum("rev").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 6-way join (region→nation→customer→orders→lineitem→
    supplier with the local-supplier constraint) + grouped revenue.
    Dimension sides (region, nation, supplier) broadcast; the
    orders⋈lineitem shuffle carries only join keys + revenue."""
    cat = Catalog(spark, sf_dir)
    n = cat.nation.select("n_nationkey", "n_name", "n_regionkey")
    r = cat.region.filter(F.col("r_name") == "ASIA").select("r_regionkey")
    c = cat.customer.select("c_custkey", "c_nationkey")
    o = cat.orders.select("o_orderkey", "o_custkey")
    li = cat.lineitem.select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("rev"),
    )
    s = cat.supplier.select("s_suppkey", "s_nationkey")
    return (
        r.join(n, n["n_regionkey"] == r["r_regionkey"])
        .join(c, c["c_nationkey"] == n["n_nationkey"])
        .join(o, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            s,
            (s["s_suppkey"] == li["l_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum("rev").cast("double").alias("revenue"))
    )


ORACLE_REGION_VOLUME = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape (volume shipping): yearly revenue flowing between two
    nations in BOTH directions (supplier nation → customer nation).
    The nation filters are pushed into the DIMENSION sides before any
    fact join — supplier and customer shrink to the two nations'
    members before lineitem/orders shuffle — and the 25-row nation dims
    broadcast; the pair predicate then runs on the already-pruned
    stream.  Revenue decimal-summed (order-independent), year cast long
    on both engines."""
    cat = Catalog(spark, sf_dir)
    pair = ("NATION_1", "NATION_2")
    n1 = cat.nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("__snk"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = cat.nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("__cnk"),
        F.col("n_name").alias("cust_nation"),
    )
    s = cat.supplier.select("s_suppkey", "s_nationkey").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("__snk")
    ).select("s_suppkey", "supp_nation")
    c = cat.customer.select("c_custkey", "c_nationkey").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("__cnk")
    ).select("c_custkey", "cust_nation")
    o = cat.orders.select("o_orderkey", "o_custkey")
    li = cat.lineitem.select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("long").alias("yr"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("rev"),
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(F.sum("rev").cast("double").alias("revenue"))
    )


ORACLE_NATION_TRADE_FLOWS = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape (national market share): within the ASIA customer
    market, the yearly share of revenue supplied by NATION_5 —
    conditional aggregation (CASE inside SUM) over a 6-way join.  Both
    numerator and denominator are exact decimal sums; the share is one
    double division."""
    cat = Catalog(spark, sf_dir)
    asia_n = (
        cat.nation.join(
            F.broadcast(
                cat.region.filter(F.col("r_name") == "ASIA").select(
                    "r_regionkey"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("__cnk"))
    )
    c = cat.customer.select("c_custkey", "c_nationkey").join(
        F.broadcast(asia_n), F.col("c_nationkey") == F.col("__cnk")
    ).select("c_custkey")
    sn = cat.nation.select(
        F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("supp_nation")
    )
    s = cat.supplier.select("s_suppkey", "s_nationkey").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("__snk")
    ).select("s_suppkey", "supp_nation")
    o = cat.orders.select("o_orderkey", "o_custkey")
    li = cat.lineitem.select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("long").alias("yr"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("rev"),
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy("yr")
        .agg(
            F.sum("rev").cast("double").alias("mkt_revenue"),
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", F.col("rev"))
                .otherwise(zero)
            )
            .cast("double")
            .alias("nation5_revenue"),
        )
        .select(
            "yr",
            "mkt_revenue",
            "nation5_revenue",
            (F.col("nation5_revenue") / F.col("mkt_revenue")).alias("share"),
        )
    )


ORACLE_NATION_MARKET_SHARE = """
WITH asia_cust AS (
  SELECT c_custkey FROM customer
  JOIN nation ON n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'ASIA'
),
f AS (
  SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
         n_name AS supp_nation,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN orders ON o_orderkey = l_orderkey
  WHERE o_custkey IN (SELECT c_custkey FROM asia_cust)
),
agg AS (
  SELECT yr, CAST(SUM(rev) AS DOUBLE) AS mkt_revenue,
         CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           AS nation5_revenue
  FROM f GROUP BY yr
)
SELECT yr, mkt_revenue, nation5_revenue,
       nation5_revenue / mkt_revenue AS share
FROM agg
"""


def q_part_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit): per (supplier nation, year)
    profit on 'ECONOMY'-type parts, amount = revenue − retail cost of
    the shipped quantity (this schema has no partsupp, so p_retailprice
    stands in for ps_supplycost).  Both products are cast to
    DECIMAL(18,6) BEFORE the subtraction, so every per-row amount and
    the final sum are exact decimals on either engine."""
    cat = Catalog(spark, sf_dir)
    p = cat.part.filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey", "p_retailprice"
    )
    sn = cat.nation.select(
        F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("supp_nation")
    )
    s = cat.supplier.select("s_suppkey", "s_nationkey").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("__snk")
    ).select("s_suppkey", "supp_nation")
    li = cat.lineitem.select(
        "l_partkey",
        "l_suppkey",
        F.year("l_shipdate").cast("long").alias("yr"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)")
        .alias("rev"),
        F.col("l_quantity"),
    )
    amount = F.col("rev") - (
        F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("supp_nation", "yr")
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


ORACLE_PART_TYPE_PROFIT = """
SELECT n_name AS supp_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                - CAST(p_retailprice * l_quantity AS DECIMAL(18,6)))
            AS DOUBLE) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_type = 'ECONOMY'
GROUP BY 1, 2
"""


def q_supplier_shared_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite node similarity on the trade graph
    (operators/graph_algorithms.cooccurrence_similarity): top-20
    supplier pairs by shared-customer count with neighborhood jaccard —
    the co-purchase similarity primitive.  Pair enumeration rides the
    skew-adaptive posting-list path (map-side C(d,2) per customer,
    streamed self-join for degenerate hot customers).

    Scale policy (round 11): below ``dense_items_threshold`` items the
    hint routes through the dense branch (no pair stream); past it the
    posting path's Σ C(d,2) stream is budget-guarded
    (``EXACT_PAIRS_BUDGET`` — exceeding it raises and names the
    same-shape sampled twin `supplier_shared_customers_sampled`), so
    the exact plan can never silently go quadratic at 100 TB."""
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        cooccurrence_similarity,
    )

    cat = Catalog(spark, sf_dir)
    e = _trade_lines(cat).distinct()
    # supplier-table cardinality bounds the item dimension: asserting
    # it routes the similarity through the dense-matrix branch (no
    # 12.5M-row pair stream; see cooccurrence_similarity)
    return cooccurrence_similarity(
        e,
        group_col="o_custkey",
        item_col="l_suppkey",
        k=20,
        n_items_hint=cat.supplier.count(),
    ).select(
        F.col("id_a").alias("supp_a"),
        F.col("id_b").alias("supp_b"),
        "n_common",
        "jaccard",
    )


ORACLE_SUPPLIER_SHARED_CUSTOMERS = """
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
p AS (
  SELECT a.s AS s_a, b.s AS s_b FROM e a
  JOIN e b ON a.c = b.c AND a.s < b.s
),
cm AS (SELECT s_a, s_b, COUNT(*) AS n_common FROM p GROUP BY 1, 2),
d AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s)
SELECT cm.s_a AS supp_a, cm.s_b AS supp_b,
       CAST(n_common AS BIGINT) AS n_common,
       n_common * 1.0 / (da.deg + db.deg - n_common) AS jaccard
FROM cm JOIN d da ON da.s = cm.s_a JOIN d db ON db.s = cm.s_b
ORDER BY n_common DESC, supp_a ASC, supp_b ASC LIMIT 20
"""


_DIMSUM_GAMMA_FIXED = 32.0


def _q_dimsum(spark: SparkSession, sf_dir: str, gamma: float | None) -> DataFrame:
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        cooccurrence_similarity_sampled,
    )

    return cooccurrence_similarity_sampled(
        _trade_lines(Catalog(spark, sf_dir)).distinct(),
        group_col="o_custkey",
        item_col="l_suppkey",
        k=20,
        gamma=gamma,
    ).select(
        F.col("item_a").alias("supp_a"),
        F.col("item_b").alias("supp_b"),
        "deg_a",
        "deg_b",
        "est_common",
    )


def q_supplier_shared_customers_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DIMSUM-sampled twin of `supplier_shared_customers`
    (operators/graph_algorithms.cooccurrence_similarity_sampled): each
    shared-customer occurrence survives a DETERMINISTIC md5 coin with
    probability min(1, γ/√(deg_a·deg_b)) and the count is inverse-
    probability weighted — the scale path when the item dimension is
    too large for the dense branch and the exact pair-stream shuffle is
    the bottleneck.  The coin and the weights are bit-reproducible in
    plain SQL (52-bit md5 uniform vs one correctly-rounded IEEE
    sqrt/divide), so the oracle checks the SAMPLED estimates exactly —
    sampling without giving up the hash-exact driver gate.

    AUTO-γ (the default since round 11, VERDICT r10 task #3): γ =
    4·max(8, ⌈log₂ n_items⌉) derived from one column-pruned count of
    the supplier dimension (``auto_dimsum_gamma`` — integer bit_length,
    the auto_band_width pattern), reproduced from COUNT(*) in the SQL
    twin, so the gate row certifies the count → γ → coin → estimate
    derivation end-to-end.  A constant γ knees like the fixed 16-plane
    LSH geometry did; the pinned γ=32 plan lives on as the
    ``_fixed32`` A/B twin."""
    return _q_dimsum(spark, sf_dir, gamma=None)


def q_supplier_shared_customers_sampled_fixed32(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pinned-γ twin of `supplier_shared_customers_sampled` (γ=32, the
    r9-measured sf0.1 accuracy anchor) — kept as the A/B "before"
    evidence for the auto-γ default, exactly like
    `ann_near_pairs_fixed16` documents the LSH geometry knee."""
    return _q_dimsum(spark, sf_dir, gamma=_DIMSUM_GAMMA_FIXED)


def _dimsum_oracle_sql(gamma: float | None = None) -> str:
    # mirrors cooccurrence_similarity_sampled step for step: one md5
    # seed per group/item (the proven hex→int decode) and the SAME
    # Horner + two-squaring coin mod 2^31−1 — every intermediate
    # < 2^62, exact BIGINT arithmetic, so WHERE keeps the identical
    # occurrence set and est_common matches to the last bit.
    def seed31(expr: str) -> str:
        # COALESCE mirrors the engine's NULL-group space sentinel
        return (
            "CAST(list_sum(list_transform(range(15), i -> "
            "CAST(strpos('0123456789abcdef', substr(md5('dimsum:' || "
            f"COALESCE({expr}, ' ')), i+1, 1)) - 1 AS BIGINT)"
            " << ((14 - i) * 4))) AS BIGINT) % 2147483648"
        )

    # gamma=None -> derive γ from the item-dimension COUNT in SQL (the
    # g CTE below), matching the engine's auto_dimsum_gamma exactly;
    # a float pins it (the _fixed32 twin)
    gamma_expr = "(SELECT gamma FROM g)" if gamma is None else repr(gamma)
    return f"""
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
d AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
g AS (
  -- auto-γ = 4·max(8, ⌈log₂ n_items⌉): smallest w with 2^w >= COUNT(d)
  -- in integer arithmetic (bit-for-bit auto_dimsum_gamma); for a
  -- pinned γ this CTE is unused dead weight the planner drops
  SELECT CAST(4 * GREATEST(8, MIN(CAST(w AS INT))) AS DOUBLE) AS gamma
  FROM range(1, 40) t(w)
  WHERE (CAST(1 AS BIGINT) << CAST(w AS INT)) >= (SELECT COUNT(*) FROM d)
),
seeds AS (
  SELECT c, s, deg,
         {seed31("CAST(c AS VARCHAR)")} AS gx,
         {seed31("CAST(s AS VARCHAR)")} AS x
  FROM e JOIN d USING (s)
),
p AS (
  SELECT a.c AS g, a.s AS s_a, b.s AS s_b, a.deg AS da, b.deg AS db,
         ((((a.gx * 1103515245 + a.x) % 2147483647)
             * 1203793907 + b.x) % 2147483647) AS h0
  -- IS NOT DISTINCT FROM: the engine's groupBy + posting_pairs keeps
  -- NULL groups (round-9 NULL-coin sentinel), so the oracle's pair
  -- join must be null-safe too — `=` would silently drop them
  FROM seeds a JOIN seeds b
    ON a.c IS NOT DISTINCT FROM b.c AND a.s < b.s
),
coin AS (
  SELECT *, ((((h0 * h0 + 1) % 2147483647) * ((h0 * h0 + 1) % 2147483647)
              + 3) % 2147483647) AS h
  FROM p
),
kept AS (
  SELECT * FROM coin
  WHERE h / 2147483647.0
        < LEAST(1.0, {gamma_expr} / sqrt(CAST(da AS DOUBLE) * CAST(db AS DOUBLE)))
),
est AS (
  SELECT s_a, s_b, da, db,
         ROUND(COUNT(*) * GREATEST(1.0,
           sqrt(CAST(da AS DOUBLE) * CAST(db AS DOUBLE)) / {gamma_expr}), 9)
           AS est_common
  FROM kept GROUP BY s_a, s_b, da, db
)
SELECT s_a AS supp_a, s_b AS supp_b,
       CAST(da AS BIGINT) AS deg_a, CAST(db AS BIGINT) AS deg_b,
       est_common
FROM est ORDER BY est_common DESC, supp_a ASC, supp_b ASC LIMIT 20
"""


ORACLE_SUPPLIER_SHARED_CUSTOMERS_SAMPLED = _dimsum_oracle_sql()
ORACLE_SUPPLIER_SHARED_CUSTOMERS_SAMPLED_FIXED32 = _dimsum_oracle_sql(
    _DIMSUM_GAMMA_FIXED
)


def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table profile of ``orders``
    (operators/profiling.profile_table): per-column rows/nulls/exact-
    distinct counts and typed min/max as one job of column-PRUNED
    aggregates unioned (the wide single-aggregate form compiles N exact
    distincts into an (N+1)× row Expand — measured 29× slower; the
    pruned scans together read the bytes of one wide scan).  Timestamp
    extremes surface as epoch-ms doubles (engine-neutral)."""
    from graphdb_for_drones_spark.operators.profiling import profile_table

    cat = Catalog(spark, sf_dir)
    return profile_table(
        cat.orders,
        numeric_cols=("o_orderkey", "o_custkey", "o_totalprice"),
        string_cols=("o_orderstatus", "o_orderpriority"),
        ts_cols=("o_orderdate",),
    )


def _profile_oracle_sql() -> str:
    num = """
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_num,
       CAST(MAX({c}) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM orders"""
    st = """
SELECT '{c}', COUNT(*), COUNT(*) - COUNT({c}), COUNT(DISTINCT {c}),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), MIN({c}), MAX({c})
FROM orders"""
    ts = """
SELECT '{c}', COUNT(*), COUNT(*) - COUNT({c}), COUNT(DISTINCT {c}),
       CAST(epoch_ms(MIN({c})) AS DOUBLE), CAST(epoch_ms(MAX({c})) AS DOUBLE),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM orders"""
    parts = (
        [num.format(c=c) for c in ("o_orderkey", "o_custkey", "o_totalprice")]
        + [st.format(c=c) for c in ("o_orderstatus", "o_orderpriority")]
        + [ts.format(c="o_orderdate")]
    )
    return "\nUNION ALL\n".join(parts)


ORACLE_ORDERS_PROFILE = _profile_oracle_sql()


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ANTI join (delete-rewrite building block, SURVEY §2.6 M3)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer.join(
            cat.orders,
            cat.customer["c_custkey"] == cat.orders["o_custkey"],
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT COUNT(*) AS n_customers FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit SEMI join (the ABAC J10 pattern as a standalone op)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer.join(
            cat.orders,
            cat.customer["c_custkey"] == cat.orders["o_custkey"],
            "left_semi",
        ).agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_CUSTOMERS_WITH_ORDERS = """
SELECT COUNT(*) AS n_customers FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over (status, priority); subtotal rows keyed
    '(all)' so the nullable grouping keys stay hash-comparable."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
            "total",
        )
    )


ORACLE_ORDERS_ROLLUP = """
SELECT COALESCE(o_orderstatus, '(all)') AS status,
       COALESCE(o_orderpriority, '(all)') AS priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------- #
# windows / temporal family
# --------------------------------------------------------------------- #


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (status, year): all four aggregation
    granularities — (status, year), (status), (year), () — in one pass
    (the ROLLUP entry's lattice-completing sibling; Spark compiles both
    to one Expand + aggregate, not four scans).  Subtotal keys coalesce
    to '(all)' / -1 so the nullable grouping columns stay
    hash-comparable."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders.select(
            "o_orderstatus",
            F.year(F.col("o_orderdate").cast("timestamp"))
            .cast("long")
            .alias("yr"),
            "o_totalprice",
        )
        .cube("o_orderstatus", "yr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("yr", F.lit(-1)).alias("yr"),
            "n",
            "total",
        )
    )


ORACLE_ORDERS_CUBE = """
SELECT COALESCE(o_orderstatus, '(all)') AS status,
       COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT), -1) AS yr,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, EXTRACT(year FROM o_orderdate))
"""


def q_events_pivot_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (crosstab): events per (type × day-of-week) as one wide
    row per type with dow_1..dow_7 count columns (ISO dayofweek,
    1=Sunday in Spark's dayofweek — pinned identically via CASE sums in
    the oracle).  The reshape step a reporting layer runs after
    aggregation; Spark's pivot compiles to one pass of conditional
    aggregates, exactly the oracle's formulation."""
    cat = Catalog(spark, sf_dir)
    base = cat.events.select(
        "event_type", F.dayofweek("ts").alias("dow")
    )
    pivoted = (
        base.groupBy("event_type")
        .pivot("dow", list(range(1, 8)))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "event_type",
        *[
            F.coalesce(F.col(str(d)), F.lit(0)).cast("long").alias(f"dow_{d}")
            for d in range(1, 8)
        ],
    )


ORACLE_EVENTS_PIVOT_DOW = """
SELECT event_type,
""" + ",\n".join(
    # DuckDB dayofweek: 0=Sunday..6=Saturday; Spark: 1=Sunday..7=Saturday
    f"  CAST(SUM(CASE WHEN dayofweek(ts) = {d - 1} THEN 1 ELSE 0 END)"
    f" AS BIGINT) AS dow_{d}"
    for d in range(1, 8)
) + """
FROM events GROUP BY event_type
"""


def q_event_value_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value trend (operators/stats.ols_trend): least-squares
    slope/intercept of event value over epoch-HOURS — the drift signal
    a monitoring layer fits continuously.  x = epoch_ms DIV 3600000 is
    an exact integer (epoch-ms squared would overflow the decimal
    moment; hours keep x² within range), every moment is an exact
    decimal sum, and the closed form unpacks in one documented op order
    — unlike the engine-native regr_*/corr aggregates, which fold
    doubles in partition order and can't be hash-paired."""
    from graphdb_for_drones_spark.operators.stats import ols_trend

    cat = Catalog(spark, sf_dir)
    # integer `div`, not `/`-then-cast: the double quotient of an
    # epoch-ms value can round across the floor boundary
    ev = cat.events.select(
        "event_type",
        F.expr("unix_millis(cast(ts as timestamp)) div 3600000").alias("xh"),
        "value",
    )
    return ols_trend(ev, ["event_type"], "xh", "value")


ORACLE_EVENT_VALUE_TRENDS = """
WITH b AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS xh, value FROM events
),
c AS (
  SELECT event_type,
         xh - MIN(xh) OVER (PARTITION BY event_type) AS x,
         value - MIN(value) OVER (PARTITION BY event_type) AS y,
         MIN(xh) OVER (PARTITION BY event_type) AS x0,
         MIN(value) OVER (PARTITION BY event_type) AS y0
  FROM b
),
m AS (
  SELECT event_type, COUNT(*) AS n,
         ANY_VALUE(x0) AS x0, ANY_VALUE(y0) AS y0,
         CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx
  FROM c GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(x0 AS BIGINT) AS x0,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
         ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
       END AS slope,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
         ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
               + y0, 6)
       END AS intercept0
FROM m
"""


def q_lineitem_price_qty_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation of quantity vs extended price
    (operators/stats.pearson_corr) — the engine's `corr` surface made
    deterministic: exact decimal moments, closed form in one op order,
    NULL on zero variance instead of NaN."""
    from graphdb_for_drones_spark.operators.stats import pearson_corr

    cat = Catalog(spark, sf_dir)
    return pearson_corr(
        cat.lineitem, ["l_returnflag"], "l_quantity", "l_extendedprice"
    )


ORACLE_LINEITEM_PRICE_QTY_CORR = """
WITH c AS (
  SELECT l_returnflag,
         l_quantity - MIN(l_quantity) OVER (PARTITION BY l_returnflag) AS x,
         l_extendedprice - MIN(l_extendedprice)
           OVER (PARTITION BY l_returnflag) AS y
  FROM lineitem
),
m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS syy
  FROM c GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         ROUND((n * sxy - sx * sy)
               / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
       END AS r
FROM m
"""


def q_events_native_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` (30-minute gap) per user — the
    streaming-capable session operator (the same call runs under
    readStream with a watermark), beside the batch lag+cumsum twin
    `user_sessions`.  Sessions are identical by definition: a session
    is a maximal run of events with < gap between neighbors, so the
    islands formulation in the oracle reproduces every (start, n, last)
    tuple exactly (epoch-ms integers)."""
    cat = Catalog(spark, sf_dir)
    ts = F.col("ts").cast("timestamp")
    sessed = (
        cat.events.select("user_id", ts.alias("ts"))
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.unix_millis(F.max("ts")).alias("last_ms"),
        )
    )
    return sessed.select(
        "user_id",
        F.unix_millis(F.col("w.start")).alias("session_start_ms"),
        "n_events",
        "last_ms",
    )


ORACLE_EVENTS_NATIVE_SESSION_WINDOWS = """
WITH seq AS (
  SELECT user_id, epoch_ms(ts) AS ms,
         LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ms
  FROM events
),
marked AS (
  SELECT user_id, ms,
         CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000
              THEN 1 ELSE 0 END AS is_new
  FROM seq
),
numbered AS (
  SELECT user_id, ms,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM marked
)
SELECT user_id, CAST(MIN(ms) AS BIGINT) AS session_start_ms,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(ms) AS BIGINT) AS last_ms
FROM numbered GROUP BY user_id, sess
"""


def q_customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend quartiles via the ranking-window surface NTILE /
    PERCENT_RANK / CUME_DIST (the remaining SQL window functions the
    catalog didn't exercise), rolled up per quartile with spend bounds
    and the quartile's max cumulative share.  The global order is
    (spend, custkey) — total, so every window value is deterministic.

    Scale note: a global NTILE is inherently a single total order; this
    entry exercises the SQL surface at dimension size (customers),
    while the DISTRIBUTED equal-frequency path for fact-scale data is
    `doc_difficulty_deciles` (value-bucketed rank, no one-partition
    window)."""
    cat = Catalog(spark, sf_dir)
    spend = (
        cat.orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend")
        )
    )
    w = Window.orderBy("spend", "o_custkey")
    ranked = spend.select(
        "spend",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return ranked.groupBy("quartile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.min("spend"), 2).alias("min_spend"),
        F.round(F.max("spend"), 2).alias("max_spend"),
        F.round(F.max("pr"), 6).alias("max_percent_rank"),
        F.round(F.max("cd"), 6).alias("max_cume_dist"),
    )


ORACLE_CUSTOMER_SPEND_QUARTILES = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT spend,
         NTILE(4) OVER (ORDER BY spend, o_custkey) AS quartile,
         PERCENT_RANK() OVER (ORDER BY spend, o_custkey) AS pr,
         CUME_DIST() OVER (ORDER BY spend, o_custkey) AS cd
  FROM spend
)
SELECT quartile, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(MIN(spend), 2) AS min_spend,
       ROUND(MAX(spend), 2) AS max_spend,
       ROUND(MAX(pr), 6) AS max_percent_rank,
       ROUND(MAX(cd), 6) AS max_cume_dist
FROM r GROUP BY quartile
"""


def q_trade_cheapest_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from customer c1 over the
    undirected trade graph (operators/graph_algorithms.weighted_sssp —
    bounded Bellman-Ford relaxation): edge cost = GREATEST(1, 10 − n)
    for n trade lines between the pair (affinity-inverse — heavy trade
    is cheap to route through), 4 relaxation rounds.  The classic
    node-bounded relaxation loop — hash-checkable because integer MIN
    reductions are order-independent; the oracle unrolls the 4 rounds
    as CTEs (a recursive path enumeration would explode on this dense
    graph — relaxation cannot).

    The relaxation runs on :func:`_trade_keys`' long vertex ids (the
    trade lines are counted per encoded pair, c1 is id 2) and only the
    reached nodes are decoded by :func:`_trade_id`."""
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        weighted_sssp,
    )

    cat = Catalog(spark, sf_dir)
    pairs = (
        _trade_lines(cat)
        .groupBy(*_trade_ends())
        .agg(
            F.greatest(F.lit(1).cast("long"), F.lit(10) - F.count(F.lit(1)))
            .cast("long")
            .alias("w")
        )
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    best = weighted_sssp(edges, 2, rounds=4)
    return best.filter(F.col("id") != 2).select(
        _trade_id("id").alias("id"), "cost"
    )


def _sssp_oracle_sql(rounds: int = 4) -> str:
    # AS MATERIALIZED on every chained round: each d_k unions the
    # previous round twice, and DuckDB inlines plain CTEs per reference
    # (the k-core 2^rounds lesson — same fix, applied preemptively).
    ctes = []
    prev = "d0"
    for k in range(1, rounds + 1):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT id, MIN(cost) AS cost FROM (
    SELECT id, cost FROM {prev}
    UNION ALL
    SELECT e.dst AS id, {prev}.cost + e.w AS cost
    FROM {prev} JOIN e ON e.src = {prev}.id
  ) GROUP BY id
)"""
        )
        prev = f"d{k}"
    body = ",\n".join(ctes)
    return f"""
WITH e0 AS (
  SELECT o_custkey AS c, l_suppkey AS s, COUNT(*) AS n
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
wts AS MATERIALIZED (
  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst,
         CAST(GREATEST(1, 10 - n) AS BIGINT) AS w
  FROM e0
),
e AS MATERIALIZED (SELECT src, dst, w FROM wts UNION ALL SELECT dst, src, w FROM wts),
d0(id, cost) AS (VALUES ('c1', CAST(0 AS BIGINT))),
{body}
SELECT id, CAST(cost AS BIGINT) AS cost FROM {prev} WHERE id <> 'c1'
"""


ORACLE_TRADE_CHEAPEST_ROUTE = _sssp_oracle_sql()


def q_shipping_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→shipment delay distribution: integer-day lag between
    o_orderdate and each l_shipdate, bucketed by week — the date-
    arithmetic family (datediff) as a fulfillment-latency histogram.
    All integers; the fact join shuffles on orderkey only."""
    cat = Catalog(spark, sf_dir)
    o = cat.orders.select("o_orderkey", "o_orderdate")
    li = cat.lineitem.select("l_orderkey", "l_shipdate")
    lag_days = F.datediff(
        F.col("l_shipdate").cast("timestamp").cast("date"),
        F.col("o_orderdate").cast("timestamp").cast("date"),
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.floor(lag_days / 7).cast("long").alias("lag_weeks"))
        .groupBy("lag_weeks")
        .agg(F.count(F.lit(1)).cast("long").alias("n_lineitems"))
    )


ORACLE_SHIPPING_DELAY_HISTOGRAM = """
SELECT CAST(FLOOR(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(l_shipdate AS DATE)) / 7.0) AS BIGINT)
         AS lag_weeks,
       COUNT(*) AS n_lineitems
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY 1
"""


def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM analysis rollup per market segment: Recency = days from each
    customer's last order to the corpus max date, Frequency = orders
    per customer, Monetary = customer spend — averaged per segment with
    decimal-exact sums (the marketing-analytics standard).  The corpus
    max date binds as a one-row broadcast scalar (whitelisted NLJ
    idiom)."""
    cat = Catalog(spark, sf_dir)
    o = cat.orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").cast("date").alias("d"),
        "o_totalprice",
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.max("d").alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__m"),
    )
    maxd = o.agg(F.max("d").alias("__maxd"))
    rfm = per_cust.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff(F.col("__maxd"), F.col("last_d")).cast("long").alias("rec"),
        "freq",
        "__m",
    )
    seg = cat.customer.select("c_custkey", "c_mktsegment")
    return (
        rfm.join(seg, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum("rec").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_recency_days"),
            F.round(
                F.sum("freq").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_frequency"),
            F.round(
                F.sum("__m").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_monetary"),
        )
    )


ORACLE_CUSTOMER_RFM_SEGMENTS = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice
  FROM orders
),
pc AS (
  SELECT o_custkey, MAX(d) AS last_d, COUNT(*) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
  FROM o GROUP BY o_custkey
),
mx AS (SELECT MAX(d) AS maxd FROM o),
rfm AS (
  SELECT o_custkey,
         date_diff('day', last_d, mx.maxd) AS rec, freq, m
  FROM pc CROSS JOIN mx
)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(rec) AS DOUBLE) / COUNT(*), 6) AS avg_recency_days,
       ROUND(CAST(SUM(freq) AS DOUBLE) / COUNT(*), 6) AS avg_frequency,
       ROUND(CAST(SUM(m) AS DOUBLE) / COUNT(*), 6) AS avg_monetary
FROM rfm JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


def q_event_type_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (the TWAP / telemetry
    duty-cycle primitive): each observation holds until the type's next
    event, so its weight is that interval in exact epoch-ms integers;
    twap = Σ(v·w)/Σ(w) with decimal-exact sums (per-row double product,
    order-independent decimal reduction — the repo's float convention).
    The stream's last observation per type has no successor and drops
    out (standard TWAP windowing).  Order is total via (ts, event_id)."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    seq = cat.events.select(
        "event_type",
        "value",
        (F.lead(ms).over(w) - ms).alias("__w"),
    ).filter(F.col("__w").isNotNull())
    num = F.sum(
        (F.col("value") * F.col("__w")).cast("decimal(28,10)")
    ).cast("double")
    den = F.sum("__w").cast("double")
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("__w").cast("long").alias("total_ms"),
        F.round(num / den, 6).alias("twap"),
    )


ORACLE_EVENT_TYPE_TWAP = """
WITH seq AS (
  SELECT event_type, value,
         LEAD(epoch_ms(ts)) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id)
           - epoch_ms(ts) AS w
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(w) AS BIGINT) AS total_ms,
       ROUND(CAST(SUM(CAST(value * w AS DECIMAL(28,10))) AS DOUBLE)
             / CAST(SUM(w) AS DOUBLE), 6) AS twap
FROM seq WHERE w IS NOT NULL
GROUP BY event_type
"""


def q_event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov
    estimate): LEAD over each user's (ts, event_id)-ordered stream —
    event_id breaks timestamp ties, so the order is total and the
    matrix deterministic — counted per (from_type, to_type) with the
    row-normalized transition probability.  The sequence-analytics
    primitive under next-action prediction and funnel diagnosis; one
    sort-within-user window + one partial-aggregated groupBy."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = cat.events.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n") * F.lit(1.0) / tot).alias("p"),
    )


ORACLE_EVENT_TYPE_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, COUNT(*) AS n FROM seq
  WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       n * 1.0 / SUM(n) OVER (PARTITION BY from_type) AS p
FROM c
"""


def q_event_type_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (MAD) outlier detection per event type: median absolute
    deviation instead of mean/stddev, so the threshold itself is immune
    to the outliers it hunts (a handful of 1000x spikes inflate sigma
    and hide themselves from the 3-sigma gate — the classic z-score
    failure MAD fixes; Leys et al. 2013).  Flag |x − median| >
    3 · 1.4826 · MAD.  Exact interpolated percentiles on both engines
    (the `order_price_percentiles` parity), two windowed passes over
    one key-partitioned exchange."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("event_type")
    med = F.expr("percentile(value, 0.5)").over(w)
    staged = cat.events.select(
        "event_type", "value", med.alias("__med")
    )
    mad = F.expr("percentile(abs(value - __med), 0.5)").over(
        Window.partitionBy("event_type")
    )
    flagged = staged.withColumn("__mad", mad)
    thr = F.lit(3.0) * F.lit(1.4826) * F.col("__mad")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.abs(F.col("value") - F.col("__med")) > thr, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
        F.round(F.max("__med"), 6).alias("median_value"),
        F.round(F.max("__mad"), 6).alias("mad_value"),
    )


ORACLE_EVENT_TYPE_ROBUST_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, med.m,
         ABS(e.value - med.m) AS ad
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM dev
  GROUP BY event_type
)
SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN d.ad > 3.0 * 1.4826 * mad.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       ROUND(MAX(d.m), 6) AS median_value,
       ROUND(MAX(mad.mad), 6) AS mad_value
FROM dev d JOIN mad USING (event_type)
GROUP BY d.event_type
"""


def q_event_type_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed mean per event type — the third rung of the robust-stats
    family beside the 3σ z-score and MAD gates: drop the lowest and
    highest ceil(5%) of rows by a DETERMINISTIC rank ((value, event_id)
    — the event_id tiebreak makes the kept SET identical across
    engines even on tied values) and report the mean of the rest with
    exact decimal sums.  Trim width is pure integer arithmetic
    (ceil(n/20) = (n+19) div 20), so the whole statistic is
    hash-exact.  One key-partitioned exchange: rank and count ride the
    same window, the rollup reuses its partitioning."""
    cat = Catalog(spark, sf_dir)
    kw = Window.partitionBy("event_type")
    rn = F.row_number().over(
        kw.orderBy(F.col("value").asc(), F.col("event_id").asc())
    )
    n = F.count(F.lit(1)).over(kw)
    staged = cat.events.select(
        "event_type",
        "value",
        rn.alias("__rn"),
        n.alias("__n"),
        F.expr("(count(1) OVER (PARTITION BY event_type) + 19) div 20").alias(
            "__t"
        ),
    )
    kept = staged.filter(
        (F.col("__rn") > F.col("__t"))
        & (F.col("__rn") <= F.col("__n") - F.col("__t"))
    )
    return kept.groupBy("event_type").agg(
        F.max("__n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("trimmed_mean"),
        F.round(F.min("value"), 9).alias("kept_min"),
        F.round(F.max("value"), 9).alias("kept_max"),
    )


ORACLE_EVENT_TYPE_TRIMMED_STATS = """
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
k AS (
  SELECT event_type, value, n FROM r
  WHERE rn > (n + 19) // 20 AND rn <= n - (n + 19) // 20
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*),
             9) AS trimmed_mean,
       ROUND(MIN(value), 9) AS kept_min,
       ROUND(MAX(value), 9) AS kept_max
FROM k GROUP BY event_type
"""


def q_event_type_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection per event type: events beyond 3σ of
    their type's mean — the streaming-alert / data-quality gate shape,
    batch twin.  Both moments are EXACT decimal sums (S1 as
    DECIMAL(18,6), S2 as DECIMAL(28,10)) unpacked to doubles in the
    same op order on both engines, so the 3σ comparison itself is
    bit-identical, not just approximately equal.  One scan: moments as
    unbounded windows over event_type (the count-per-key window rule —
    a groupBy+join-back would scan events twice)."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("event_type")
    v = F.col("value")
    n = F.count(F.lit(1)).over(w)
    mean = F.sum(v.cast("decimal(18,6)")).over(w).cast("double") / n
    ex2 = (
        F.sum((v * v).cast("decimal(28,10)")).over(w).cast("double") / n
    )
    std = F.sqrt(ex2 - mean * mean)
    flagged = cat.events.select(
        "event_type",
        v.alias("v"),
        n.alias("__n"),
        mean.alias("__m"),
        std.alias("__s"),
    )
    return flagged.groupBy("event_type").agg(
        F.max("__n").cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.abs(F.col("v") - F.col("__m")) > F.lit(3.0) * F.col("__s"),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_outliers"),
        F.round(F.max("__m"), 6).alias("mean_value"),
        F.round(F.max("__s"), 6).alias("stddev_value"),
    )


ORACLE_EVENT_TYPE_OUTLIERS = """
WITH st AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
),
f AS (
  SELECT e.event_type, e.value, st.n,
         st.s1 / st.n AS m,
         sqrt(st.s2 / st.n - (st.s1 / st.n) * (st.s1 / st.n)) AS s
  FROM events e JOIN st USING (event_type)
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ABS(value - m) > 3.0 * s THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       ROUND(MAX(m), 6) AS mean_value,
       ROUND(MAX(s), 6) AS stddev_value
FROM f GROUP BY event_type
"""


def q_events_hourly_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample (operators/temporal.resample_counts):
    per event type, the COMPLETE hourly grid from first to last event
    with zero-filled counts and decimal-summed value totals — the
    property plain windowed aggregation can't give you: a silent-outage
    hour EXISTS as a row with n=0.  The grid is engine-side
    ``sequence``+explode, bounded by span/bucket, never a driver loop."""
    from graphdb_for_drones_spark.operators.temporal import resample_counts

    cat = Catalog(spark, sf_dir)
    return resample_counts(
        cat.events, "ts", "event_type", 3_600_000, value_col="value"
    ).select(
        F.col("grp").alias("event_type"), "bucket_start", "n", "total"
    )


ORACLE_EVENTS_HOURLY_GAPFILLED = """
WITH c AS (
  SELECT event_type,
         CAST(epoch_ms(ts) - epoch_ms(ts) % 3600000 AS BIGINT)
           AS bucket_start,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
  FROM events GROUP BY 1, 2
),
b AS (
  SELECT event_type, MIN(bucket_start) AS lo, MAX(bucket_start) AS hi
  FROM c GROUP BY 1
),
g AS (
  SELECT event_type,
         unnest(range(lo, hi + 3600000, 3600000)) AS bucket_start
  FROM b
)
SELECT g.event_type, CAST(g.bucket_start AS BIGINT) AS bucket_start,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       COALESCE(c.total, 0.0) AS total
FROM g LEFT JOIN c USING (event_type, bucket_start)
"""


def q_events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 15 min slide): each event lands in 4
    overlapping windows.  Same F.window call runs under readStream with a
    watermark — this is the batch twin."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


ORACLE_EVENTS_SLIDING_WINDOWS = """
SELECT CAST(FLOOR(epoch_ms(ts) / 900000) * 900 - k * 900 AS BIGINT)
         AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events CROSS JOIN range(4) t(k)
GROUP BY 1, 2
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) + per-session aggregates — the
    session-corpus construction op of a training-data pipeline."""
    cat = Catalog(spark, sf_dir)
    return session_stats(cat.events, gap_ms=30 * 60 * 1000)


ORACLE_USER_SESSIONS = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS tsm FROM events
),
l AS (
  SELECT *, CASE WHEN tsm - LAG(tsm) OVER
      (PARTITION BY user_id ORDER BY tsm, event_id) > 1800000
    THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT *, CAST(1 + SUM(brk) OVER (
      PARTITION BY user_id ORDER BY tsm, event_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM l
)
SELECT user_id, session_seq, MIN(tsm) AS session_start_ms,
       COUNT(*) AS n_events, MAX(tsm) - MIN(tsm) AS duration_ms
FROM s GROUP BY user_id, session_seq
"""


def q_asof_signup_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the user's most recent
    signup timestamp at-or-before it.  Engine side runs the scalable
    union+running-window formulation; the oracle is an independent
    correlated-MAX formulation (DuckDB), so the check is cross-
    algorithmic, not just cross-engine.  -1 = no prior signup."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_millis("ts").alias("purchase_ms")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.unix_millis("ts").alias("sig_ms")
    )
    out = asof_join(
        purchases,
        signups,
        on="user_id",
        left_ts="purchase_ms",
        right_ts="sig_ms",
        value_col="sig_ms",
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_ms",
        F.coalesce("asof_sig_ms", F.lit(-1)).cast("long").alias("last_signup_ms"),
    )


ORACLE_ASOF_SIGNUP_BEFORE_PURCHASE = """
WITH p AS (
  SELECT event_id, user_id, epoch_ms(ts) AS purchase_ms
  FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT user_id, epoch_ms(ts) AS sig_ms
  FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, p.purchase_ms,
       COALESCE((SELECT MAX(s.sig_ms) FROM s
                 WHERE s.user_id = p.user_id
                   AND s.sig_ms <= p.purchase_ms), -1) AS last_signup_ms
FROM p
"""


def q_events_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval RANGE JOIN: events against derived daily
    maintenance windows (02:00-06:00 per day), bucketized equi-join
    formulation (operators/temporal.range_join) — the oracle is the
    plain BETWEEN theta join."""
    from graphdb_for_drones_spark.operators.temporal import range_join

    cat = Catalog(spark, sf_dir)
    ev = cat.events.select(
        "event_id", "event_type", F.unix_millis("ts").alias("tsm")
    )
    days = (
        cat.events.select(
            F.unix_millis(F.date_trunc("day", F.col("ts"))).alias("day_ms")
        )
        .distinct()
    )
    windows = days.select(
        "day_ms",
        (F.col("day_ms") + 2 * 3_600_000).alias("w_start"),
        (F.col("day_ms") + 6 * 3_600_000).alias("w_end"),
    )
    joined = range_join(ev, windows, "tsm", "w_start", "w_end")
    return joined.groupBy("day_ms", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


ORACLE_EVENTS_IN_WINDOWS = """
WITH w AS (
  SELECT DISTINCT epoch_ms(date_trunc('day', ts)) AS day_ms FROM events
)
SELECT w.day_ms, e.event_type, COUNT(*) AS n_events
FROM events e JOIN w
  ON epoch_ms(e.ts) >= w.day_ms + 2 * 3600000
 AND epoch_ms(e.ts) <  w.day_ms + 6 * 3600000
GROUP BY 1, 2
"""


def q_event_user_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group (two-phase distinct aggregation)."""
    cat = Catalog(spark, sf_dir)
    return cat.events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_EVENT_USER_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact interpolated percentiles (A6 per group)."""
    cat = Catalog(spark, sf_dir)
    return cat.events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


ORACLE_EVENT_VALUE_PERCENTILES = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.95), 4) AS p95
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------- #
# graph + similarity family
# --------------------------------------------------------------------- #


def q_nation_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the nation graph (chain k→k+1 ∪ co-region
    cliques) — wedge-join formulation, canonical edge orientation."""
    cat = Catalog(spark, sf_dir)
    a = cat.nation.select(F.col("n_nationkey").alias("k"))
    b = cat.nation.select(F.col("n_nationkey").alias("k2"))
    chain = a.join(b, b["k2"] == a["k"] + 1).select(
        F.col("k").alias("src"), F.col("k2").alias("dst")
    )
    x = cat.nation.select(
        F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("rx")
    )
    y = cat.nation.select(
        F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("ry")
    )
    coregion = x.join(
        y, (x["rx"] == y["ry"]) & (x["src"] < y["dst"])
    ).select("src", "dst")
    return triangle_count(chain.unionByName(coregion))


ORACLE_NATION_TRIANGLES = """
WITH raw AS (
  SELECT a.n_nationkey AS src, b.n_nationkey AS dst
  FROM nation a JOIN nation b ON b.n_nationkey = a.n_nationkey + 1
  UNION ALL
  SELECT x.n_nationkey, y.n_nationkey
  FROM nation x JOIN nation y
    ON x.n_regionkey = y.n_regionkey AND x.n_nationkey < y.n_nationkey
),
e AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e2.a = e1.b
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier trade graph (distinct pairs
    through orders⋈lineitem), 3 supersteps of FIXED-POINT INTEGER
    arithmetic (operators/graph_algorithms.pagerank_fixed_point) — the
    iterative-algorithm entry the driver gate can HASH-CHECK: integer
    sums are reduction-order-independent, so the oracle unrolls the
    identical supersteps as CTE stages and matches bit-for-bit (a
    floating-point PageRank could only ever be rows-only).  The
    supersteps run on :func:`_trade_keys`' long ids; only the ranked
    vertices are decoded."""
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        pagerank_fixed_point,
    )

    cat = Catalog(spark, sf_dir)
    ranks = pagerank_fixed_point(_trade_keys(cat), iterations=3)
    return ranks.select(_trade_id("id").alias("id"), "rank_fp", "rank")


def _pagerank_oracle_sql(
    iterations: int = 3,
    scale: int = 10**12,
    num: int = 17,
    den: int = 20,
) -> str:
    """Unroll pagerank_fixed_point's supersteps as CTE stages — same
    integer arithmetic (// is floor division; all operands nonnegative,
    so it matches Spark's `div` truncation), SUMs cast back to BIGINT
    (DuckDB SUM(BIGINT) is HUGEINT — the round-4 lesson)."""
    base = (scale * (den - num)) // den
    stages = []
    prev = "r0"
    for i in range(1, iterations + 1):
        stages.append(
            f"""i{i} AS MATERIALIZED (
  SELECT v.id,
         CAST({base} + ({num} * COALESCE(s.m, 0)) // {den} AS BIGINT) AS r
  FROM v LEFT JOIN (
    SELECT e.dst AS id, CAST(SUM({prev}.r // d.deg) AS BIGINT) AS m
    FROM e JOIN {prev} ON {prev}.id = e.src JOIN d ON d.id = e.src
    GROUP BY e.dst
  ) s ON s.id = v.id
)"""
        )
        prev = f"i{i}"
    joined = ",\n".join(stages)
    return f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
d AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS MATERIALIZED (SELECT id, CAST({scale} AS BIGINT) AS r FROM v),
{joined}
SELECT id, r AS rank_fp, r / {float(scale)} AS rank FROM {prev}
"""


ORACLE_SUPPLIER_PAGERANK = _pagerank_oracle_sql()


def q_trade_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree centrality over the customer→supplier trade graph
    (operators/graph_algorithms.degrees): out-degree = distinct
    suppliers a customer bought from, in-degree = distinct customers a
    supplier sold to — the issuer-fan-out / signer-fan-in analysis of
    the web-of-trust surface on TPC-H-shaped data.  Counted on
    :func:`_trade_keys`' long ids; only the per-vertex rows are
    decoded."""
    from graphdb_for_drones_spark.operators.graph_algorithms import degrees

    cat = Catalog(spark, sf_dir)
    return degrees(_trade_keys(cat)).select(
        _trade_id("id").alias("id"), "out_degree", "in_degree"
    )


ORACLE_TRADE_GRAPH_DEGREES = """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
od AS (SELECT src AS id, COUNT(*) AS out_degree FROM e GROUP BY src),
ind AS (SELECT dst AS id, COUNT(*) AS in_degree FROM e GROUP BY dst)
SELECT COALESCE(od.id, ind.id) AS id,
       CAST(COALESCE(od.out_degree, 0) AS BIGINT) AS out_degree,
       CAST(COALESCE(ind.in_degree, 0) AS BIGINT) AS in_degree
FROM od FULL OUTER JOIN ind ON od.id = ind.id
"""


def q_trade_trust_from_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-of-trust scoring over the UNDIRECTED trade graph, run on the
    node-mode BFS kernel (``traversal.reachable_counts``): trust flows out
    from customer c1 with per-hop decay 1/2, a node's score is the max
    over paths = decay^(BFS min depth).  decay=0.5 makes every score an
    EXACT power of two (0.5·x is exact in IEEE) and max over exact
    values is reduction-order-independent — so even this float
    iterative algorithm is driver-hash-checkable; the oracle computes
    1.0 / (1 << min_depth) from a bounded recursive CTE."""
    from graphdb_for_drones_spark.operators._pin import pin, release
    from graphdb_for_drones_spark.traversal import reachable_counts

    cat = Catalog(spark, sf_dir)
    # r12 optimization (guide §1.2): with decay < 1, max-over-paths ==
    # decay^(BFS min depth) — exactly what the oracle computes — so a
    # fixed-superstep trust propagation (4 full-edge relaxations; every
    # hop re-expands every reached node) is replaced by the node-mode
    # BFS kernel (each node expanded ONCE, at its min level) plus the
    # exact 2^-level map (0.5^k is one exact IEEE value; the shiftleft
    # form is the oracle's own 1/(1<<d)).  `pairs` is pinned before the
    # symmetrizing union so the orders⋈lineitem+distinct derivation
    # runs once, not once per union leg.  Measured 4.9 → 3.6 s at
    # sf0.1, identical (id, trust) rows.
    pairs = pin(_trade_keys(cat))
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # seed c1 is long id 2; the BFS keys its rows by str(), so `node` is
    # cast back to the long id before it is decoded
    r = reachable_counts(edges, [2], 4, mode="node", include_seed=True)
    # the levels are a local frame or pinned, so `pairs` is never read
    # again
    release(pairs)
    r = r.select(F.col("node").cast("long").alias("id"), "level")
    return r.select(
        _trade_id("id").alias("id"),
        F.expr(
            "1.0 / cast(shiftleft(cast(1 as bigint), level) as double)"
        ).alias("trust"),
    )


ORACLE_TRADE_TRUST_FROM_ANCHOR = """
WITH RECURSIVE p AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
r AS (
  -- recursive UNION (distinct), not UNION ALL: the undirected trade
  -- graph is cyclic and path-count explodes combinatorially; (id, d)
  -- dedup bounds the working set at nodes × depths
  SELECT 'c1' AS id, 0 AS d
  UNION
  SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id WHERE r.d < 4
),
m AS (SELECT id, MIN(d) AS d FROM r GROUP BY id)
SELECT id, 1.0 / (1 << d) AS trust FROM m
"""


def _trade_lines(cat: Catalog, *extra: str | Column) -> DataFrame:
    """Every orders⋈lineitem row as ``(o_custkey, l_suppkey, *extra)``:
    the one place the trade family writes that join.  ``extra`` are
    orders columns or expressions over them, computed before the join
    (e.g. an order date as epoch seconds)."""
    orders = cat.orders.select("o_orderkey", "o_custkey", *extra)
    return orders.join(
        cat.lineitem.select("l_orderkey", "l_suppkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("o_custkey", "l_suppkey", *orders.columns[2:])


def _trade_ends() -> list[Column]:
    """A :func:`_trade_lines` row's endpoints on the trade graph's long
    vertex ids: customer k → ``src`` 2k, supplier k → ``dst`` 2k+1
    (injective, and an even id never equals an odd one, so the pairs
    are canonical with no self-loops; :func:`_trade_id` maps an id back
    to its string)."""
    return [
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ]


def _trade_keys(cat: Catalog, *extra: str | Column) -> DataFrame:
    """Distinct ``(src, dst, *extra)`` rows of the trade graph on long
    vertex ids (:func:`_trade_ends`), the edge base of every trade
    graph entry; each entry decodes only its answer rows with
    :func:`_trade_id`.

    The join output is hash-partitioned on (src, dst) before the
    distinct, so the dedup runs once, in parallel, after one exchange.
    A plain distinct would run its partial aggregate map-side — inside
    the single task that scans lineitem (one row group) — to remove
    almost nothing: 600k line items hold 587k distinct pairs at sf0.1.
    r14: trade_kcore 1.34 → 1.17 s median against a plain distinct on
    the same long ids (local[4] on a 4-core host, sf0.1, 8 interleaved
    rounds)."""
    lines = _trade_lines(cat, *extra)
    return (
        lines.select(*_trade_ends(), *lines.columns[2:])
        .repartition("src", "dst")
        .distinct()
    )


def _trade_id(col: str) -> Column:
    """A :func:`_trade_ends` vertex id back to its string: 'c{key}' for
    even ids, 's{key}' for odd ones.  The only place the trade family
    builds its string ids; entries decode answer rows, never pairs."""
    return F.concat(
        F.when(F.col(col) % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(F.col(col), 1).cast("string"),
    )


def q_trade_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """40-core of the undirected trade graph
    (operators/graph_algorithms.k_core): iterative shell peeling to the
    maximal subgraph where every node keeps >= 40 distinct trade
    partners — the dense-community / trust-core primitive (a node's
    standing counts only endorsements from nodes that themselves remain
    in the core).  Integer degrees make every peel round
    hash-deterministic; the oracle unrolls 8 peel rounds (the fixpoint
    is reached in <= 2 on this graph and re-peeling a fixpoint is
    idempotent, asserted in tests/test_graph_algorithms.py).

    Plan build runs the kernel: one count of the pair list (which also
    pins it), then, the pair list being within the kernel's
    ``SMALL_GRAPH_EDGES`` (587k pairs at sf0.1), one ``toArrow()``
    collect of it and the degree filter and peel rounds in numpy on
    the driver; the answer (~8k rows at sf0.1) is a local Arrow frame,
    so the collect only scans those rows.  Five Spark jobs per call,
    all in plan build (four to build, pin and count the pair list, one
    Arrow collect), down from nine when the peel ran as Spark rounds;
    perfbench ``graph_traversal`` (local[4] on a 4-core host, 20
    interleaved pairs) went 1.14 → 0.82 s per pass, median.

    The peel runs on :func:`_trade_keys`' long ids (the edge base
    every trade graph entry shares), and only the ~8k answer rows are
    decoded to 'c'/'s' strings by :func:`_trade_id`: the pinned pair
    list, the doubled list each round groups and semi-joins, and the
    survivor sets all hold fixed-width keys instead of strings.  r14
    (local[4] on a 4-core host, sf0.1, 8 interleaved rounds, medians):
    1.69 s on string ids, 1.34 s on long ids, 1.17 s with the key-hash
    dedup of :func:`_trade_keys` as well."""
    from graphdb_for_drones_spark.operators.graph_algorithms import k_core

    cat = Catalog(spark, sf_dir)
    # _trade_keys is already canonical (distinct even→odd pairs, no
    # self-loops possible), so the generic least/greatest + distinct
    # re-shuffle is skipped — it was ~half the entry's runtime.
    core = k_core(_trade_keys(cat), k=40, canonical=True)
    return core.select(_trade_id("id").alias("id"), "core_degree")


def _kcore_oracle_sql(k: int = 40, rounds: int = 8) -> str:
    # every peel references the previous round TWICE (src and dst
    # sides); without AS MATERIALIZED DuckDB inlines the CTE at each
    # reference, so round r plans 2^r copies of the base join — at
    # sf0.1 the 2^8 blowup spilled temp storage to disk-full.  The
    # hint pins each round to one materialization (results identical).
    peels = []
    prev = "a0"
    for i in range(1, rounds + 1):
        peels.append(
            f"""a{i} AS MATERIALIZED (
  SELECT e.src AS id FROM e
  JOIN {prev} s ON s.id = e.src JOIN {prev} d ON d.id = e.dst
  GROUP BY e.src HAVING COUNT(*) >= {k}
)"""
        )
        prev = f"a{i}"
    joined = ",\n".join(peels)
    return f"""
WITH p AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
e AS MATERIALIZED (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
d0 AS (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY src),
a0 AS (SELECT id FROM d0 WHERE deg >= {k}),
{joined}
SELECT e.src AS id, COUNT(*) AS core_degree
FROM e JOIN {prev} s ON s.id = e.src JOIN {prev} d ON d.id = e.dst
GROUP BY e.src
"""


ORACLE_TRADE_KCORE = _kcore_oracle_sql()


def q_trade_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival TEMPORAL reachability from customer c1 over the
    undirected trade graph with order dates as edge times
    (operators/graph_algorithms.temporal_reach): nodes reachable within
    3 hops along paths whose edges strictly increase in time — the
    information-flow semantics a plain traversal cannot express (a 1995
    order cannot carry influence received in 1997).  MIN over integer
    epoch-seconds arrivals is reduction-order-independent, so the
    iterative algorithm is driver-hash-checked; the oracle unrolls the
    three supersteps with the same per-layer MIN.

    The edges are the distinct ``(src, dst, ts)`` rows of
    :func:`_trade_keys` (long vertex ids, c1 is id 2, deduped after the
    key-hash exchange); only the reached nodes are decoded."""
    from graphdb_for_drones_spark.operators._pin import pin, release
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        temporal_reach,
    )

    cat = Catalog(spark, sf_dir)
    # r12 (guide §2.4): pin before the symmetrizing union — the kernel's
    # edge pin materializes BOTH legs, which re-ran the join+distinct
    # derivation twice; the pin runs it once and the union reads rows.
    # Lazy: the kernel's first count materializes it, and the answer is
    # settled, so the pin goes when the kernel returns.
    pairs = pin(
        _trade_keys(cat, F.unix_timestamp("o_orderdate").alias("ts")),
        eager=False,
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "ts"
        )
    )
    reach = temporal_reach(edges, anchor=2, max_hops=3)
    release(pairs)
    return reach.select(_trade_id("id").alias("id"), "arrival", "hops")


# chained stages AS MATERIALIZED (each l_k feeds both l_{k+1} and u,
# and u is read twice — the k-core inlining lesson, preempted)
ORACLE_TRADE_TEMPORAL_REACH = """
WITH p AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst,
                  CAST(epoch(o_orderdate) AS BIGINT) AS t
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
e AS MATERIALIZED (SELECT src, dst, t FROM p UNION ALL SELECT dst, src, t FROM p),
l0 AS (SELECT 'c1' AS id, CAST(-(1::BIGINT << 62) AS BIGINT) AS arrival,
              0 AS hops),
l1 AS MATERIALIZED (
  SELECT e.dst AS id, MIN(e.t) AS arrival, 1 AS hops
  FROM l0 JOIN e ON e.src = l0.id AND e.t > l0.arrival GROUP BY e.dst
),
l2 AS MATERIALIZED (
  SELECT e.dst AS id, MIN(e.t) AS arrival, 2 AS hops
  FROM l1 JOIN e ON e.src = l1.id AND e.t > l1.arrival GROUP BY e.dst
),
l3 AS MATERIALIZED (
  SELECT e.dst AS id, MIN(e.t) AS arrival, 3 AS hops
  FROM l2 JOIN e ON e.src = l2.id AND e.t > l2.arrival GROUP BY e.dst
),
u AS MATERIALIZED (SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3),
m AS (SELECT id, MIN(arrival) AS arrival FROM u GROUP BY id)
SELECT u.id, CAST(m.arrival AS BIGINT) AS arrival,
       CAST(MIN(u.hops) AS INTEGER) AS hops
FROM u JOIN m ON m.id = u.id AND m.arrival = u.arrival
WHERE u.id <> 'c1'
GROUP BY u.id, m.arrival
"""


def q_user_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: users progressing view → click →
    purchase with STRICTLY increasing event times (the product-
    analytics conversion funnel; a MATCH_RECOGNIZE-lite as three
    chained earliest-completion aggregations).  Stage k's timestamp is
    the MIN event time of its type AFTER stage k-1's — each stage is
    one partial-aggregated groupBy plus one broadcastable join against
    the shrinking per-user stage table, so the funnel depth costs
    linear passes, never a per-user sort.  Returns (stage, n_users)."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events.select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms")
    )

    def stage_after(prev: DataFrame, etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ms") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("ms").alias("t"))
        )

    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("t"))
    )
    t2 = stage_after(t1, "click")
    t3 = stage_after(t2, "purchase")
    stages = (
        t1.select(F.lit(1).alias("stage"), "user_id")
        .unionByName(t2.select(F.lit(2).alias("stage"), "user_id"))
        .unionByName(t3.select(F.lit(3).alias("stage"), "user_id"))
    )
    return stages.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


ORACLE_USER_FUNNEL_COUNTS = """
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
),
t1 AS (
  SELECT user_id, MIN(ms) AS t FROM e WHERE event_type = 'view' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, MIN(e.ms) AS t FROM e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ms > t1.t GROUP BY 1
),
t3 AS (
  SELECT e.user_id, MIN(e.ms) AS t FROM e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ms > t2.t GROUP BY 1
),
u AS (
  SELECT 1 AS stage, user_id FROM t1
  UNION ALL SELECT 2, user_id FROM t2
  UNION ALL SELECT 3, user_id FROM t3
)
SELECT CAST(stage AS INTEGER) AS stage, COUNT(*) AS n_users
FROM u GROUP BY stage
"""


def _dot64(x: str, y: str) -> str:
    return (
        f"list_sum(list_transform(range(64), i -> "
        f"CAST({x}.embedding[i+1] AS DOUBLE) * CAST({y}.embedding[i+1] AS DOUBLE)))"
    )


def _cos64(x: str, y: str) -> str:
    return (
        f"ROUND({_dot64(x, y)} / (sqrt({_dot64(x, x)}) * sqrt({_dot64(y, y)})), 6)"
    )


def _ivf_open_for_sf(spark: SparkSession, sf_dir: str):
    """Materialized IVF index for this scale factor's embeddings: built
    (seeded k-means, 2 Lloyd rounds) on first touch, persisted partitioned
    by cluster, probe-only afterwards.  The fingerprinted path makes a
    rewritten source rebuild automatically."""
    import os as _os

    cat = Catalog(spark, sf_dir)
    data = cat.embeddings.filter(F.col("vec_id") != 0)
    path = _index_store.path_for(
        "ivf", _os.path.join(sf_dir, "embeddings.parquet"), "k8", "i2", "s42"
    )
    return ivf_open(spark, data, path, k=8, iters=2, seed=42)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-10 with SAMPLED-K-MEANS centroids:
    seeded deterministic init (k smallest md5("{id}:{seed}") digests),
    2 Lloyd rounds with decimal-exact means, nearest-centroid
    assignment, 2-probe search.  Every step is rounded/tiebroken
    deterministically, so the whole index — k-means included — is
    oracle-checked.

    The query PROBES a materialized index (``_ivf_open_for_sf``): the
    Lloyd iterations run once offline, and the probe's ``cluster IN``
    filter prunes to the 2 probed cluster directories on disk — at scale
    the scan never lists the other clusters.  The oracle twin keeps the
    full unrolled-k-means formulation, which also hash-checks the
    persisted index contents."""
    cat = Catalog(spark, sf_dir)
    idx, centroids = _ivf_open_for_sf(spark, sf_dir)
    q = [
        float(v)
        for v in cat.embeddings.filter(F.col("vec_id") == 0).first().embedding
    ]
    return ivf_search(idx, centroids, q, k=10, n_probe=2)


def _dot_ec(e: str, c: str) -> str:
    # float data vector (cast per element) · double centroid list
    return (
        f"list_sum(list_transform(range(64), i -> "
        f"CAST({e}.embedding[i+1] AS DOUBLE) * {c}.emb[i+1]))"
    )


def _cos_ec(e: str, c: str) -> str:
    cc = f"list_sum(list_transform(range(64), i -> {c}.emb[i+1] * {c}.emb[i+1]))"
    return f"ROUND({_dot_ec(e, c)} / (sqrt({_dot64(e, e)}) * sqrt({cc})), 6)"


def _ivf_kmeans_oracle_sql(k: int = 8, iters: int = 2, seed: int = 42) -> str:
    """ivf_topk oracle with the k-means derivation UNROLLED as CTEs —
    init sample, per-round assignment + decimal-exact means — mirroring
    ``operators.similarity.kmeans_centroids`` step for step."""
    body = _ivf_kmeans_cte_body(k, iters, seed)
    return f"""
WITH {body}
SELECT e.vec_id, {_cos64('e', 'q')} AS cosine
FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN qv q
ORDER BY cosine DESC, e.vec_id ASC LIMIT 10
"""


def _ivf_kmeans_cte_body(
    k: int = 8, iters: int = 2, seed: int = 42, n_probe: int = 2
) -> str:
    """The unrolled-k-means CTE chain (c0..c{iters}, asg, qv, probes,
    cand) WITHOUT a final select, so composed oracles (ivfpq_topk) can
    extend it with their own scoring CTEs."""
    # every round CTE AS MATERIALIZED: a/s/m/c stages chain with
    # multiple consumers, and downstream oracles (semantic dedup) read
    # `asg` three times — the k-core inlining lesson, preempted
    ctes = [
        f"""c0 AS MATERIALIZED (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id <> 0
  ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id
  LIMIT {k}
)"""
    ]
    for it in range(1, iters + 1):
        p = f"c{it - 1}"
        ctes.append(
            f"""a{it} AS MATERIALIZED (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos_ec('e', 'c')} DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN {p} c
    WHERE e.vec_id <> 0
  ) WHERE rn = 1
),
s{it} AS MATERIALIZED (
  SELECT a.cluster, t.i AS pos,
         SUM(CAST(CAST(e.embedding[t.i+1] AS DOUBLE) AS DECIMAL(28,10))) AS s,
         COUNT(*) AS n
  FROM a{it} a JOIN embeddings e USING (vec_id) CROSS JOIN range(64) t(i)
  GROUP BY 1, 2
),
m{it} AS MATERIALIZED (
  SELECT cluster AS cid, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS emb
  FROM s{it} GROUP BY cluster
),
c{it} AS MATERIALIZED (
  SELECT p.cid, COALESCE(m.emb, p.emb) AS emb
  FROM {p} p LEFT JOIN m{it} m USING (cid)
)"""
        )
    cents = f"c{iters}"
    ctes.append(
        f"""asg AS MATERIALIZED (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos_ec('e', 'c')} DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN {cents} c
    WHERE e.vec_id <> 0
  ) WHERE rn = 1
),
qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT c.cid FROM {cents} c CROSS JOIN qv q
  ORDER BY {_cos_ec('q', 'c')} DESC, c.cid ASC LIMIT {n_probe}
),
cand AS (
  SELECT a.vec_id FROM asg a JOIN probes p ON a.cluster = p.cid
)"""
    )
    return ",\n".join(ctes)


ORACLE_IVF_TOPK = _ivf_kmeans_oracle_sql()


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — the composed billion-scale ANN serving shape (coarse IVF
    probe prunes cluster directories, PQ asymmetric distance ranks the
    survivors' 8-byte codes; Jégou et al. 2011, the FAISS default).
    Both artifacts are the MATERIALIZED fingerprinted indexes the
    standalone entries already oracle-check (`_ivf_open_for_sf`,
    `pq_open`); this entry checks the composition itself — probe-set
    semi-join + integer ADC sum — against an oracle that chains the
    unrolled-k-means CTEs with the PQ encode CTEs.  Raw-vector PQ (not
    per-cluster residuals): documented variant choice, see
    `similarity.ivfpq_topk`."""
    import os as _os

    from graphdb_for_drones_spark.operators.similarity import (
        ivfpq_topk,
        pq_open,
    )

    cat = Catalog(spark, sf_dir)
    data = cat.embeddings.filter(F.col("vec_id") != 0)
    idx, centroids = _ivf_open_for_sf(spark, sf_dir)
    pq_path = _index_store.path_for(
        "pq", _os.path.join(sf_dir, "embeddings.parquet"), "m8", "k16", "s42"
    )
    codes, books = pq_open(spark, data, pq_path, m=8, ksub=16, seed=42)
    q = [
        float(v)
        for v in cat.embeddings.filter(F.col("vec_id") == 0).first().embedding
    ]
    return ivfpq_topk(idx, centroids, codes, books, q, k=10, n_probe=2)


def _ivfpq_oracle_sql(m: int = 8, ksub: int = 16, seed: int = 42) -> str:
    """The IVF CTE chain (cand = 2-probe member set) + the PQ encode
    chain (codes, qd), joined: ADC sum over the pruned candidates only.
    CTE namespaces are disjoint by construction (ivf: c*/a*/s*/m*/asg/
    qv/probes/cand; pq: smp/e/q/enc0/codes/qd)."""
    dsub = 64 // m
    sq = (
        f"(CAST(e.embedding[j*{dsub}+i+1] AS DOUBLE)"
        f" - CAST(s.embedding[j*{dsub}+i+1] AS DOUBLE))"
    )
    qsq = (
        f"(CAST(q.embedding[j*{dsub}+i+1] AS DOUBLE)"
        f" - CAST(s.embedding[j*{dsub}+i+1] AS DOUBLE))"
    )
    ivf_body = _ivf_kmeans_cte_body()
    return f"""
WITH {ivf_body},
smp AS (
  SELECT embedding, ROW_NUMBER() OVER (ORDER BY rk, vec_id) - 1 AS c
  FROM (
    SELECT vec_id, embedding,
           md5(CAST(vec_id AS VARCHAR) || ':{seed}') AS rk
    FROM embeddings WHERE vec_id <> 0
    ORDER BY rk, vec_id LIMIT {ksub}
  )
),
e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
enc0 AS (
  SELECT e.vec_id, t.j, s.c,
    CAST(FLOOR(list_sum(list_transform(range({dsub}), i ->
      {sq} * {sq})) * 1000000.0 + 0.5) AS BIGINT) AS d
  FROM e CROSS JOIN smp s CROSS JOIN range({m}) t(j)
),
codes AS (
  SELECT vec_id, j, CAST(MIN(d * {ksub} + c) % {ksub} AS INTEGER) AS code
  FROM enc0 GROUP BY vec_id, j
),
qd AS (
  SELECT t.j, s.c,
    CAST(FLOOR(list_sum(list_transform(range({dsub}), i ->
      {qsq} * {qsq})) * 1000000.0 + 0.5) AS BIGINT) AS d
  FROM q CROSS JOIN smp s CROSS JOIN range({m}) t(j)
)
SELECT codes.vec_id, CAST(SUM(qd.d) AS BIGINT) AS adist
FROM codes
JOIN cand USING (vec_id)
JOIN qd ON qd.j = codes.j AND qd.c = codes.code
GROUP BY codes.vec_id
ORDER BY adist ASC, vec_id ASC LIMIT 10
"""


ORACLE_IVFPQ_TOPK = _ivfpq_oracle_sql()


def q_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVFPQ — the full Jégou et al. 2011 / FAISS IndexIVFPQ
    shape: PQ codebooks are trained on (and codes encode) the residuals
    x − centroid[cluster(x)], and each probed cluster gets its own
    query-residual distance table.  Residuals center near zero, so
    quantization error shrinks vs the raw-vector `ivfpq_topk` twin —
    both are cataloged so the accuracy/complexity trade is visible.
    Deterministic end-to-end (seeded k-means, seeded md5 codebook
    sample, integer micro-unit distances): the oracle chains the
    unrolled-k-means CTEs → residual CTE → residual-PQ encode → a
    per-probe-cluster distance table.  Codes are MATERIALIZED
    cluster-partitioned (`ivfpq_residual_open`): a probe reads only its
    cluster directories' m-int rows."""
    import os as _os

    from graphdb_for_drones_spark.operators.similarity import (
        ivfpq_residual_open,
        ivfpq_residual_search,
    )

    cat = Catalog(spark, sf_dir)
    data = cat.embeddings.filter(F.col("vec_id") != 0)
    _idx, centroids = _ivf_open_for_sf(spark, sf_dir)
    path = _index_store.path_for(
        "ivfpqr",
        _os.path.join(sf_dir, "embeddings.parquet"),
        "k8", "i2", "m8", "c16", "s42",
    )
    codes, books = ivfpq_residual_open(
        spark, data, centroids, path, m=8, ksub=16, seed=42
    )
    q = [
        float(v)
        for v in cat.embeddings.filter(F.col("vec_id") == 0).first().embedding
    ]
    return ivfpq_residual_search(codes, centroids, books, q, k=10, n_probe=2)


def _ivfpq_residual_oracle_sql(
    m: int = 8, ksub: int = 16, seed: int = 42, iters: int = 2
) -> str:
    dsub = 64 // m
    ivf_body = _ivf_kmeans_cte_body(iters=iters)
    cents = f"c{iters}"
    esq = f"(e.r[j*{dsub}+i+1] - s.r[j*{dsub}+i+1])"
    qsq = (
        f"((CAST(q.embedding[j*{dsub}+i+1] AS DOUBLE)"
        f" - c.emb[j*{dsub}+i+1]) - s.r[j*{dsub}+i+1])"
    )
    return f"""
WITH {ivf_body},
resid AS MATERIALIZED (
  SELECT a.vec_id, a.cluster,
         list_transform(range(64), i ->
           CAST(e.embedding[i+1] AS DOUBLE) - c.emb[i+1]) AS r
  FROM asg a JOIN embeddings e USING (vec_id)
  JOIN {cents} c ON c.cid = a.cluster
),
smp AS MATERIALIZED (
  SELECT r, ROW_NUMBER() OVER (ORDER BY rk, vec_id) - 1 AS c
  FROM (
    SELECT vec_id, r, md5(CAST(vec_id AS VARCHAR) || ':{seed}') AS rk
    FROM resid ORDER BY rk, vec_id LIMIT {ksub}
  )
),
enc0 AS (
  SELECT e.vec_id, t.j, s.c,
    CAST(FLOOR(list_sum(list_transform(range({dsub}), i ->
      {esq} * {esq})) * 1000000.0 + 0.5) AS BIGINT) AS d
  FROM resid e CROSS JOIN smp s CROSS JOIN range({m}) t(j)
),
codes AS (
  SELECT vec_id, j, CAST(MIN(d * {ksub} + c) % {ksub} AS INTEGER) AS code
  FROM enc0 GROUP BY vec_id, j
),
qd AS (
  SELECT p.cid AS cluster, t.j, s.c,
    CAST(FLOOR(list_sum(list_transform(range({dsub}), i ->
      {qsq} * {qsq})) * 1000000.0 + 0.5) AS BIGINT) AS d
  FROM probes p JOIN {cents} c ON c.cid = p.cid
  CROSS JOIN qv q CROSS JOIN smp s CROSS JOIN range({m}) t(j)
)
SELECT codes.vec_id AS vec_id, CAST(SUM(qd.d) AS BIGINT) AS adist
FROM codes
JOIN asg ON asg.vec_id = codes.vec_id
JOIN qd ON qd.cluster = asg.cluster
       AND qd.j = codes.j AND qd.c = codes.code
GROUP BY codes.vec_id
ORDER BY adist ASC, codes.vec_id ASC LIMIT 10
"""


ORACLE_IVFPQ_RESIDUAL_TOPK = _ivfpq_residual_oracle_sql()


def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index EVALUATION: recall@10 of the 2-probe IVF search against
    brute-force cosine top-10 for the vec_id=0 query — the accuracy
    metric an ANN deployment tunes n_probe against (recall/latency
    trade-off).  Both legs are existing catalog machinery (the
    materialized IVF index and the codegen cosine scan); the score is
    one integer intersection count and one division — hash-exact.

    At 100 TB this is the OFFLINE eval loop: sample queries, run both
    legs, aggregate recall; here one query keeps the oracle twin (the
    unrolled-k-means SQL joined against the exact-scan SQL) tractable."""
    from graphdb_for_drones_spark.operators.similarity import cosine_topk

    cat = Catalog(spark, sf_dir)
    idx, centroids = _ivf_open_for_sf(spark, sf_dir)
    q = [
        float(v)
        for v in cat.embeddings.filter(F.col("vec_id") == 0).first().embedding
    ]
    approx = ivf_search(idx, centroids, q, k=10, n_probe=2).select("vec_id")
    exact = cosine_topk(
        cat.embeddings.filter(F.col("vec_id") != 0), q, k=10
    ).select("vec_id")
    hits = approx.join(exact, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return hits.select(
        F.lit(10).alias("k"),
        F.lit(2).alias("n_probe"),
        "n_hits",
        (F.col("n_hits") / F.lit(10.0)).alias("recall"),
    )


def _ann_recall_oracle_sql() -> str:
    # both legs reused verbatim as parenthesized WITH-subqueries: the
    # unrolled-k-means IVF statement and the exact brute-force scan
    from graphdb_for_drones_spark.plans.llm_queries import (
        ORACLE_EMBEDDING_TOPK,
    )

    return f"""
WITH iv AS (SELECT vec_id FROM ({ORACLE_IVF_TOPK}) t1),
ex AS (SELECT vec_id FROM ({ORACLE_EMBEDDING_TOPK}) t2),
h AS (SELECT COUNT(*) AS n_hits FROM iv JOIN ex USING (vec_id))
SELECT 10 AS k, 2 AS n_probe, CAST(n_hits AS BIGINT) AS n_hits,
       n_hits / 10.0 AS recall
FROM h
"""


ORACLE_ANN_RECALL_AT_K = _ann_recall_oracle_sql()


def q_sq8_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantizer EVALUATION: recall@10 of the reconstructed-vector
    scoring against brute-force float32 cosine for the vec_id=0 query —
    the accuracy number a deployment weighs against SQ8's 4× smaller
    read footprint (the `ann_recall_at_k` template applied to the
    quantization ladder's newest rung).  One integer intersection and
    one division — hash-exact."""
    from graphdb_for_drones_spark.operators.similarity import (
        cosine_topk,
        sq8_bounds,
        sq8_topk,
    )

    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    q = [float(v) for v in emb.filter(F.col("vec_id") == 0).first().embedding]
    approx = sq8_topk(
        emb.filter(F.col("vec_id") != 0),
        q,
        k=10,
        bounds=sq8_bounds(emb, dim=len(q)),
    ).select("vec_id")
    exact = cosine_topk(
        emb.filter(F.col("vec_id") != 0), q, k=10
    ).select("vec_id")
    hits = approx.join(exact, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return hits.select(
        F.lit(10).alias("k"),
        "n_hits",
        (F.col("n_hits") / F.lit(10.0)).alias("recall"),
    )


def _sq8_recall_oracle_sql() -> str:
    from graphdb_for_drones_spark.plans.llm_queries import (
        ORACLE_EMBEDDING_TOPK,
        ORACLE_SQ8_TOPK,
    )

    return f"""
WITH sq AS (SELECT vec_id FROM ({ORACLE_SQ8_TOPK}) t1),
ex AS (SELECT vec_id FROM ({ORACLE_EMBEDDING_TOPK}) t2),
h AS (SELECT COUNT(*) AS n_hits FROM sq JOIN ex USING (vec_id))
SELECT 10 AS k, CAST(n_hits AS BIGINT) AS n_hits, n_hits / 10.0 AS recall
FROM h
"""


ORACLE_SQ8_RECALL_AT_K = _sq8_recall_oracle_sql()


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding clustering for corpus curation (diversity sampling /
    topic buckets): the seeded deterministic k-means from the IVF path,
    served as (cluster id, member count) — the whole derivation is
    hash-checked by the unrolled SQL twin.  Shares the materialized IVF
    index with ``ivf_topk``; the count touches only the partition column,
    so the scan reads directory metadata, not vectors."""
    asg, _cents = _ivf_open_for_sf(spark, sf_dir)
    return (
        asg.groupBy(F.col("cluster").cast("int").alias("cid"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cid")
    )


def _embedding_clusters_oracle_sql(k: int = 8, iters: int = 2, seed: int = 42) -> str:
    # same unrolled k-means CTEs as the ivf_topk oracle, different final
    # select: cluster membership counts
    base = _ivf_kmeans_oracle_sql(k, iters, seed)
    head, _tail = base.rsplit("SELECT e.vec_id,", 1)
    # drop the probe/search CTEs (qv/probes/cand) — keep through `asg`
    head = head.rsplit(",\nqv AS", 1)[0]
    return (
        head
        + "\nSELECT cluster AS cid, COUNT(*) AS n_vectors FROM asg"
        + " GROUP BY cluster ORDER BY cid"
    )


ORACLE_EMBEDDING_CLUSTERS = _embedding_clusters_oracle_sql()


def q_semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic-duplicate pruning within
    k-means clusters of the embedding space — per-cluster kept/dropped
    counts under the deterministic min-id keeper rule at rounded cosine
    >= 0.35 (re-parameterized for the synthetic corpus, whose max
    within-cluster cosine is ~0.49).  Shares the materialized IVF index
    with ``ivf_topk``; the within-cluster pair join rides the
    size-adaptive blocked-cosine path, so the whole derivation —
    k-means included — is oracle-checked while a skewed mega-cluster
    still cannot go quadratic at scale."""
    from graphdb_for_drones_spark.operators.similarity import (
        semantic_dedup_stats,
    )

    idx, _cents = _ivf_open_for_sf(spark, sf_dir)
    return semantic_dedup_stats(idx, threshold=0.35, dim=64).select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_vectors",
        "n_dups",
        "n_kept",
    )


def _semantic_dedup_oracle_sql(
    k: int = 8, iters: int = 2, seed: int = 42, tau: float = 0.35
) -> str:
    # reuse the unrolled-k-means CTEs through `asg`, then score
    # within-cluster pairs exactly as cosine_pairs_blocked does (hoisted
    # norms; ROUND(dot/(sqrt·sqrt), 6) — the embedding_dup_clusters
    # formula) and count min-id-rule duplicates per cluster
    base = _ivf_kmeans_oracle_sql(k, iters, seed)
    head = base.rsplit(",\nqv AS", 1)[0]
    return (
        head
        + f""",
nrm AS (
  SELECT vec_id, SUM(v * v) AS nrm FROM (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
    WHERE vec_id <> 0
  ) GROUP BY vec_id
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(range(len(ea.embedding)),
      i -> CAST(ea.embedding[i+1] AS DOUBLE) * CAST(eb.embedding[i+1] AS DOUBLE)
    )) AS dot, na.nrm AS nrm_a, nb.nrm AS nrm_b
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  JOIN nrm na ON na.vec_id = a.vec_id
  JOIN nrm nb ON nb.vec_id = b.vec_id
),
dups AS (
  SELECT DISTINCT id_b AS vec_id FROM p
  WHERE ROUND(dot / (sqrt(nrm_a) * sqrt(nrm_b)), 6) >= {tau}
)
SELECT a.cluster, COUNT(*) AS n_vectors,
  CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dups,
  CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept
FROM asg a LEFT JOIN dups d ON d.vec_id = a.vec_id
GROUP BY a.cluster
"""
    )


ORACLE_SEMANTIC_DEDUP_STATS = _semantic_dedup_oracle_sql()


def q_event_type_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the two-phase SALTED plan (SURVEY
    §7.4-2: the reference's hq_id is the textbook skew key; event_type
    here has 5 values over the whole table, so a one-phase groupBy
    funnels every row into 5 reducers).  ``salted_agg`` spreads phase 1
    over (key, salt) and re-aggregates per key; counts add and decimal
    sums are order-independent, so the result is bit-identical to the
    plain groupBy — exactly what the oracle pins.  Driver-checking this
    entry keeps the skew path's CORRECTNESS under the same gate as its
    plan shape (tests)."""
    from graphdb_for_drones_spark.operators.skew import salted_agg

    cat = Catalog(spark, sf_dir)
    out = salted_agg(
        cat.events,
        ["event_type"],
        {
            "n_events": F.count(F.lit(1)),
            "total_value": F.sum(F.col("value").cast("decimal(18,2)")),
        },
        salt_on="event_id",
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


ORACLE_EVENT_TYPE_SALTED_COUNTS = """
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


def q_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2-shaped argmin join: per part, the supplier offering the lowest
    average line price (window rank over a grouped aggregate; suppkey
    tiebreak), restricted to parts with >= 3 distinct suppliers, top 20
    parts.  The correlated-subquery pattern as a rank window."""
    cat = Catalog(spark, sf_dir)
    # r12 optimization (guide §2.4 — two operations keyed the same way
    # share one exchange): the old shape (groupBy(p,s) agg → separate
    # n_suppliers agg → join back → rank window) executed the lineitem
    # scan + (p,s) aggregate TWICE (two plan consumers; ReuseExchange
    # dedups only the shuffle, not the post-shuffle aggregate) and paid
    # 3 exchanges.  Partitioning the projected 3-column slice by
    # l_partkey ONCE up front satisfies the (p,s) aggregate (subset
    # clustering), the per-part count, and both windows — the whole
    # query runs on a single exchange.  n_suppliers == rows per
    # l_partkey in `cost`, so the unbounded count window is the same
    # value the join used to attach.  (p,s) multiplicity in lineitem is
    # low, so the raw-slice shuffle carries no more bytes than the two
    # aggregated exchanges it replaces.  Measured 2.9 → 0.9 s at sf0.1,
    # identical rows.
    cost = (
        cat.lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("avg_price"),
        )
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.asc("avg_price"), F.asc("l_suppkey")
    )
    wp = Window.partitionBy("l_partkey")
    best = (
        cost.withColumn("n_suppliers", F.count(F.lit(1)).over(wp))
        .filter(F.col("n_suppliers") >= 3)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        best.select(
            "l_partkey",
            "l_suppkey",
            F.round("avg_price", 4).alias("best_avg_price"),
            "n_suppliers",
        )
        .orderBy(F.asc("l_partkey"))
        .limit(20)
    )


ORACLE_MIN_PRICE_SUPPLIER = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS avg_price
  FROM lineitem GROUP BY 1, 2
),
nsup AS (
  SELECT l_partkey, COUNT(*) AS n_suppliers FROM cost
  GROUP BY 1 HAVING COUNT(*) >= 3
),
best AS (
  SELECT c.l_partkey, c.l_suppkey, c.avg_price, n.n_suppliers,
         ROW_NUMBER() OVER (PARTITION BY c.l_partkey
                            ORDER BY c.avg_price ASC, c.l_suppkey ASC) AS rn
  FROM cost c JOIN nsup n USING (l_partkey)
)
SELECT l_partkey, l_suppkey, ROUND(avg_price, 4) AS best_avg_price,
       n_suppliers
FROM best WHERE rn = 1
ORDER BY l_partkey ASC LIMIT 20
"""


def q_event_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (F2/F3: get_json_object over the open
    ``props`` payload) + grouped stats on the extracted value."""
    cat = Catalog(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        cat.events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count_if(F.col("k").isNotNull()).alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_EVENT_PROPS_EXTRACT = """
SELECT event_type,
       CAST(COUNT(*) FILTER (WHERE json_extract(props, '$.k') IS NOT NULL)
            AS BIGINT) AS n_with_k,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def _ngram_pairs_for_sf(spark: SparkSession, sf_dir: str, cat: Catalog) -> DataFrame:
    """Materialized exact-jaccard pair graph for this scale factor's
    documents (shingle_n=3, threshold=0.1): built on first touch,
    probe-only afterwards.  Fingerprinted path — a rewritten corpus
    rebuilds automatically (`dedup.ngram_pairs_open`)."""
    import os as _os

    from graphdb_for_drones_spark.operators.dedup import ngram_pairs_open

    path = _index_store.path_for(
        "ngpairs", _os.path.join(sf_dir, "documents.parquet"), "n3", "t0.1"
    )
    return ngram_pairs_open(spark, cat.documents, path)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: exact n-gram jaccard pairs (≥0.1) as an
    undirected graph, connected components by iterative min-label
    propagation, summarized per cluster.  The oracle reproduces the
    transitive closure with a recursive CTE (cluster id = min reachable
    doc id) — an iterative distributed algorithm checked against an
    independent SQL fixpoint formulation.

    The pair graph is MATERIALIZED (`ngram_pairs_open`, the `ivf_open`
    fingerprint pattern): the shingle-index enumeration runs once per
    corpus state; cluster composition and the keeper policy both probe
    the persisted graph (deterministic, bit-identical to a fresh run)."""
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        connected_components,
    )

    cat = Catalog(spark, sf_dir)
    pairs = _ngram_pairs_for_sf(spark, sf_dir, cat).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(pairs)
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


# transitive closure over the near-dup pair graph; component id = min
# reachable doc id (matches min-label propagation's fixpoint)
ORACLE_DEDUP_CLUSTERS = r"""
WITH RECURSIVE d AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)]
         END AS sh
  FROM d
),
ds AS (SELECT doc_id, len(list_distinct(sh)) AS n, list_distinct(sh) AS sh FROM s),
inv AS (SELECT doc_id, n, unnest(sh) AS g FROM ds),
c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
p AS (
  SELECT id_a, id_b FROM c WHERE inter * 1.0 / (na + nb - inter) >= 0.1
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL SELECT id_b, id_a FROM p
),
closure AS (
  SELECT DISTINCT src AS node, src AS r FROM e
  UNION
  SELECT c.node, e.dst FROM closure c JOIN e ON e.src = c.r
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM closure GROUP BY node)
SELECT cluster_id, COUNT(*) AS n_docs
FROM comp GROUP BY cluster_id HAVING COUNT(*) > 1
"""


def q_dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster KEEPER selection under a quality policy: within
    each `dedup_clusters` component, keep the document with the most
    tokens (doc_id ascending tiebreak) — the policy dimension of dedup
    (production pipelines keep the best member, not the smallest id;
    cf. the min-id keeper in `curation_pipeline_stats`).  Output per
    multi-doc cluster: keeper, member count, total vs kept tokens (the
    dedup token-savings ledger).  Argmax as one max-of-struct aggregate
    (n_tokens, -doc_id) — no per-cluster sort.  Probes the SAME
    materialized pair graph as `dedup_clusters` (`ngram_pairs_open`):
    the policy layer costs one components pass + one token join, not a
    second corpus-scale pair enumeration."""
    from graphdb_for_drones_spark.operators.graph_algorithms import (
        connected_components,
    )
    from graphdb_for_drones_spark.operators.text import token_count

    cat = Catalog(spark, sf_dir)
    pairs = _ngram_pairs_for_sf(spark, sf_dir, cat).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(pairs).select(
        F.col("component").alias("cluster_id"), F.col("id").alias("doc_id")
    )
    toks = cat.documents.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    m = comp.join(toks, "doc_id")
    best = F.max(F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("nid")))
    return (
        m.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            best.alias("__b"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            "cluster_id",
            (-F.col("__b.nid")).cast("long").alias("keeper_id"),
            "n_docs",
            "total_tokens",
            F.col("__b.n_tokens").cast("long").alias("keeper_tokens"),
        )
    )


ORACLE_DEDUP_CLUSTER_KEEPERS = r"""
WITH RECURSIVE d AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)]
         END AS sh
  FROM d
),
ds AS (SELECT doc_id, len(list_distinct(sh)) AS n, list_distinct(sh) AS sh FROM s),
inv AS (SELECT doc_id, n, unnest(sh) AS g FROM ds),
c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
p AS (
  SELECT id_a, id_b FROM c WHERE inter * 1.0 / (na + nb - inter) >= 0.1
),
e AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL SELECT id_b, id_a FROM p
),
closure AS (
  SELECT DISTINCT src AS node, src AS r FROM e
  UNION
  SELECT c.node, e.dst FROM closure c JOIN e ON e.src = c.r
),
comp AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM closure GROUP BY node),
tok AS (
  SELECT doc_id, len(list_filter(w, x -> x <> '')) AS n_tokens FROM d
),
mem AS (
  SELECT comp.cluster_id, comp.doc_id, tok.n_tokens
  FROM comp JOIN tok USING (doc_id)
),
r AS (
  SELECT cluster_id, doc_id, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_tokens DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs,
         SUM(n_tokens) OVER (PARTITION BY cluster_id) AS tot
  FROM mem
)
SELECT cluster_id, doc_id AS keeper_id,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(tot AS BIGINT) AS total_tokens,
       CAST(n_tokens AS BIGINT) AS keeper_tokens
FROM r WHERE rn = 1 AND n_docs > 1
"""


def q_event_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (rows-only: HLL estimates are approximate
    by design; `tests/test_sketches.py` pins 5% accuracy vs exact):
    daily per-type HLL sketches of distinct users, merged to per-type —
    the continuous-aggregate pattern that replaces full-scan
    COUNT(DISTINCT) at serving time."""
    from graphdb_for_drones_spark.operators.sketches import (
        hll_build,
        hll_rollup,
    )

    cat = Catalog(spark, sf_dir)
    ev = cat.events.withColumn("day", F.to_date("ts"))
    return hll_rollup(hll_build(ev, ["event_type", "day"], "user_id"), ["event_type"])


def q_event_hll_rollup_md5_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streamed sketch rollup as an ORACLE-checked fact: register MAX
    is associative and commutative, so the md5-HLL rollup IS a
    continuous aggregate — this entry drains events through a STREAMING
    (event_type, register) MAX aggregation (state bounded at
    |event_types| × 256 registers regardless of ingest volume — the
    sketch property, now a streaming-state bound) and estimates from
    the final registers, gated against `event_hll_rollup_md5`'s oracle
    VERBATIM.  The update-mode memory sink keeps every register update;
    rho only ever rises, so `hll_md5_estimate`'s own merge (MAX per
    (key, idx)) is the exact latest-wins reconciliation.  No watermark:
    a register table never grows with the data, the same reason the
    batch sketch replaces COUNT(DISTINCT) at serving time."""
    from graphdb_for_drones_spark.operators.sketches import (
        hll_md5_estimate,
        hll_md5_row_registers,
    )

    def registers(stream: DataFrame) -> DataFrame:
        return hll_md5_row_registers(
            stream.select("event_type", "user_id"), ["event_type"], "user_id"
        ).groupBy("event_type", "idx").agg(F.max("rho").alias("rho"))

    # r13: measured with input-derived state partitions (the KS/W1
    # drains' win) — 1.91 s @32 parts vs 2.48 s @1 vs 1.80 s @8: the
    # md5 register computation is CPU work that wants the cores, so the
    # session partitioning stays (see OPTIMIZATION_r13.md)
    regs = drain(spark, sf_dir, "events", registers, output_mode="update")
    return hll_md5_estimate(regs, ["event_type"]).orderBy("event_type")


def q_event_hll_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL accuracy made DRIVER-VISIBLE (the count-min est-beside-exact
    pattern applied to `event_hll_rollup`): per event_type, the exact
    distinct-user count laid beside an integer-safe 5%-tolerance flag on
    the merged daily HLL estimate — ``|est − exact| · 20 <= exact``, all
    BIGINT arithmetic, no floats.  The oracle asserts the exact count
    and ``TRUE``: a degraded sketch (est drifting past 5%) flips the
    engine-side boolean and hash-mismatches, so the driver row IS the
    accuracy assertion.  The estimate itself stays engine-specific
    (DataSketches HLL, deterministic but not SQL-expressible) and is
    deliberately NOT projected."""
    from graphdb_for_drones_spark.operators.sketches import (
        hll_build,
        hll_rollup,
    )

    cat = Catalog(spark, sf_dir)
    ev = cat.events.withColumn("day", F.to_date("ts"))
    est = hll_rollup(
        hll_build(ev, ["event_type", "day"], "user_id"), ["event_type"]
    ).select("event_type", "approx_distinct")
    exact = cat.events.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).cast("long").alias("exact_users")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_users"))
                * F.lit(20)
                <= F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENT_HLL_VS_EXACT = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_event_hll_rollup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLE-REPRODUCIBLE twin of `event_hll_rollup` (VERDICT r11
    task #4 — the minhash_pairs_md5 pattern applied to HLL): daily
    per-type md5-HLL REGISTER tables of distinct users, merged to
    per-type by register MAX, then the Flajolet estimate from an exact
    integer register sum + one IEEE division (small-range branch:
    m·ln(m/V), glibc-identical across engines) — so the DuckDB twin
    reproduces the ESTIMATE bit-for-bit, making the last rows-only
    catalog entry fully oracle-paired.  The xxhash64 DataSketches entry
    stays the production fast path."""
    from graphdb_for_drones_spark.operators.sketches import (
        hll_md5_estimate,
        hll_md5_registers,
    )

    cat = Catalog(spark, sf_dir)
    ev = cat.events.select(
        "event_type",
        F.expr("unix_millis(ts) DIV 86400000").alias("day"),
        "user_id",
    )
    daily = hll_md5_registers(ev, ["event_type", "day"], "user_id")
    return hll_md5_estimate(daily, ["event_type"]).orderBy("event_type")


_HLL_MD5_HH = (
    "CAST(list_sum(list_transform(range(15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5("
    "CAST(user_id AS VARCHAR) || ':hll'), i+1, 1)) - 1 AS BIGINT)"
    " << ((14 - i) * 4))) AS BIGINT)"
)

# Constants mirrored from operators/sketches.py: m = 256 registers,
# rho sentinel 53 (60 md5 bits = 8 index + 52 rank), alpha·m²·2^53
# embedded as the same double literal on both sides.
ORACLE_EVENT_HLL_ROLLUP_MD5 = rf"""
WITH h AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day, {_HLL_MD5_HH} AS hh
  FROM events WHERE user_id IS NOT NULL
),
daily AS (
  SELECT event_type, day, hh % 256 AS idx,
         MAX(CASE WHEN hh // 256 > 0 THEN 53 - length(bin(hh // 256))
                  ELSE 53 END) AS rho
  FROM h GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, idx, MAX(rho) AS rho FROM daily GROUP BY 1, 2
),
agg AS (
  SELECT event_type, COUNT(*) AS n_registers,
         SUM(CAST(1 AS BIGINT) << CAST(53 - rho AS INTEGER)) AS s_present
  FROM merged GROUP BY 1
),
est AS (
  SELECT event_type, n_registers,
         4.2399330249068963e+20
           / CAST(s_present + (256 - n_registers)
                  * (CAST(1 AS BIGINT) << 53) AS DOUBLE) AS raw,
         256 - n_registers AS v
  FROM agg
)
SELECT event_type, CAST(n_registers AS BIGINT) AS n_registers,
       ROUND(CASE WHEN raw <= 640.0 AND v > 0
                  THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
                  ELSE raw END, 9) AS approx_distinct
FROM est ORDER BY event_type
"""


HIST_LO, HIST_HI, HIST_BUCKETS = 0.0, 1000.0, 200


def q_event_user_cm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimation (operators/sketches.cm_build/
    cm_estimate): per event_type, a 4×1024 sketch of user_id
    occurrences, probed for users 0-19 and laid beside the exact counts
    — (event_type, user_id, est_count, exact_count) with the count-min
    guarantee est ≥ exact.  The md5 hash family + integer cell SUMs
    make the whole approximate structure driver-hash-checkable (the
    bloom discipline applied to frequencies)."""
    from graphdb_for_drones_spark.operators import sketches

    cat = Catalog(spark, sf_dir)
    ev = cat.events.select("event_type", "user_id")
    sketch = sketches.cm_build(
        ev, ["event_type"], "user_id", width=1024, depth=4, family="md5"
    )
    probes = ev.filter(F.col("user_id") < 20).select("user_id")
    est = sketches.cm_estimate(
        sketch,
        ["event_type"],
        probes,
        "user_id",
        width=1024,
        depth=4,
        family="md5",
    ).select(
        "event_type",
        F.col("elem").alias("user_id"),
        F.col("est").cast("long").alias("est_count"),
    )
    exact = (
        ev.filter(F.col("user_id") < 20)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, ["event_type", "user_id"], "left").select(
        "event_type",
        "user_id",
        "est_count",
        F.coalesce(F.col("exact_count"), F.lit(0).cast("long")).alias(
            "exact_count"
        ),
    )


def _cm_oracle_sql(width: int = 1024, depth: int = 4) -> str:
    hex_to_int = (
        "CAST(list_sum(list_transform(range(15), i -> "
        "CAST(strpos('0123456789abcdef', substr(h, i+1, 1)) - 1 AS BIGINT)"
        " << ((14 - i) * 4))) AS BIGINT)"
    )
    return f"""
WITH ev AS (SELECT event_type, user_id FROM events),
uh AS (
  SELECT user_id, {hex_to_int} AS hh FROM (
    SELECT DISTINCT user_id, md5(CAST(user_id AS VARCHAR)) AS h FROM ev
  )
),
upos AS (
  SELECT user_id, j AS r,
         (hh % {width}
          + j * (1 + (hh // 2 // {width}) % {width - 1})) % {width} AS c
  FROM uh CROSS JOIN range({depth}) t(j)
),
cells AS (
  SELECT event_type, r, c, COUNT(*) AS cnt
  FROM ev JOIN upos USING (user_id) GROUP BY 1, 2, 3
),
probes AS (SELECT user_id, r, c FROM upos WHERE user_id < 20),
keysr AS (SELECT DISTINCT event_type FROM ev),
dense AS (SELECT event_type, user_id, r, c FROM keysr CROSS JOIN probes),
est AS (
  SELECT d.event_type, d.user_id,
         MIN(COALESCE(cells.cnt, 0)) AS est_count
  FROM dense d LEFT JOIN cells
    ON cells.event_type = d.event_type AND cells.r = d.r AND cells.c = d.c
  GROUP BY 1, 2
),
exact AS (
  SELECT event_type, user_id, COUNT(*) AS exact_count
  FROM ev WHERE user_id < 20 GROUP BY 1, 2
)
SELECT e.event_type, e.user_id,
       CAST(e.est_count AS BIGINT) AS est_count,
       CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count
FROM est e LEFT JOIN exact x
  ON x.event_type = e.event_type AND x.user_id = e.user_id
"""


ORACLE_EVENT_USER_CM_COUNTS = _cm_oracle_sql()


def q_event_value_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile serving from a mergeable histogram sketch: per
    (event_type, day) histograms of ``value`` are ROLLED UP to per-type
    (pure bucket-count sums — no fact rescan) and p50/p95/p99 are read
    off the cumulative counts.  Every step is integer/fixed-grid
    arithmetic, so unlike approx_percentile the whole sketch path is
    oracle-checked exactly."""
    from graphdb_for_drones_spark.operators.sketches import (
        hist_build,
        hist_quantiles,
        hist_rollup,
    )

    cat = Catalog(spark, sf_dir)
    ev = cat.events.withColumn("day", F.to_date("ts"))
    daily = hist_build(
        ev, ["event_type", "day"], "value", HIST_LO, HIST_HI, HIST_BUCKETS
    )
    per_type = hist_rollup(daily, ["event_type"])
    return hist_quantiles(
        per_type, ["event_type"], HIST_LO, HIST_HI, HIST_BUCKETS
    ).orderBy("event_type")


_HW = (HIST_HI - HIST_LO) / HIST_BUCKETS
ORACLE_EVENT_VALUE_HIST_QUANTILES = f"""
WITH h AS (
  SELECT event_type,
         LEAST({HIST_BUCKETS - 1}, GREATEST(0,
           CAST(FLOOR((value - {HIST_LO}) / {_HW}) AS INT))) AS bucket,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, bucket,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS total
  FROM h
),
b AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= total * 0.5  THEN bucket END) AS b0,
         MIN(CASE WHEN cum >= total * 0.95 THEN bucket END) AS b1,
         MIN(CASE WHEN cum >= total * 0.99 THEN bucket END) AS b2
  FROM c GROUP BY 1
)
SELECT event_type,
       {HIST_LO} + (b0 + 1) * {_HW} AS p50,
       {HIST_LO} + (b1 + 1) * {_HW} AS p95,
       {HIST_LO} + (b2 + 1) * {_HW} AS p99
FROM b ORDER BY event_type
"""


def q_user_event_hash_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user tamper-evident hash chain over the event stream —
    the reference's hash-chain verification pattern
    (demo_offline/02_offline_did_and_hash: each artifact binds the
    previous hash) as a distributed operator: chain_i = md5(chain_{i-1}
    || payload_i), folded per user in event order.  The fold runs inside
    codegen (`aggregate` over a collected, sorted struct array) — one
    exchange on user_id, no Python."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events.select(
        "user_id",
        F.struct(
            F.col("event_id"),
            F.concat_ws(
                "|",
                F.col("event_id").cast("string"),
                F.col("event_type"),
                F.col("value").cast("string"),
            ).alias("payload"),
        ).alias("s"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list("s")).alias("evs")
    )
    chain = F.aggregate(
        F.col("evs"),
        F.lit("genesis"),
        lambda acc, e: F.md5(F.concat(acc, e["payload"])),
    )
    return per_user.select(
        "user_id", F.size("evs").alias("n_events"), chain.alias("chain_hash")
    )


ORACLE_USER_EVENT_HASH_CHAIN = """
WITH ev AS (
  SELECT user_id, event_id,
         CAST(event_id AS VARCHAR) || '|' || event_type || '|' ||
           CAST(value AS VARCHAR) AS payload
  FROM events
),
pu AS (
  SELECT user_id, COUNT(*) AS n_events,
         list(payload ORDER BY event_id) AS payloads
  FROM ev GROUP BY user_id
)
SELECT user_id, n_events,
       list_reduce(list_prepend('genesis', payloads),
                   (acc, x) -> md5(acc || x)) AS chain_hash
FROM pu
"""


def q_customer_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy join (entity resolution): customer pairs
    whose 9-digit name suffix is ONE character substitution apart —
    near-identical identifiers, the typo/OCR-error detection primitive —
    rolled up by the differing digit position.

    Blocking is the wildcard substitution-neighborhood
    (operators/linkage.substitution_neighborhood_pairs): each key emits
    9 patterns with one position overwritten; hamming-1 pairs share the
    pattern at their differing position, so recall is exact and block
    size is bounded by data duplication regardless of the keys' shared
    literal layout.  The DuckDB twin builds the same neighborhood with
    set-based SQL (prefix || sentinel || suffix); the naive quadratic
    levenshtein ground truth is pinned against the operator in
    tests/test_linkage.py where it is cheap."""
    from graphdb_for_drones_spark.operators.linkage import (
        substitution_neighborhood_pairs,
    )

    cat = Catalog(spark, sf_dir)
    keys = cat.customer.select(
        "c_custkey", F.substring("c_name", 10, 9).alias("key")
    )
    pairs = substitution_neighborhood_pairs(
        keys, "c_custkey", "key", max_subs=1
    )
    return (
        pairs.filter(F.col("hamming") == 1)
        .groupBy(
            F.element_at("diff_pos", 1).cast("long").alias("diff_pos")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("diff_pos")
    )


def q_customer_supplier_fuzzy_matches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-SOURCE identity reconciliation — the master-table form of
    record linkage (operators/linkage.substitution_neighborhood_join):
    customer × supplier pairs whose 9-digit name suffixes agree within
    ONE substitution, rolled up by the differing digit position
    (diff_pos 0 = exact suffix match across the two tables).  The
    candidate stream is a plain equi-join of the two wildcard-pattern
    streams, so hot patterns ride Spark's join machinery and a
    dimension-sized side can broadcast."""
    from graphdb_for_drones_spark.operators.linkage import (
        substitution_neighborhood_join,
    )

    cat = Catalog(spark, sf_dir)
    c = cat.customer.select(
        "c_custkey", F.substring("c_name", 10, 9).alias("key")
    )
    s = cat.supplier.select(
        "s_suppkey", F.substring("s_name", 10, 9).alias("key")
    )
    m = substitution_neighborhood_join(
        c, s, "c_custkey", "key", "s_suppkey", "key", max_subs=1
    )
    return (
        m.groupBy(
            F.when(F.col("hamming") == 0, F.lit(0))
            .otherwise(F.element_at("diff_pos", 1))
            .cast("long")
            .alias("diff_pos")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("diff_pos")
    )


def q_user_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval collapse (operators/temporal.islands —
    the SCD2 validity-interval primitive): per user, consecutive
    same-type event runs become islands; rolled up per event type as
    (n_islands, n_events, longest_island, earliest_start_ms).  The
    VALUE-change twin of `user_sessions`' time-gap windows — all exact
    integers over a (ts, event_id) total order."""
    from graphdb_for_drones_spark.operators.temporal import islands

    cat = Catalog(spark, sf_dir)
    isl = islands(cat.events)
    per = isl.groupBy("user_id", "island_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.unix_millis("ts")).alias("start_ms"),
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.sum("n").cast("long").alias("n_events"),
            F.max("n").cast("long").alias("longest_island"),
            F.min("start_ms").alias("earliest_start_ms"),
        )
        .orderBy("event_type")
    )


ORACLE_USER_ACTIVITY_ISLANDS = """
WITH o AS (
  SELECT user_id, event_type, event_id, ts,
         LAG(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         ROW_NUMBER() OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
m AS (
  SELECT *, CASE WHEN rn = 1 OR prev IS DISTINCT FROM event_type
                 THEN 1 ELSE 0 END AS chg
  FROM o
),
i AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM m
),
g AS (
  SELECT user_id, island, event_type, COUNT(*) AS n,
         MIN(epoch_ms(ts)) AS start_ms
  FROM i GROUP BY 1, 2, 3
)
SELECT event_type, COUNT(*) AS n_islands,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS longest_island,
       MIN(start_ms) AS earliest_start_ms
FROM g GROUP BY 1 ORDER BY 1
"""


ORACLE_CUSTOMER_SUPPLIER_FUZZY_MATCHES = """
WITH ck AS (
  SELECT c_custkey AS id, substr(c_name, 10, 9) AS key FROM customer
),
sk AS (
  SELECT s_suppkey AS id, substr(s_name, 10, 9) AS key FROM supplier
),
cp AS (
  SELECT id, key, i,
         substr(key, 1, CAST(i AS INT) - 1) || chr(1)
           || substr(key, CAST(i AS INT) + 1) AS pattern
  FROM ck, range(1, 10) t(i)
),
sp AS (
  SELECT id, key, i,
         substr(key, 1, CAST(i AS INT) - 1) || chr(1)
           || substr(key, CAST(i AS INT) + 1) AS pattern
  FROM sk, range(1, 10) t(i)
),
base AS (
  SELECT a.id AS cid, b.id AS sid,
         CASE WHEN a.key <> b.key THEN CAST(a.i AS BIGINT) ELSE 0 END
           AS diff_pos
  FROM cp a JOIN sp b ON a.pattern = b.pattern AND a.i = b.i
),
dedup AS (SELECT DISTINCT cid, sid, diff_pos FROM base)
SELECT diff_pos, COUNT(*) AS n_pairs FROM dedup GROUP BY 1 ORDER BY 1
"""


ORACLE_CUSTOMER_FUZZY_PAIRS = """
WITH k AS (
  SELECT c_custkey AS id, substr(c_name, 10, 9) AS key FROM customer
),
pat AS (
  SELECT id, key, i,
         substr(key, 1, CAST(i AS INT) - 1) || chr(1)
           || substr(key, CAST(i AS INT) + 1) AS pattern
  FROM k, range(1, 10) t(i)
)
SELECT CAST(a.i AS BIGINT) AS diff_pos, COUNT(*) AS n_pairs
FROM pat a JOIN pat b ON a.pattern = b.pattern AND a.i = b.i AND a.id < b.id
WHERE a.key <> b.key
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------- #
# registry
# --------------------------------------------------------------------- #

def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events
    (operators/temporal.retention_cohorts): users cohorted by first-
    activity week (exact epoch-ms integer division), each
    (cohort, offset) cell counts users active that many weeks later,
    retention = cell / cohort size (one IEEE division of exact longs).
    One user-keyed exchange + a cohort-cardinality-bounded aggregate —
    the product-analytics matrix a training-data pipeline reads to
    spot activity decay per ingestion cohort."""
    from graphdb_for_drones_spark.operators.temporal import retention_cohorts

    cat = Catalog(spark, sf_dir)
    return retention_cohorts(cat.events, "user_id", "ts", period_days=7)


ORACLE_USER_RETENTION_COHORTS = r"""
WITH uw AS (
  SELECT DISTINCT user_id AS u, epoch_ms(ts) // 604800000 AS w
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
c AS (SELECT u, MIN(w) AS cw FROM uw GROUP BY u),
k AS (
  SELECT c.cw AS cohort_period, uw.w - c.cw AS period_offset,
         COUNT(*) AS n_users
  FROM uw JOIN c USING (u) GROUP BY 1, 2
),
m AS (
  SELECT *, MAX(CASE WHEN period_offset = 0 THEN n_users END)
              OVER (PARTITION BY cohort_period) AS cohort_size
  FROM k
)
SELECT CAST(cohort_period AS BIGINT) AS cohort_period,
       CAST(period_offset AS BIGINT) AS period_offset,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       ROUND(CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE), 9)
         AS retention
FROM m
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel over events
    (operators/temporal.funnel_counts): per funnel prefix, users who
    performed the steps in strictly increasing time order (first-reach
    recurrence, one user-keyed join + MIN per step — co-partitioned
    chain, no row blowup), conversion = each count over the funnel
    head as one IEEE division of exact longs."""
    from graphdb_for_drones_spark.operators.temporal import funnel_counts

    cat = Catalog(spark, sf_dir)
    return funnel_counts(
        cat.events, "user_id", "ts", "event_type",
        ("view", "click", "purchase"),
    )


ORACLE_EVENT_FUNNEL = r"""
WITH s0 AS (
  SELECT user_id AS u, MIN(ts) AS t FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1
),
s1 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.u AND e.ts > s0.t
  WHERE e.event_type = 'click' GROUP BY 1
),
s2 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
  WHERE e.event_type = 'purchase' GROUP BY 1
),
k AS (
  SELECT 0 AS step_idx, 'view' AS step, COUNT(*) AS n FROM s0
  UNION ALL SELECT 1, 'click', COUNT(*) FROM s1
  UNION ALL SELECT 2, 'purchase', COUNT(*) FROM s2
)
SELECT CAST(step_idx AS BIGINT) AS step_idx, step,
       CAST(n AS BIGINT) AS n_users,
       CASE WHEN MAX(CASE WHEN step_idx = 0 THEN n END) OVER () > 0 THEN
         ROUND(CAST(n AS DOUBLE)
               / CAST(MAX(CASE WHEN step_idx = 0 THEN n END) OVER ()
                      AS DOUBLE), 9) END AS conversion
FROM k
"""


def q_event_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for view -> click -> purchase completers
    (operators/temporal.funnel_latency): epoch-ms latency from funnel
    head to last step, mean as DECIMAL(38,0)-exact sum over one
    division — the "how long does conversion take" report beside the
    funnel counts."""
    from graphdb_for_drones_spark.operators.temporal import funnel_latency

    cat = Catalog(spark, sf_dir)
    return funnel_latency(
        cat.events, "user_id", "ts", "event_type",
        ("view", "click", "purchase"),
    )


ORACLE_EVENT_FUNNEL_LATENCY = r"""
WITH s0 AS (
  SELECT user_id AS u, MIN(ts) AS t0 FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1
),
s1 AS (
  SELECT e.user_id AS u, s0.t0, MIN(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.u AND e.ts > s0.t0
  WHERE e.event_type = 'click' GROUP BY 1, 2
),
s2 AS (
  SELECT e.user_id AS u, s1.t0, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
  WHERE e.event_type = 'purchase' GROUP BY 1, 2
),
l AS (SELECT epoch_ms(t) - epoch_ms(t0) AS ms FROM s2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_completers,
  CASE WHEN COUNT(*) > 0 THEN
    ROUND(CAST(SUM(ms) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) END
    AS avg_latency_ms,
  CAST(MIN(ms) AS BIGINT) AS min_latency_ms,
  CAST(MAX(ms) AS BIGINT) AS max_latency_ms
FROM l
"""


def _stream_ts(stream: DataFrame):
    """A staged events stream's ``ts`` as TIMESTAMP: catalog.load_table's
    NTZ cast, replicated because readStream bypasses the catalog."""
    if stream.schema["ts"].dataType.simpleString() == "timestamp_ntz":
        return F.col("ts").cast("timestamp")
    return F.col("ts")


def q_event_funnel_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream==batch FUNNEL as an ORACLE-checked fact (VERDICT r11 task
    #5 — the `source_drift_stats_streamed` pattern applied to the
    stateful trackers): drains the events table through the STREAMING
    frontier funnel (streaming/stateful.streaming_funnel — per-user
    state is exactly (completed-prefix length, last-step time), never an
    event buffer) and rebuilds the funnel report from the FINAL
    frontiers, gated against the IDENTICAL SQL oracle as the batch
    `event_funnel` entry, so the frontier state machine's equivalence to
    the batch first-reach recurrence is driver-attested rather than
    pytest-only.

    Event times feed the tracker as unix MICROS: the oracle compares raw
    timestamps (microsecond precision in the testdata), so a
    millisecond truncation could chain two same-ms events differently.
    The availableNow drain lands the staged file(s) in one micro-batch
    (≤1000 files), inside which the tracker sorts by time — the ordered
    -ingest contract under which stream == batch holds exactly.

    Report shape: each user's final frontier explodes into one row per
    completed stage, so n_users(k) = COUNT(frontier ≥ k+1) is one
    aggregate over |users| rows; a static 3-row step frame left-joins
    the counts (zero-count steps must still report, as the oracle's
    COUNT(*) over empty CTEs does)."""
    from graphdb_for_drones_spark.streaming.stateful import streaming_funnel

    steps = ("view", "click", "purchase")

    def frontiers(stream: DataFrame) -> DataFrame:
        events = stream.select(
            F.col("user_id").alias("user"),
            F.unix_micros(_stream_ts(stream)).alias("ms"),
            F.col("event_type").alias("step"),
        ).filter(F.col("user").isNotNull() & F.col("ms").isNotNull())
        return streaming_funnel(events.groupBy("user"), steps)

    # r13: measured with input-derived state partitions (the KS/W1
    # drains' win) — 2.31 s @32 parts vs 4.16 s @1 vs 2.66 s @8: the
    # applyInPandasWithState tracker is per-user PYTHON work that wants
    # the cores, so the session partitioning stays
    updates = drain(spark, sf_dir, "events", frontiers, output_mode="update")
    # memory sink keeps every frontier update; stage only advances, so
    # latest-wins == MAX per user
    frontier = updates.groupBy("user").agg(F.max("stage").alias("stage"))
    counts = (
        frontier.select(
            F.explode(F.sequence(F.lit(1), F.col("stage"))).alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    step_dim = spark.range(len(steps)).select(
        F.col("id").cast("long").alias("step_idx"),
        F.element_at(
            F.array(*[F.lit(s) for s in steps]),
            (F.col("id") + 1).cast("int"),
        ).alias("step"),
    )
    joined = step_dim.join(
        counts, step_dim.step_idx == counts.k - 1, "left"
    ).select(
        "step_idx",
        "step",
        F.coalesce("n", F.lit(0).cast("long")).alias("n_users"),
    )
    head = F.max(
        F.when(F.col("step_idx") == 0, F.col("n_users"))
    ).over(Window.partitionBy())
    return joined.select(
        "step_idx",
        "step",
        "n_users",
        F.when(
            head > 0,
            F.round(
                F.col("n_users").cast("double") / head.cast("double"), 9
            ),
        ).alias("conversion"),
    )


def q_user_retention_cohorts_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream==batch RETENTION as an ORACLE-checked fact (the
    `event_funnel_streamed` pattern applied to the second stateful
    tracker): drains events through streaming/stateful.
    streaming_retention — per-user state is exactly (cohort period,
    emitted-offset bitmask), two longs — and rebuilds the weekly
    retention matrix from the exactly-once (cohort, offset, user)
    emissions, gated against the batch `user_retention_cohorts` oracle
    VERBATIM.  The testdata spans 4 weekly periods, far inside the
    64-offset bitmask horizon, and the availableNow drain lands all
    files in one micro-batch — the ordered-ingest contract under which
    the stream equals the batch matrix exactly.  Counts are plain
    COUNT(*) over the append sink (no latest-wins reconciliation);
    cohort_size binds back as a cohort-partitioned MAX window, retention
    is one IEEE division of exact longs rounded 9dp (the family
    contract)."""
    from graphdb_for_drones_spark.streaming.stateful import (
        streaming_retention,
    )

    def emissions(stream: DataFrame) -> DataFrame:
        events = stream.select(
            F.col("user_id").alias("user"),
            F.unix_millis(_stream_ts(stream)).alias("ms"),
        ).filter(F.col("user").isNotNull() & F.col("ms").isNotNull())
        return streaming_retention(
            events.groupBy("user"), period_ms=604800000
        )

    # r13: measured with input-derived state partitions (the KS/W1
    # drains' win) — 1.92 s @32 parts vs 3.57 s @1 vs 2.20 s @8: the
    # tracker is per-user Python work; session partitioning stays
    cells = (
        drain(spark, sf_dir, "events", emissions, output_mode="append")
        .groupBy("cohort_period", "period_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    w = Window.partitionBy("cohort_period")
    sized = cells.select(
        "cohort_period",
        "period_offset",
        "n_users",
        F.max(
            F.when(F.col("period_offset") == 0, F.col("n_users"))
        ).over(w).alias("cohort_size"),
    )
    return sized.select(
        "cohort_period",
        "period_offset",
        "n_users",
        "cohort_size",
        F.round(
            F.col("n_users").cast("double")
            / F.col("cohort_size").cast("double"),
            9,
        ).alias("retention"),
    )


def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table reconciliation between two corpus snapshots
    (snapshots.snapshot_diff): per-order item count + DECIMAL-exact
    quantity over two overlapping ship-date windows, classified
    added / removed / changed / unchanged by NULL-SAFE value-struct
    comparison after ONE co-partitioned full-outer join — the
    data-diff a CDC apply or corpus-version bump is validated with.
    Both windows populate all four classes on this data."""
    from graphdb_for_drones_spark.snapshots import snapshot_diff

    cat = Catalog(spark, sf_dir)

    def snap(lo: str | None, hi: str) -> DataFrame:
        li = cat.lineitem.filter(F.col("l_shipdate") < hi)
        if lo is not None:
            li = li.filter(F.col("l_shipdate") >= lo)
        return li.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(28,10)")).alias("qty"),
        )

    return snapshot_diff(
        snap(None, "1999-01-01"),
        snap("1996-01-01", "2000-01-01"),
        ["l_orderkey"],
        ["n_items", "qty"],
    )


ORACLE_ORDERS_SNAPSHOT_DIFF = r"""
WITH a AS (
  SELECT l_orderkey AS k, COUNT(*) AS n_items,
         SUM(CAST(l_quantity AS DECIMAL(28,10))) AS qty
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01'
  GROUP BY 1
),
b AS (
  SELECT l_orderkey AS k, COUNT(*) AS n_items,
         SUM(CAST(l_quantity AS DECIMAL(28,10))) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '2000-01-01'
  GROUP BY 1
),
j AS (
  SELECT a.k AS ka, b.k AS kb,
         a.n_items AS na, a.qty AS qa, b.n_items AS nb, b.qty AS qb
  FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT CAST(COUNT(ka) AS BIGINT) AS n_a,
       CAST(COUNT(kb) AS BIGINT) AS n_b,
       CAST(COALESCE(SUM(CASE WHEN ka IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS added,
       CAST(COALESCE(SUM(CASE WHEN kb IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS removed,
       CAST(COALESCE(SUM(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                 AND (na IS DISTINCT FROM nb OR qa IS DISTINCT FROM qb)
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS changed,
       CAST(COALESCE(SUM(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                 AND na IS NOT DISTINCT FROM nb
                 AND qa IS NOT DISTINCT FROM qb
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS unchanged
FROM j
"""


EXTRA_QUERIES = {
    "shipping_priority": q_shipping_priority,
    "region_volume": q_region_volume,
    "nation_trade_flows": q_nation_trade_flows,
    "nation_market_share": q_nation_market_share,
    "part_type_profit": q_part_type_profit,
    "supplier_shared_customers": q_supplier_shared_customers,
    "supplier_shared_customers_sampled": q_supplier_shared_customers_sampled,
    "supplier_shared_customers_sampled_fixed32": q_supplier_shared_customers_sampled_fixed32,
    "orders_profile": q_orders_profile,
    "event_type_outliers": q_event_type_outliers,
    "events_hourly_gapfilled": q_events_hourly_gapfilled,
    "orders_cube": q_orders_cube,
    "events_pivot_dow": q_events_pivot_dow,
    "dedup_cluster_keepers": q_dedup_cluster_keepers,
    "event_value_trends": q_event_value_trends,
    "event_type_robust_outliers": q_event_type_robust_outliers,
    "event_type_trimmed_stats": q_event_type_trimmed_stats,
    "event_type_transitions": q_event_type_transitions,
    "event_type_twap": q_event_type_twap,
    "shipping_delay_histogram": q_shipping_delay_histogram,
    "trade_cheapest_route": q_trade_cheapest_route,
    "customer_spend_quartiles": q_customer_spend_quartiles,
    "events_native_session_windows": q_events_native_session_windows,
    "customer_rfm_segments": q_customer_rfm_segments,
    "lineitem_price_qty_corr": q_lineitem_price_qty_corr,
    "customers_without_orders": q_customers_without_orders,
    "customers_with_orders": q_customers_with_orders,
    "orders_rollup": q_orders_rollup,
    "events_sliding_windows": q_events_sliding_windows,
    "user_sessions": q_user_sessions,
    "asof_signup_before_purchase": q_asof_signup_before_purchase,
    "event_user_distinct": q_event_user_distinct,
    "events_in_windows": q_events_in_windows,
    "event_value_percentiles": q_event_value_percentiles,
    "nation_triangles": q_nation_triangles,
    "supplier_pagerank": q_supplier_pagerank,
    "trade_graph_degrees": q_trade_graph_degrees,
    "trade_trust_from_anchor": q_trade_trust_from_anchor,
    "trade_kcore": q_trade_kcore,
    "trade_temporal_reach": q_trade_temporal_reach,
    "user_funnel_counts": q_user_funnel_counts,
    "user_retention_cohorts": q_user_retention_cohorts,
    "user_retention_cohorts_streamed": q_user_retention_cohorts_streamed,
    "event_funnel": q_event_funnel,
    "event_funnel_streamed": q_event_funnel_streamed,
    "event_funnel_latency": q_event_funnel_latency,
    "orders_snapshot_diff": q_orders_snapshot_diff,
    "ivf_topk": q_ivf_topk,
    "ivfpq_topk": q_ivfpq_topk,
    "ivfpq_residual_topk": q_ivfpq_residual_topk,
    "ann_recall_at_k": q_ann_recall_at_k,
    "sq8_recall_at_k": q_sq8_recall_at_k,
    "user_event_hash_chain": q_user_event_hash_chain,
    "event_hll_rollup": q_event_hll_rollup,
    "event_hll_rollup_md5": q_event_hll_rollup_md5,
    "event_hll_rollup_md5_streamed": q_event_hll_rollup_md5_streamed,
    "event_hll_vs_exact": q_event_hll_vs_exact,
    "event_value_hist_quantiles": q_event_value_hist_quantiles,
    "event_user_cm_counts": q_event_user_cm_counts,
    "embedding_clusters": q_embedding_clusters,
    "semantic_dedup_stats": q_semantic_dedup_stats,
    "event_type_salted_counts": q_event_type_salted_counts,
    "dedup_clusters": q_dedup_clusters,
    "min_price_supplier": q_min_price_supplier,
    "event_props_extract": q_event_props_extract,
    "customer_fuzzy_pairs": q_customer_fuzzy_pairs,
    "customer_supplier_fuzzy_matches": q_customer_supplier_fuzzy_matches,
    "user_activity_islands": q_user_activity_islands,
}

EXTRA_ORACLES = {
    "event_hll_rollup_md5": ORACLE_EVENT_HLL_ROLLUP_MD5,
    # streamed twin gated against the batch oracle VERBATIM (register
    # MAX is a continuous aggregate)
    "event_hll_rollup_md5_streamed": ORACLE_EVENT_HLL_ROLLUP_MD5,
    "event_hll_vs_exact": ORACLE_EVENT_HLL_VS_EXACT,
    "shipping_priority": ORACLE_SHIPPING_PRIORITY,
    "region_volume": ORACLE_REGION_VOLUME,
    "nation_trade_flows": ORACLE_NATION_TRADE_FLOWS,
    "nation_market_share": ORACLE_NATION_MARKET_SHARE,
    "part_type_profit": ORACLE_PART_TYPE_PROFIT,
    "supplier_shared_customers": ORACLE_SUPPLIER_SHARED_CUSTOMERS,
    "supplier_shared_customers_sampled": ORACLE_SUPPLIER_SHARED_CUSTOMERS_SAMPLED,
    "supplier_shared_customers_sampled_fixed32": ORACLE_SUPPLIER_SHARED_CUSTOMERS_SAMPLED_FIXED32,
    "orders_profile": ORACLE_ORDERS_PROFILE,
    "event_type_outliers": ORACLE_EVENT_TYPE_OUTLIERS,
    "events_hourly_gapfilled": ORACLE_EVENTS_HOURLY_GAPFILLED,
    "orders_cube": ORACLE_ORDERS_CUBE,
    "events_pivot_dow": ORACLE_EVENTS_PIVOT_DOW,
    "dedup_cluster_keepers": ORACLE_DEDUP_CLUSTER_KEEPERS,
    "event_value_trends": ORACLE_EVENT_VALUE_TRENDS,
    "event_type_robust_outliers": ORACLE_EVENT_TYPE_ROBUST_OUTLIERS,
    "event_type_trimmed_stats": ORACLE_EVENT_TYPE_TRIMMED_STATS,
    "event_type_transitions": ORACLE_EVENT_TYPE_TRANSITIONS,
    "event_type_twap": ORACLE_EVENT_TYPE_TWAP,
    "shipping_delay_histogram": ORACLE_SHIPPING_DELAY_HISTOGRAM,
    "trade_cheapest_route": ORACLE_TRADE_CHEAPEST_ROUTE,
    "customer_spend_quartiles": ORACLE_CUSTOMER_SPEND_QUARTILES,
    "events_native_session_windows": ORACLE_EVENTS_NATIVE_SESSION_WINDOWS,
    "customer_rfm_segments": ORACLE_CUSTOMER_RFM_SEGMENTS,
    "lineitem_price_qty_corr": ORACLE_LINEITEM_PRICE_QTY_CORR,
    "customers_without_orders": ORACLE_CUSTOMERS_WITHOUT_ORDERS,
    "customers_with_orders": ORACLE_CUSTOMERS_WITH_ORDERS,
    "orders_rollup": ORACLE_ORDERS_ROLLUP,
    "events_sliding_windows": ORACLE_EVENTS_SLIDING_WINDOWS,
    "user_sessions": ORACLE_USER_SESSIONS,
    "asof_signup_before_purchase": ORACLE_ASOF_SIGNUP_BEFORE_PURCHASE,
    "event_user_distinct": ORACLE_EVENT_USER_DISTINCT,
    "events_in_windows": ORACLE_EVENTS_IN_WINDOWS,
    "event_value_percentiles": ORACLE_EVENT_VALUE_PERCENTILES,
    "nation_triangles": ORACLE_NATION_TRIANGLES,
    "supplier_pagerank": ORACLE_SUPPLIER_PAGERANK,
    "trade_graph_degrees": ORACLE_TRADE_GRAPH_DEGREES,
    "trade_trust_from_anchor": ORACLE_TRADE_TRUST_FROM_ANCHOR,
    "trade_kcore": ORACLE_TRADE_KCORE,
    "trade_temporal_reach": ORACLE_TRADE_TEMPORAL_REACH,
    "user_funnel_counts": ORACLE_USER_FUNNEL_COUNTS,
    "user_retention_cohorts": ORACLE_USER_RETENTION_COHORTS,
    # streamed twin gated against the batch oracle VERBATIM
    "user_retention_cohorts_streamed": ORACLE_USER_RETENTION_COHORTS,
    "event_funnel": ORACLE_EVENT_FUNNEL,
    # event_funnel_streamed is gated against the batch oracle VERBATIM:
    # stream == batch as a driver-checked fact
    "event_funnel_streamed": ORACLE_EVENT_FUNNEL,
    "event_funnel_latency": ORACLE_EVENT_FUNNEL_LATENCY,
    "orders_snapshot_diff": ORACLE_ORDERS_SNAPSHOT_DIFF,
    "ivf_topk": ORACLE_IVF_TOPK,
    "ivfpq_topk": ORACLE_IVFPQ_TOPK,
    "ivfpq_residual_topk": ORACLE_IVFPQ_RESIDUAL_TOPK,
    "ann_recall_at_k": ORACLE_ANN_RECALL_AT_K,
    "sq8_recall_at_k": ORACLE_SQ8_RECALL_AT_K,
    "user_event_hash_chain": ORACLE_USER_EVENT_HASH_CHAIN,
    "event_value_hist_quantiles": ORACLE_EVENT_VALUE_HIST_QUANTILES,
    "event_user_cm_counts": ORACLE_EVENT_USER_CM_COUNTS,
    "embedding_clusters": ORACLE_EMBEDDING_CLUSTERS,
    "semantic_dedup_stats": ORACLE_SEMANTIC_DEDUP_STATS,
    "event_type_salted_counts": ORACLE_EVENT_TYPE_SALTED_COUNTS,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "min_price_supplier": ORACLE_MIN_PRICE_SUPPLIER,
    "event_props_extract": ORACLE_EVENT_PROPS_EXTRACT,
    "customer_fuzzy_pairs": ORACLE_CUSTOMER_FUZZY_PAIRS,
    "customer_supplier_fuzzy_matches": ORACLE_CUSTOMER_SUPPLIER_FUZZY_MATCHES,
    "user_activity_islands": ORACLE_USER_ACTIVITY_ISLANDS,
    # event_hll_rollup stays rows-only by design (DataSketches binary
    # blobs, engine-internal); its md5-register twin above IS fully
    # oracle-paired (bit-exact estimate), and tests/test_sketches.py
    # pins the 5% accuracy envelope vs exact COUNT(DISTINCT) here
}
