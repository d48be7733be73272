"""Engine facade: the entry points a reference user needs to switch.

The reference's "API" is: build a SQL/Cypher string, execute it on a
server, time it (SURVEY §3).  Here:

* ``DroneGraphEngine.sql(...)`` — full Spark SQL including native
  ``WITH RECURSIVE`` (Spark 4), so the reference's recursive-CTE
  benchmark strings (common/bench_utils.py:9-34) run nearly verbatim;
* ``get_bench_query(hq_id, depth)`` — the exact chain-count SQL the
  reference builds, emitted in Spark dialect;
* ``traverse(...)`` — the iterative kernel (traversal.py), which beats
  the native recursive CTE whenever the edge derivation is non-trivial
  (the CTE re-derives the edge subquery every iteration; the kernel
  persists it once — measured 7× on the lineitem DAG);
* ``benchmark(...)`` — the reference measurement protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from graphdb_for_drones_spark.bench_utils import BenchResult, benchmark_query
from graphdb_for_drones_spark.catalog import TABLES, Catalog, load_table
from graphdb_for_drones_spark.graph import DroneGraph, testdata_graph
from graphdb_for_drones_spark.traversal import (
    path_count_to,
    reachable,
    reachable_count,
    reachable_counts,
)


class RecursionRowLimitExceeded(RuntimeError):
    """A native ``WITH RECURSIVE`` query hit Spark's accumulated-row
    cliff (``spark.sql.cteRecursionRowLimit``, default 1,000,000 rows
    ACROSS ALL iterations).  Raised with the engine's remediation
    options instead of Spark's bare message — see
    ``run_recursive`` / ``DroneGraphEngine.run_recursive``."""


def run_recursive(
    spark: SparkSession,
    query: str,
    *,
    recursion_row_limit: int | None = None,
):
    """Execute a recursive-CTE query EAGERLY with an explicit row-limit
    policy, returning collected rows (the reference protocol is
    execute+fetch — its recursive bench strings are COUNT aggregates,
    common/bench_utils.py:9-34, so eager collection matches usage).

    Spark 4's native UnionLoop fails any recursion whose accumulated
    output exceeds ``spark.sql.cteRecursionRowLimit`` (1M rows by
    default) — a cliff a user of ``get_bench_query`` hits with no
    engine-side warning otherwise (PERF.md round-8 crossover notes).
    The engine deliberately does NOT raise that conf globally: the
    limit is the only backstop against a runaway recursion (a cyclic
    edge set with no level bound) filling executor storage.  Policy:

    * ``recursion_row_limit=N`` opts THIS call in: the conf is set for
      the duration of the (eager) execution and restored after — an
      informed, scoped escalation rather than a silent global one.
    * without the opt-in, a limit hit re-raises as
      ``RecursionRowLimitExceeded`` with the two remediations: pass
      ``recursion_row_limit=``, or route wide fan-outs to the
      iterative kernel (``DroneGraphEngine.traverse_counts`` — no
      row-limit cliff, and 10-16× faster on deep chains; PERF.md
      round-8 UnionLoop-vs-kernel grid)."""
    conf_key = "spark.sql.cteRecursionRowLimit"
    old = spark.conf.get(conf_key, None)
    try:
        if recursion_row_limit is not None:
            spark.conf.set(conf_key, str(int(recursion_row_limit)))
        return spark.sql(query).collect()
    except Exception as exc:  # noqa: BLE001 - translate the cliff only
        if "RECURSION_ROW_LIMIT_EXCEEDED" in str(exc):
            limit = (
                recursion_row_limit
                if recursion_row_limit is not None
                else spark.conf.get(conf_key)
            )
            raise RecursionRowLimitExceeded(
                f"recursive query exceeded {limit} accumulated rows "
                f"(spark.sql.cteRecursionRowLimit). Either re-run with "
                f"run_recursive(..., recursion_row_limit=<larger N>) to "
                f"opt in for this query, or use the iterative kernel "
                f"(DroneGraphEngine.traverse / traverse_counts), which "
                f"has no row-limit cliff and wins deep chains 10-16x "
                f"(PERF.md round-8 UnionLoop-vs-kernel crossover)."
            ) from exc
        raise
    finally:
        if recursion_row_limit is not None:
            if old is not None:
                spark.conf.set(conf_key, old)
            else:
                # never explicitly set before: back to the default
                spark.conf.unset(conf_key)


def get_bench_query(hq_id: str, depth: int, table: str = "delegation") -> str:
    """The reference's recursive chain-count SQL
    (common/bench_utils.py:9-34), Spark dialect (CONCAT/CAST instead of
    ``::TEXT``).  Runs natively via ``WITH RECURSIVE`` on Spark 4 —
    execute it through ``run_recursive`` to get the accumulated-row
    limit policy (>1M-row recursions hit
    ``spark.sql.cteRecursionRowLimit`` out of the box)."""
    return f"""
WITH RECURSIVE chain AS (
  SELECT CAST(drone_id AS STRING) AS node, 1 AS lvl
  FROM {table} WHERE hq_id = '{hq_id}'
  UNION ALL
  SELECT CAST(d.drone_id AS STRING), c.lvl + 1
  FROM {table} d JOIN chain c ON d.hq_id = c.node
  WHERE c.lvl < {depth}
)
SELECT COUNT(*) AS chain_count FROM chain
"""


class DroneGraphEngine:
    """Session + catalog + graph + measurement, in one handle."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        if sf_dir:
            self.catalog = Catalog(spark, sf_dir)

    # -------------------------------------------------------------- #
    def register_testdata(self) -> None:
        for name in TABLES:
            load_table(self.spark, self.sf_dir, name).createOrReplaceTempView(name)

    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def sql(self, query: str) -> DataFrame:
        """Spark SQL passthrough — recursive CTEs included (for the
        accumulated-row-limit policy on recursive queries, see
        ``run_recursive``)."""
        return self.spark.sql(query)

    def run_recursive(
        self, query: str, *, recursion_row_limit: int | None = None
    ):
        """Eager recursive-CTE execution with the row-limit opt-in —
        see the module-level ``run_recursive`` for the policy."""
        return run_recursive(
            self.spark, query, recursion_row_limit=recursion_row_limit
        )

    # -------------------------------------------------------------- #
    def graph(self) -> DroneGraph:
        return testdata_graph(self.spark, self.sf_dir)

    def traverse(self, edges: DataFrame, seeds, max_depth: int, **kw) -> DataFrame:
        return reachable(edges, seeds, max_depth, **kw)

    def traverse_counts(
        self, edges: DataFrame, seeds, max_depth: int, **kw
    ) -> DataFrame:
        """(node, level, cnt) counter kernel — the adaptive execution
        path (driver BFS / driver frontier / distributed)."""
        return reachable_counts(edges, seeds, max_depth, **kw)

    def path_count(
        self, edges: DataFrame, seeds, target: str, max_len: int, **kw
    ) -> DataFrame:
        return path_count_to(edges, seeds, target, max_len, **kw)

    # ---------------- beyond-reference operator families ----------- #
    def asof_join(self, left, right, **kw) -> DataFrame:
        from graphdb_for_drones_spark.operators.temporal import asof_join

        return asof_join(left, right, **kw)

    def sessionize(self, events: DataFrame, **kw) -> DataFrame:
        from graphdb_for_drones_spark.operators.temporal import sessionize

        return sessionize(events, **kw)

    def dedup_exact(self, df: DataFrame, **kw) -> DataFrame:
        from graphdb_for_drones_spark.operators.dedup import dedup_exact

        return dedup_exact(df, **kw)

    def near_dup_pairs(self, df: DataFrame, method: str = "minhash", **kw):
        from graphdb_for_drones_spark.operators import dedup as D

        fn = {
            "minhash": D.minhash_lsh_pairs,
            "minhash_md5": D.minhash_lsh_pairs_md5,
            "simhash": D.simhash_pairs,
            "ngram": D.ngram_jaccard_pairs,
        }[method]
        return fn(df, **kw)

    def topk_similar(self, embeddings: DataFrame, query_vec, **kw) -> DataFrame:
        from graphdb_for_drones_spark.operators.similarity import cosine_topk

        return cosine_topk(embeddings, query_vec, **kw)

    def salted_agg(self, df: DataFrame, keys, aggs, **kw) -> DataFrame:
        from graphdb_for_drones_spark.operators.skew import salted_agg

        return salted_agg(df, keys, aggs, **kw)

    def write_bucketed(self, df: DataFrame, table: str, bucket_col: str, **kw):
        from graphdb_for_drones_spark.operators.skew import write_bucketed

        return write_bucketed(df, table, bucket_col, **kw)

    def chain_count(self, delegation: DataFrame, hq_id: str, depth: int) -> int:
        """Library form of get_bench_query: count recursive chain rows
        from one HQ over a flat delegation table."""
        from pyspark.sql import functions as F

        edges = delegation.select(
            F.col("hq_id").alias("src"),
            F.col("drone_id").cast("string").alias("dst"),
        )
        return reachable_count(edges, [hq_id], depth, mode="path")

    # -------------------------------------------------------------- #
    def benchmark(self, df: DataFrame, iterations: int = 100, **kw) -> BenchResult:
        """Reference protocol over any DataFrame query: warm-up + timed
        ``collect`` loop + percentiles (common/bench_utils.py:37-60)."""
        return benchmark_query(lambda: df.collect(), iterations=iterations, **kw)
