"""Mutation layer — the reference's write path (SURVEY.md §2.6 M1–M11)
re-expressed as immutable-snapshot DataFrame rewrites.

The reference mutates PostgreSQL/AgensGraph in place (UPDATE … WHERE id =
ANY(%s), UNWIND-delete/create, ON CONFLICT upserts).  Spark tables are
immutable snapshots, so every mutation is a *transformation* producing the
next snapshot; a table format with MERGE (Delta/Iceberg) would commit these
rewrites transactionally — the plan shapes below are exactly what a MERGE
compiles to, and on plain Parquet the caller overwrite-writes the result.

All operators are join-based (anti-join = delete, union = insert,
coalesce-after-left-join = update) and broadcast the (small) change set —
at 100 TB the base table never shuffles for a chunk-sized mutation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphdb_for_drones_spark.local_frame import local_frame
from graphdb_for_drones_spark.operators._pin import pin
from graphdb_for_drones_spark.operators.split import offset_rank


def _keys_df(base: DataFrame, keys, key_col: str) -> DataFrame:
    if isinstance(keys, DataFrame):
        return keys.select(F.col(keys.columns[0]).alias(key_col))
    spark = base.sparkSession
    field = next(f for f in base.schema.fields if f.name == key_col)
    return local_frame(spark, f"{key_col} {field.dataType.simpleString()}", list(keys))


def delete_by_keys(base: DataFrame, keys, key_col: str, extra_pred: Column | None = None) -> DataFrame:
    """M8: ``DELETE FROM delegation WHERE drone_id = ANY(%s) AND hq_id = %s``
    (05_abac/benchmark_scenario_a.py:73-80) → broadcast anti-join."""
    kdf = _keys_df(base, keys, key_col)
    victims = base.join(F.broadcast(kdf), key_col, "left_semi")
    if extra_pred is not None:
        victims = victims.filter(extra_pred)
    # subtract victims: anti-join on the full key (key + predicate applied)
    if extra_pred is None:
        return base.join(F.broadcast(kdf), key_col, "left_anti")
    return base.exceptAll(victims)


def update_by_keys(base: DataFrame, keys, key_col: str, set_values: dict) -> DataFrame:
    """M5: chunked ``UPDATE delegation SET hq_id=%s WHERE drone_id=ANY(%s)``
    (03_equalization/benchmark_scenario_a.py:62-69).  Broadcast the key set,
    rewrite matched rows with the new values."""
    kdf = _keys_df(base, keys, key_col).withColumn("__hit", F.lit(True))
    out = base.join(F.broadcast(kdf), key_col, "left")
    for col, val in set_values.items():
        lit = val if isinstance(val, Column) else F.lit(val)
        out = out.withColumn(
            col, F.when(F.col("__hit").isNotNull(), lit).otherwise(F.col(col))
        )
    return out.drop("__hit")


def upsert(base: DataFrame, updates: DataFrame, key_cols: list[str]) -> DataFrame:
    """M6: ``INSERT … ON CONFLICT (k) DO UPDATE``
    (02_topology_dynamic/setup_scenario_a.py:64-71;
    06_postgres_cdc_sink.py:43-49) — latest-wins MERGE: rows of ``updates``
    replace matching ``base`` rows, others append."""
    survivors = base.join(updates.select(*key_cols), key_cols, "left_anti")
    return survivors.unionByName(updates.select(*base.columns))


def insert_rows(base: DataFrame, new_rows: DataFrame) -> DataFrame:
    """M1/M2/M7: vertex/edge create, INSERT-SELECT-unnest — plain union."""
    return base.unionByName(new_rows.select(*base.columns))


def delete_edges_to(edges: DataFrame, dst_keys, label: str | None = None) -> DataFrame:
    """M3: batch edge delete by UNWIND id list
    (``UNWIND [ids] AS id MATCH ()-[r:DELEGATES]->(d {id}) DELETE r``,
    02_topology_dynamic/benchmark_scenario_c.py:50-57)."""
    kdf = _keys_df(edges, dst_keys, "dst")
    if label is None:
        return edges.join(F.broadcast(kdf), "dst", "left_anti")
    victims = (F.col("label") == label)
    keep_other_label = edges.filter(~victims)
    survivors = edges.filter(victims).join(F.broadcast(kdf), "dst", "left_anti")
    return keep_other_label.unionByName(survivors)


def create_edges_from(edges: DataFrame, src: str, dst_keys, label: str = "DELEGATES") -> DataFrame:
    """M4: batch edge create from an id list
    (02_topology_dynamic/benchmark_scenario_c.py:58-65)."""
    kdf = _keys_df(edges, dst_keys, "dst")
    new_edges = kdf.select(
        F.lit(src).alias("src"), F.col("dst"), F.lit(label).alias("label")
    )
    return edges.unionByName(new_edges.select(*edges.columns))


def redelegate(delegation: DataFrame, drone_keys, new_hq: str, key_col: str = "drone_id", hq_col: str = "hq_id") -> DataFrame:
    """The turn-taking / chain-churn primitive: repoint a chunk of drones
    at a new HQ (02_topology_dynamic/benchmark_scenario_a.py:25-67)."""
    return update_by_keys(delegation, drone_keys, key_col, {hq_col: new_hq})


RANK_BUCKETS = 64


def bucketed_rank(
    df: DataFrame, key_col: str, buckets: int = RANK_BUCKETS
) -> tuple[DataFrame, int]:
    """Deterministic 0-based dense rank over a key column WITHOUT a
    single-partition global window and WITHOUT a driver key list: keys
    hash into ``buckets`` groups and ``split.offset_rank`` ranks them,
    so only the ``buckets`` group counts reach the driver.  The order is
    bucket-major / key-minor — a fixed deterministic permutation.
    Returns (DataFrame(key_col, __rank), total)."""
    b = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(buckets))
    ranked, total = offset_rank(df.select(key_col, b.alias("__b")), "__b", key_col)
    return ranked.select(key_col, "__rank"), total


def diff_as_changes(
    before: DataFrame, after: DataFrame, key_col: str, seq_start: int = 0
) -> DataFrame:
    """M11 trigger equivalent: Spark has no AFTER-INSERT/UPDATE/DELETE
    triggers (04_sqlite_trigger_demo.py:39-64), so the write path derives
    the change log by diffing consecutive snapshots — the engine-side
    stand-in for Delta Change Data Feed.  Emits (id, op ∈ {c,u,d},
    payload, ts_ms) rows consumable by the CDC pipeline, with ts_ms a
    deterministic per-diff sequence (row order by key)."""
    b = before.select(F.col(key_col).alias("id"), *[c for c in before.columns if c != key_col])
    a = after.select(F.col(key_col).alias("id"), *[c for c in after.columns if c != key_col])
    val_cols = [c for c in before.columns if c != key_col]
    bj = b.withColumnRenamed(val_cols[0], "__b") if len(val_cols) == 1 else b
    aj = a.withColumnRenamed(val_cols[0], "__a") if len(val_cols) == 1 else a
    if len(val_cols) != 1:
        raise ValueError("diff_as_changes supports single-payload tables")
    full = bj.join(aj, "id", "full_outer")
    changes = full.select(
        "id",
        F.when(F.col("__b").isNull(), F.lit("c"))
        .when(F.col("__a").isNull(), F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
        F.col("__a").alias("payload"),
        F.col("__b").alias("__old"),
    ).filter(
        F.col("op").isin("c", "d")
        | (F.col("payload") != F.col("__old"))
        | F.col("payload").isNull()
        & F.col("__old").isNotNull()
    ).drop("__old")
    # deterministic per-diff sequence WITHOUT a single-partition global
    # window (a Window.orderBy with no partition funnels the whole diff
    # through one task): materialize the diff once, then assign the
    # bucketed distributed rank (ids are unique within a diff)
    changes = pin(changes)
    ranked, _total = bucketed_rank(changes.select("id"), "id")
    # plain equi join on id — AQE picks broadcast only when the diff is
    # actually small (a full-table diff is not)
    return changes.join(ranked, "id").withColumn(
        "ts_ms", (F.col("__rank") + 1 + F.lit(seq_start)).cast("long")
    ).drop("__rank")


def set_vertex_property(vertices: DataFrame, label: str, prop_col: str, value) -> DataFrame:
    """M9: ``MATCH (d:Drone) SET d.hqId = 'HQ1'``
    (02_topology_dynamic/setup_scenario_c.py:103) — bulk columnar update."""
    lit = value if isinstance(value, Column) else F.lit(value)
    return vertices.withColumn(
        prop_col, F.when(F.col("label") == label, lit).otherwise(F.col(prop_col) if prop_col in vertices.columns else F.lit(None)),
    )
