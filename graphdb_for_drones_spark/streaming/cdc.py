"""CDC pipeline — Structured-Streaming replacement for the reference's
SQLite-trigger → poll → Kafka(Debezium) → sink chain (SURVEY.md §2.8,
demo_sqlite_cdc/).

Envelope: the Debezium shape produced by
``01_unit_test/07_test_kafka_producer.py:19-36``:
``{payload: {before, after, op ∈ {c,r,u,d}, ts_ms, source{...}}}``.

Apply semantics = ``06_postgres_cdc_sink.py:32-64``:
op c/r → upsert, u → update-if-present, d → delete; idempotent because the
sink is keyed (C5).  Order sensitivity is per key: within one micro-batch
we dedupe to the latest change per key BEFORE applying (SURVEY §7.4-4),
which makes replay (offline-recovery, ``03_recovery.py``) a plain
``availableNow`` drain over the backlog.

Sources: Kafka (production) or newline-JSON files (test harness — the
reference's offline buffer is literally a local log table, which a file
source models faithfully).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from graphdb_for_drones_spark.streaming.util import hadoop_fs, read_parquet_or_none
from graphdb_for_drones_spark.streaming.util import start_sink

# generic row payload: the reference's items(id, payload/name) table
ROW_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("payload", StringType()),
    ]
)

SOURCE_SCHEMA = StructType(
    [
        StructField("version", StringType()),
        StructField("connector", StringType()),
        StructField("name", StringType()),
        StructField("db", StringType()),
        StructField("table", StringType()),
        StructField("ts_ms", LongType()),
    ]
)

DEBEZIUM_SCHEMA = StructType(
    [
        StructField(
            "payload",
            StructType(
                [
                    StructField("before", ROW_SCHEMA),
                    StructField("after", ROW_SCHEMA),
                    StructField("op", StringType()),
                    StructField("ts_ms", LongType()),
                    StructField("source", SOURCE_SCHEMA),
                ]
            ),
        )
    ]
)


def encode_envelope(df: DataFrame) -> DataFrame:
    """C3: wrap change rows into Debezium JSON (07_test_kafka_producer.py).
    Input columns: op, id, payload, ts_ms.  Output: key, value strings
    (key = row id → per-key ordering on a keyed Kafka topic)."""
    before = F.when(
        F.col("op").isin("u", "d"),
        F.struct(F.col("id"), F.lit(None).cast("string").alias("payload")),
    )
    after = F.when(
        F.col("op").isin("c", "r", "u"),
        F.struct(F.col("id"), F.col("payload")),
    )
    env = F.struct(
        F.struct(
            before.alias("before"),
            after.alias("after"),
            F.col("op").alias("op"),
            F.col("ts_ms").alias("ts_ms"),
            F.struct(
                F.lit("1.0").alias("version"),
                F.lit("spark-cdc").alias("connector"),
                F.lit("engine").alias("name"),
                F.lit("drone").alias("db"),
                F.lit("items").alias("table"),
                F.col("ts_ms").alias("ts_ms"),
            ).alias("source"),
        ).alias("payload")
    )
    return df.select(
        F.col("id").cast("string").alias("key"),
        F.to_json(env).alias("value"),
    )


def parse_envelope(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """C4: decode the envelope → (id, payload, op, ts_ms) change rows."""
    p = F.from_json(F.col(value_col).cast("string"), DEBEZIUM_SCHEMA)["payload"]
    return raw.select(
        F.coalesce(p["after"]["id"], p["before"]["id"]).alias("id"),
        p["after"]["payload"].alias("payload"),
        p["op"].alias("op"),
        p["ts_ms"].alias("ts_ms"),
    )


def reduce_batch_per_key(changes: DataFrame, seq_col: str = "ts_ms") -> DataFrame:
    """Collapse a batch of ordered changes into one net effect per key —
    the per-key replay reduction (§7.4-4).  Equivalent to applying the
    batch one event at a time in ``seq_col`` order (the reference's
    monotonically increasing change_id):

      * a 'd' later than the last 'c' deletes (u's cannot resurrect);
      * a 'c' later than the last 'd' upserts, with the payload of the
        latest c-or-u event (u's after the c update it);
      * only-u batches update-if-present with the latest u payload.

    Output: (id, net_op ∈ {c,u,d}, payload)."""
    s = changes.groupBy("id").agg(
        F.expr(f"max({seq_col}) FILTER (WHERE op IN ('c','r'))").alias("last_c"),
        F.expr(f"max({seq_col}) FILTER (WHERE op = 'd')").alias("last_d"),
        F.expr(
            f"max_by(payload, {seq_col}) FILTER (WHERE op <> 'd')"
        ).alias("payload"),
    )
    net_op = (
        F.when(
            F.col("last_d").isNotNull()
            & (F.col("last_c").isNull() | (F.col("last_d") > F.col("last_c"))),
            F.lit("d"),
        )
        .when(F.col("last_c").isNotNull(), F.lit("c"))
        .otherwise(F.lit("u"))
    )
    return s.select("id", net_op.alias("net_op"), "payload")


def apply_cdc_batch(state: DataFrame, changes: DataFrame, seq_col: str = "ts_ms") -> DataFrame:
    """C4/C5 dispatch (06_postgres_cdc_sink.py:32-64): reduce the batch to
    its net per-key effect, then —

      net c → upsert row
      net u → update if present (no resurrect); a null payload is set
              like any other, as applying the events one at a time does
      net d → delete

    Returns the next state snapshot (MERGE-shaped plan: one broadcast
    left join of base against the chunk, never a base-table shuffle —
    rows the chunk leaves alone or updates stay, net c rows are
    appended)."""
    latest = reduce_batch_per_key(changes, seq_col).withColumnRenamed(
        "payload", "__new_payload"
    )
    op = F.col("net_op")
    kept = (
        state.join(F.broadcast(latest), "id", "left")
        .filter(op.isNull() | (op == "u"))
        .withColumn(
            "payload",
            F.when(op == "u", F.col("__new_payload")).otherwise(F.col("payload")),
        )
        .select(*state.columns)
    )
    upserts = latest.filter(op == "c").select(
        "id", F.col("__new_payload").alias("payload")
    )
    return kept.unionByName(upserts)


def poll_changes(
    change_log: DataFrame, last_id: int, id_col: str = "change_id"
) -> DataFrame:
    """P8/C2 batch form: the incremental poll
    (``WHERE change_id > ? ORDER BY change_id ASC``,
    01_unit_test/05_trigger_cdc_test.py:91-97).  The caller tracks the
    max id it has applied — exactly the reference's ``last_id`` loop;
    the streaming form of the same contract is the file/Kafka offset."""
    return change_log.filter(F.col(id_col) > last_id).orderBy(id_col)


def observe_latency_stages(changes: DataFrame, now_ms_col=None) -> DataFrame:
    """C7: per-batch E2E latency metrics (02_e2e_cdc.py:89-135) via
    ``observe`` — records count/avg/max of (apply-time − event ts_ms)
    without a separate pass; read from the query's observedMetrics."""
    now = now_ms_col if now_ms_col is not None else F.unix_millis(
        F.current_timestamp()
    )
    lat = (now - F.col("ts_ms")).alias("lat")
    return changes.observe(
        "cdc_latency",
        F.count(F.lit(1)).alias("n_events"),
        F.avg(now - F.col("ts_ms")).alias("avg_ms"),
        F.max(now - F.col("ts_ms")).alias("max_ms"),
    )


def read_cdc_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """C2 as a file stream: each file holds newline-JSON Debezium envelopes
    (the test harness's stand-in for the Kafka topic)."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 16)
        .load(path)
    )
    return parse_envelope(raw, "value")


def read_cdc_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """C2/S9: Kafka source for the CDC topic (consumer semantics of
    06_postgres_cdc_sink.py:76-83: earliest offset, group id ≈ checkpoint)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_envelope(raw, "value")


def start_cdc_apply(
    changes_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    available_now: bool = False,
):
    """Run the streaming MERGE loop: every micro-batch folds its changes
    into the parquet state snapshot via ``apply_cdc_batch``.

    ``available_now=True`` = the offline-recovery drain
    (03_recovery.py:57-103): process the whole backlog in order, then stop
    — Spark's availableNow trigger is exactly that contract.
    """
    spark = changes_stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int):
        # only a missing state dir means "first batch": any other read
        # failure (a corrupt part file) must fail the batch, not let it
        # overwrite the state with its own changes alone
        state = read_parquet_or_none(spark, state_path)
        if state is None:
            state = spark.createDataFrame([], ROW_SCHEMA)
        new_state = apply_cdc_batch(state, batch_df)
        # two-phase write: parquet overwrite reads-then-writes the same
        # path, so stage to a temp dir first, dropped once copied over
        tmp = state_path.rstrip("/") + f".tmp-{batch_id}"
        new_state.write.mode("overwrite").parquet(tmp)
        staged = spark.read.parquet(tmp)
        staged.write.mode("overwrite").parquet(state_path)
        fs, jtmp = hadoop_fs(spark, tmp)
        fs.delete(jtmp, True)
        # drop any cached relation serving the rewritten snapshot
        from graphdb_for_drones_spark.catalog import invalidate_path

        invalidate_path(state_path)

    return start_sink(
        changes_stream, apply_batch, checkpoint_path, available_now,
        poll="1 second",  # reference poll interval
    )
