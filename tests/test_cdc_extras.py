"""P8 poll, M11 diff-as-changes, C7 observe metrics."""

from pyspark.sql import functions as F

from graphdb_for_drones_spark.mutation import diff_as_changes
from graphdb_for_drones_spark.streaming.cdc import (
    apply_cdc_batch,
    observe_latency_stages,
    poll_changes,
)


def test_poll_changes(spark):
    log = spark.createDataFrame(
        [(i, "INSERT", i * 10) for i in range(10)],
        "change_id long, operation string, row_id long",
    ).coalesce(1).localCheckpoint()
    got = poll_changes(log, last_id=6).collect()
    assert [r.change_id for r in got] == [7, 8, 9]


def test_diff_as_changes_roundtrip(spark):
    before = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "id long, payload string"
    ).coalesce(1).localCheckpoint()
    after = spark.createDataFrame(
        [(1, "one"), (2, "two-v2"), (4, "four")], "id long, payload string"
    ).coalesce(1).localCheckpoint()
    ch = diff_as_changes(before, after, "id").localCheckpoint()
    ops = {r.id: r.op for r in ch.collect()}
    assert ops == {2: "u", 3: "d", 4: "c"}
    # applying the derived changes to `before` reproduces `after`
    replayed = apply_cdc_batch(before, ch)
    assert sorted(map(tuple, replayed.collect())) == sorted(map(tuple, after.collect()))


def test_observe_latency(spark):
    ch = spark.createDataFrame(
        [(1, "a", "c", 100), (2, "b", "c", 200)],
        "id long, payload string, op string, ts_ms long",
    )
    observed = observe_latency_stages(ch, now_ms_col=F.lit(1000))
    observed.collect()
    # observation names are attached to the plan; collect must succeed and
    # rows flow through unchanged
    assert observed.count() == 2


def test_cdc_protocol_benches(spark):
    from graphdb_for_drones_spark.cdc_protocol import (
        bench_capture_apply,
        bench_recovery,
        make_change_log,
    )
    from graphdb_for_drones_spark.streaming.cdc import (
        apply_cdc_batch,
        encode_envelope,
        parse_envelope,
    )
    from pyspark.sql import functions as F

    # protocol correctness at reduced volume: net state = inserts - deletes
    log = make_change_log(spark, n_insert=100, n_update=40, n_delete=30)
    decoded = parse_envelope(
        encode_envelope(log.select("op", "id", "payload", "ts_ms"))
    ).withColumn("ts_ms", F.col("ts_ms").cast("long"))
    state = apply_cdc_batch(
        spark.createDataFrame([], "id long, payload string"),
        decoded,
        seq_col="ts_ms",
    )
    assert state.count() == 70
    # updated-but-not-deleted rows carry the v2 payload
    survivors = {r.id: r.payload for r in state.collect()}
    assert survivors[35] == "item-35-v2"
    assert survivors[99] == "item-99"
    r = bench_recovery(spark, backlog=200)
    assert r["batches"] == 1 and r["drain_ev_s"] > 0

    # a multi-batch drain frees each replaced state and the last one:
    # nothing it pinned is left persisted
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    r = bench_recovery(spark, backlog=1_500)
    assert r["batches"] == 3
    assert persisted() - before == set()


def test_stats_distributed_scalar_only(spark):
    # engine-side stat aggregation: one scalar row reaches the driver and
    # the values agree with hand-computed ground truth
    import statistics

    from graphdb_for_drones_spark.cdc_protocol import _stats_distributed

    xs = [float(x) for x in [3, 1, 4, 1, 5, 9, 2, 6, 5]]
    df = spark.createDataFrame([(x,) for x in xs], "lat double")
    got = _stats_distributed(df, "lat")
    assert got["count"] == 9
    assert got["avg"] == statistics.mean(xs)
    assert (got["min"], got["max"]) == (1.0, 9.0)
    assert abs(got["stddev"] - statistics.stdev(xs)) < 1e-12
    assert got["p50"] == 4.0  # exact median, odd n
    assert got["p99"] <= got["max"]
    empty = spark.createDataFrame([], "lat double")
    assert _stats_distributed(empty, "lat") == {"count": 0}
