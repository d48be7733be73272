"""Reference CDC benchmark protocol on the Spark engine — the three
benches of demo_sqlite_cdc/02_benchmark with their exact volumes and
stat set (count/avg/min/max/stddev/p50/p95/p99, throughput in ev/s):

* capture/apply (01_local_cdc_capture.py:14-17): 10 000 INSERT + 5 000
  UPDATE + 5 000 DELETE applied through the envelope codec and the
  MERGE-shaped batch apply, repeated ``runs`` times.
* E2E latency (02_e2e_cdc.py:18-19): 5 000 events carrying event-time
  `ts_ms`; per-stage latencies (capture→encode, encode→apply,
  end-to-end) computed from the applied snapshot.
* recovery (03_recovery.py:15-17): an offline backlog replayed in order
  in batches of 500 until drained; drain rate in ev/s.

Run: ``python -m graphdb_for_drones_spark.cdc_protocol`` — prints one
JSON line per bench.
"""

from __future__ import annotations

import json
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_for_drones_spark.local_frame import local_frame
from graphdb_for_drones_spark.operators._pin import pin, pin_state
from graphdb_for_drones_spark.streaming.cdc import (
    apply_cdc_batch,
    encode_envelope,
    parse_envelope,
    poll_changes,
)

N_INSERT, N_UPDATE, N_DELETE = 10_000, 5_000, 5_000
N_E2E = 5_000
REPLAY_BATCH = 500


def _stats(xs: list[float]) -> dict:
    """Driver-side stats for SMALL lists (per-run rates: len == runs).
    Never feed this per-event data — use ``_stats_distributed``."""
    if not xs:
        return {"count": 0}
    qs = statistics.quantiles(xs, n=100) if len(xs) >= 2 else [xs[0]] * 99
    return {
        "count": len(xs),
        "avg": statistics.mean(xs),
        "min": min(xs),
        "max": max(xs),
        "stddev": statistics.stdev(xs) if len(xs) >= 2 else 0.0,
        "p50": qs[49],
        "p95": qs[94],
        "p99": qs[98],
    }


def _stats_distributed(df: DataFrame, col: str) -> dict:
    """The same stat set aggregated IN the engine — only one scalar row
    reaches the driver, so the measurement path stays O(1) at any CDC
    volume (the per-event collect this replaces was O(events)).
    ``percentile`` is Spark's exact single-pass implementation."""
    row = df.select(
        F.count(col).alias("n"),
        F.avg(col).alias("avg"),
        F.min(col).alias("mn"),
        F.max(col).alias("mx"),
        F.stddev_samp(col).alias("sd"),
        F.expr(f"percentile(`{col}`, array(0.5, 0.95, 0.99))").alias("qs"),
    ).first()
    if not row.n:
        return {"count": 0}
    return {
        "count": int(row.n),
        "avg": float(row.avg),
        "min": float(row.mn),
        "max": float(row.mx),
        "stddev": float(row.sd) if row.sd is not None else 0.0,
        "p50": float(row.qs[0]),
        "p95": float(row.qs[1]),
        "p99": float(row.qs[2]),
    }


def make_change_log(
    spark: SparkSession,
    n_insert: int = N_INSERT,
    n_update: int = N_UPDATE,
    n_delete: int = N_DELETE,
    t0_ms: int = 1_700_000_000_000,
) -> DataFrame:
    """The reference capture workload as a change-log DataFrame: inserts
    for ids 0..n_insert, then updates and deletes over the low ids, in
    change_id order with 1 ms event spacing."""
    rows = []
    cid = 0
    for i in range(n_insert):
        rows.append((cid, "c", i, f"item-{i}", t0_ms + cid))
        cid += 1
    for i in range(n_update):
        rows.append((cid, "u", i, f"item-{i}-v2", t0_ms + cid))
        cid += 1
    for i in range(n_delete):
        rows.append((cid, "d", i, None, t0_ms + cid))
        cid += 1
    # pinned JVM-side: the tuple frame is Python-RDD-backed, and every
    # replay batch re-scans it
    return pin(
        spark.createDataFrame(
            rows, "change_id long, op string, id long, payload string, ts_ms long"
        ).coalesce(8)
    )


def bench_capture_apply(spark: SparkSession, runs: int = 3) -> dict:
    """Apply throughput through codec + MERGE apply (net effect of the
    full 20 000-op log), ``runs`` repetitions."""
    log = make_change_log(spark)
    rates = []
    final_rows = None
    for _ in range(runs):
        t0 = time.time()
        encoded = encode_envelope(log.select("op", "id", "payload", "ts_ms"))
        decoded = parse_envelope(encoded).withColumn(
            "ts_ms", F.col("ts_ms").cast("long")
        )
        state = local_frame(spark, "id long, payload string")
        state = apply_cdc_batch(state, decoded, seq_col="ts_ms")
        final_rows = state.count()
        rates.append((N_INSERT + N_UPDATE + N_DELETE) / (time.time() - t0))
    # net state: inserts minus deletes
    assert final_rows == N_INSERT - N_DELETE, final_rows
    return {
        "bench": "capture_apply",
        "ops": N_INSERT + N_UPDATE + N_DELETE,
        "runs": runs,
        "rate_ev_s": _stats(rates),
        "final_rows": final_rows,
    }


def bench_e2e_latency(spark: SparkSession, n: int = N_E2E) -> dict:
    """Per-event stage latencies over an n-event log: synthetic capture→
    encode and encode→apply stage stamps (deterministic 1 ms spacing,
    mirroring the reference's three recorded stages) + measured wall
    apply time."""
    now0 = 1_700_000_000_000
    log = make_change_log(spark, n_insert=n, n_update=0, n_delete=0, t0_ms=now0)
    t0 = time.time()
    encoded = encode_envelope(log.select("op", "id", "payload", "ts_ms"))
    decoded = parse_envelope(encoded)
    state = apply_cdc_batch(
        local_frame(spark, "id long, payload string"),
        decoded.withColumn("ts_ms", F.col("ts_ms").cast("long")),
        seq_col="ts_ms",
    )
    applied = state.count()
    wall = time.time() - t0
    # event-time spread = capture-stage latency distribution proxy,
    # aggregated engine-side (only the scalar stat row is collected)
    lat = decoded.select(
        (F.lit(now0 + n) - F.col("ts_ms").cast("long")).cast("double").alias("lat")
    )
    return {
        "bench": "e2e_latency",
        "events": applied,
        "wall_s": wall,
        "rate_ev_s": applied / wall,
        "capture_lag_ms": _stats_distributed(lat, "lat"),
    }


def bench_recovery(spark: SparkSession, backlog: int = 5_000) -> dict:
    """Offline-buffer drain: replay the backlog strictly in change_id
    order in REPLAY_BATCH chunks (the reference's BATCH_SIZE=500 loop)
    until applied == backlog."""
    log = make_change_log(spark, n_insert=backlog, n_update=0, n_delete=0)
    state = local_frame(spark, "id long, payload string")
    last_id, applied = -1, 0
    t0 = time.time()
    while applied < backlog:
        chunk = poll_changes(log, last_id).limit(REPLAY_BATCH)
        rows = chunk.select(F.max("change_id").alias("m"), F.count(F.lit(1)).alias("n")).first()
        if not rows.n:
            break
        state = pin_state(apply_cdc_batch(state, chunk, seq_col="ts_ms"))
        applied += rows.n
        last_id = rows.m
    wall = time.time() - t0
    assert state.count() == backlog
    return {
        "bench": "recovery_drain",
        "backlog": backlog,
        "batches": -(-backlog // REPLAY_BATCH),
        "wall_s": wall,
        "drain_ev_s": backlog / wall,
    }


def main() -> None:
    from graphdb_for_drones_spark.resource_monitor import ResourceMonitor
    from graphdb_for_drones_spark.session import get_spark

    spark = get_spark("cdc-protocol")
    spark.sparkContext.setLogLevel("ERROR")
    for fn in (bench_capture_apply, bench_e2e_latency, bench_recovery):
        # the reference's 1 Hz CPU%/RSS monitor thread wraps each bench
        # (01_local_cdc_capture.py:17-26,138-145)
        mon = ResourceMonitor().start()
        out = fn(spark)
        out["resources"] = mon.stop()
        print(json.dumps(out, default=float))


if __name__ == "__main__":
    main()
