"""Custom stateful streaming operators: state must carry ACROSS
micro-batches (maxFilesPerTrigger=1 forces one batch per input file)."""

import json

import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from graphdb_for_drones_spark.streaming.stateful import (
    running_counts,
    session_window_agg,
    streaming_first_seen,
)

IN_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("value", LongType()),
    ]
)


def _write_batches(tmp_path, batches):
    import os

    sdir = tmp_path / "in"
    sdir.mkdir()
    for i, rows in enumerate(batches):
        p = sdir / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        # the file source orders batches by modification time — pin it
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return sdir


def _drain(stream_df, tmp_path, mode):
    out = []
    q = (
        stream_df.writeStream.format("memory")
        .queryName("sink_" + mode)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark = stream_df.sparkSession
    out = spark.sql(f"SELECT * FROM sink_{mode}").collect()
    return out


@pytest.mark.slow
def test_running_counts_across_batches(spark, tmp_path):
    sdir = _write_batches(
        tmp_path,
        [
            [
                {"key": "a", "seq": 1, "value": 10},
                {"key": "a", "seq": 2, "value": 20},
                {"key": "b", "seq": 3, "value": 30},
            ],
            [
                {"key": "a", "seq": 4, "value": 40},
            ],
        ],
    )
    stream = (
        spark.readStream.schema(IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(sdir))
    )
    rows = _drain(running_counts(stream.groupBy("key")), tmp_path, "update")
    # last emission per key wins (update mode appends each batch's rows
    # to the memory sink; take the final state per key)
    final = {}
    for r in rows:
        final[r.key] = (r.n_events, r.last_value)
    assert final["a"] == (3, 40)  # count accumulated across both batches
    assert final["b"] == (1, 30)


@pytest.mark.slow
def test_streaming_first_seen_suppresses_repeats(spark, tmp_path):
    sdir = _write_batches(
        tmp_path,
        [
            [
                {"key": "x", "seq": 5, "value": 0},
                {"key": "x", "seq": 2, "value": 0},
                {"key": "y", "seq": 7, "value": 0},
            ],
            [
                {"key": "x", "seq": 9, "value": 0},  # repeat: suppressed
                {"key": "z", "seq": 11, "value": 0},
            ],
        ],
    )
    stream = (
        spark.readStream.schema(IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(sdir))
    )
    rows = _drain(
        streaming_first_seen(stream.groupBy("key")), tmp_path, "append"
    )
    got = {r.key: r.first_seq for r in rows}
    assert got == {"x": 2, "y": 7, "z": 11}
    assert len(rows) == 3  # exactly once per key


@pytest.mark.slow
def test_session_window_batch(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", base),
        ("u1", base + dt.timedelta(minutes=10)),  # same session
        ("u1", base + dt.timedelta(minutes=50)),  # gap 40 min → new
        ("u2", base),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp"
    ).localCheckpoint()
    got = {
        (r.user_id, r.session_start_ms): r.n_events
        for r in session_window_agg(df, gap="30 minutes").collect()
    }
    b = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert got == {
        ("u1", b): 2,
        ("u1", b + 50 * 60 * 1000): 1,
        ("u2", b): 1,
    }


@pytest.mark.slow
def test_running_counts_unordered_chunks(spark, tmp_path):
    # force 1-row Arrow chunks: last_value must follow max(seq), not the
    # last chunk delivered (regression: per-chunk overwrite); a replayed
    # lower-seq batch must not regress last_value either
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        sdir = _write_batches(
            tmp_path,
            [
                [
                    {"key": "a", "seq": 5, "value": 50},
                    {"key": "a", "seq": 2, "value": 20},
                    {"key": "a", "seq": 4, "value": 40},
                ],
                [
                    {"key": "a", "seq": 1, "value": 10},  # late replay
                ],
            ],
        )
        stream = (
            spark.readStream.schema(IN_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(sdir))
        )
        rows = _drain(running_counts(stream.groupBy("key")), tmp_path, "update")
        final = {}
        for r in rows:
            final[r.key] = (r.n_events, r.last_value)
        assert final["a"] == (4, 50)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


FUNNEL_IN_SCHEMA = StructType(
    [
        StructField("user", LongType()),
        StructField("ms", LongType()),
        StructField("step", StringType()),
    ]
)

FUNNEL_STEPS = ("view", "click", "purchase")


def _funnel_drain(spark, tmp_path, batches):
    from graphdb_for_drones_spark.streaming.stateful import streaming_funnel

    sdir = _write_batches(tmp_path, batches)
    stream = (
        spark.readStream.schema(FUNNEL_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(sdir))
    )
    rows = _drain(
        streaming_funnel(stream, FUNNEL_STEPS),
        tmp_path,
        "update",
    )
    latest = {}
    for r in rows:  # memory sink keeps every update: latest t_stage wins
        cur = latest.get(r.user)
        if cur is None or r.stage > cur[0]:
            latest[r.user] = (r.stage, r.t_stage)
    return latest


@pytest.mark.slow
def test_streaming_funnel_equals_batch(spark, tmp_path):
    """In-order ingest: the streaming frontier must reproduce the batch
    first-reach recurrence — including cross-batch chains and the
    strict same-instant exclusion — and the stage>=k counts must match
    temporal.funnel_counts on the union of all batches."""
    batches = [
        # batch 0: u1 views; u2 clicks before ever viewing; u3 views
        [
            {"user": 1, "ms": 100, "step": "view"},
            {"user": 2, "ms": 100, "step": "click"},
            {"user": 3, "ms": 100, "step": "view"},
        ],
        # batch 1: u1 clicks; u2 views; u3 click+purchase SAME instant
        [
            {"user": 1, "ms": 200, "step": "click"},
            {"user": 2, "ms": 200, "step": "view"},
            {"user": 3, "ms": 200, "step": "click"},
            {"user": 3, "ms": 200, "step": "purchase"},
        ],
        # batch 2: u1 purchases (completes across three batches)
        [{"user": 1, "ms": 300, "step": "purchase"}],
    ]
    latest = _funnel_drain(spark, tmp_path, batches)
    assert latest[1] == (3, 300)  # full funnel across batches
    assert latest[2] == (1, 200)  # early click can't count
    assert latest[3] == (2, 200)  # same-instant purchase doesn't chain

    from pyspark.sql import functions as F

    from graphdb_for_drones_spark.operators.temporal import funnel_counts

    union = spark.createDataFrame(
        [(r["user"], r["ms"], r["step"]) for b in batches for r in b],
        FUNNEL_IN_SCHEMA,
    ).select(
        "user", F.timestamp_millis(F.col("ms")).alias("ts"), "step"
    ).localCheckpoint()
    batch_counts = {
        r.step_idx: r.n_users
        for r in funnel_counts(
            union, "user", "ts", "step", FUNNEL_STEPS
        ).collect()
    }
    stream_counts = {
        k: sum(1 for s, _ in latest.values() if s >= k + 1)
        for k in range(len(FUNNEL_STEPS))
    }
    assert stream_counts == batch_counts


@pytest.mark.slow
def test_streaming_funnel_state_is_frontier_only(spark, tmp_path):
    """The documented degradation: a future-step event DISCARDED at a
    lower stage is not recoverable after a cross-batch time reorder —
    the price of 2-longs-per-user state (no event buffer)."""
    batches = [
        [{"user": 7, "ms": 100, "step": "view"}],
        # purchase arrives BEFORE the click that would enable it
        [{"user": 7, "ms": 300, "step": "purchase"}],
        [{"user": 7, "ms": 200, "step": "click"}],  # late, out of order
    ]
    latest = _funnel_drain(spark, tmp_path, batches)
    assert latest[7] == (2, 200)  # batch over the union would say 3


RETENTION_IN_SCHEMA = StructType(
    [StructField("user", LongType()), StructField("ms", LongType())]
)

WK = 604_800_000


@pytest.mark.slow
def test_streaming_retention_equals_batch(spark, tmp_path):
    """Ordered ingest: the (cohort, offset) matrix counted over the
    append sink must equal temporal.retention_cohorts on the union —
    each (user, offset) emitted exactly once across batches."""
    from graphdb_for_drones_spark.streaming.stateful import (
        streaming_retention,
    )

    batches = [
        # week 0: u1, u2 start
        [{"user": 1, "ms": 10}, {"user": 2, "ms": 30}],
        # week 1: u1 returns (twice: second event must NOT re-emit), u3 new
        [
            {"user": 1, "ms": WK + 5},
            {"user": 1, "ms": WK + 6},
            {"user": 3, "ms": WK + 7},
        ],
        # week 2: u1 returns again, u2 returns after skipping week 1
        [{"user": 1, "ms": 2 * WK + 1}, {"user": 2, "ms": 2 * WK + 2}],
    ]
    sdir = _write_batches(tmp_path, batches)
    stream = (
        spark.readStream.schema(RETENTION_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(sdir))
    )
    rows = _drain(
        streaming_retention(stream, WK), tmp_path, "append"
    )
    assert len(rows) == len({(r.user, r.period_offset) for r in rows})
    stream_counts = {}
    for r in rows:
        k = (r.cohort_period, r.period_offset)
        stream_counts[k] = stream_counts.get(k, 0) + 1

    from pyspark.sql import functions as F

    from graphdb_for_drones_spark.operators.temporal import retention_cohorts

    union = spark.createDataFrame(
        [(r["user"], r["ms"]) for b in batches for r in b],
        RETENTION_IN_SCHEMA,
    ).select(
        "user", F.timestamp_millis(F.col("ms")).alias("ts")
    ).localCheckpoint()
    batch_counts = {
        (r.cohort_period, r.period_offset): r.n_users
        for r in retention_cohorts(union, "user", "ts").collect()
    }
    assert stream_counts == batch_counts
    assert stream_counts[(0, 0)] == 2 and stream_counts[(0, 2)] == 2


@pytest.mark.slow
def test_streaming_retention_cohort_is_pinned_by_first_batch(spark, tmp_path):
    """The documented degradation: an earlier-period event arriving
    after the cohort was pinned cannot re-cohort the user (2-long
    state, no event history)."""
    from graphdb_for_drones_spark.streaming.stateful import (
        streaming_retention,
    )

    batches = [
        [{"user": 9, "ms": WK + 1}],  # first seen in week 1
        [{"user": 9, "ms": 5}],       # late week-0 event: batch would re-cohort
    ]
    sdir = _write_batches(tmp_path, batches)
    stream = (
        spark.readStream.schema(RETENTION_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(sdir))
    )
    rows = _drain(
        streaming_retention(stream, WK), tmp_path, "append"
    )
    assert {(r.cohort_period, r.period_offset) for r in rows} == {(1, 0)}


def _per_user_funnel(batches, steps):
    """The reference: the per-user tracker's loop, one call per user per
    batch, returning every (user, stage, t_stage) it would emit."""
    front, emitted = {}, []
    for rows in batches:
        by_user = {}
        for r in rows:
            by_user.setdefault(r["user"], []).append(r)
        for user, evs in by_user.items():
            stage, t = front.get(user, (0, None))
            changed = False
            for e in sorted(evs, key=lambda e: e["ms"]):
                if stage >= len(steps):
                    break
                if e["step"] == steps[stage] and (stage == 0 or e["ms"] > t):
                    stage, t, changed = stage + 1, e["ms"], True
            if changed:
                front[user] = (stage, t)
                emitted.append((user, stage, t))
    return emitted


def _random_funnel_batches(seed, n_batches=4, rows_per_batch=300):
    """Ordered multi-batch events over dense, sparse and negative ids and
    both sides of a block boundary (63, 64), with times from a narrow
    range so same-instant ties are common.  User 900 completes the funnel
    in the first batch and user 901 views and clicks at one instant
    there; both keep sending events afterwards."""
    import random

    rng = random.Random(seed)
    users = (
        list(range(130))
        + [-1, -64, -65, -200]
        + [u * 2**20 + 7 for u in range(20)]
    )
    first = [
        {"user": u, "ms": t, "step": s}
        for u, t, s in [
            (900, 1, "view"), (900, 2, "click"), (900, 3, "purchase"),
            (901, 1, "view"), (901, 1, "click"),
            (63, 5, "view"), (64, 5, "view"), (-1, 5, "view"),
            (-65, 5, "view"), (7, 5, "view"),
        ]
    ]
    kinds = FUNNEL_STEPS + ("home", "cart")
    return [
        (first if b == 0 else [])
        + [
            {
                "user": rng.choice(users + ([900, 901] if b else [])),
                "ms": 100 * b + rng.randrange(40),
                "step": rng.choice(kinds),
            }
            for _ in range(rows_per_batch)
        ]
        for b in range(n_batches)
    ]


@pytest.mark.slow
def test_streaming_funnel_blocks_match_per_user_reference(spark, tmp_path):
    """The block tracker emits exactly the per-user loop's rows, batch by
    batch, on seeded random ordered ingest."""
    batches = _random_funnel_batches(seed=16)
    from graphdb_for_drones_spark.streaming.stateful import streaming_funnel

    sdir = _write_batches(tmp_path, batches)
    stream = (
        spark.readStream.schema(FUNNEL_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(sdir))
    )
    rows = _drain(streaming_funnel(stream, FUNNEL_STEPS), tmp_path, "update")
    want = _per_user_funnel(batches, FUNNEL_STEPS)
    assert sorted((r.user, r.stage, r.t_stage) for r in rows) == sorted(want)
    assert {(900, 3, 3), (901, 1, 1)} <= set(want)
    assert {63, 64, -1, -65, 7} <= {u for u, _, _ in want}


def test_block_steps_match_per_user_loops():
    """Both trackers' numpy block steps against the per-user loops, over
    many seeded batches (no Spark): ids on both sides of block and sign
    boundaries, ties, non-step events, a mask that reaches bit 63."""
    import random

    import numpy as np
    import pandas as pd

    from graphdb_for_drones_spark.streaming.stateful import (
        BLOCK_BITS,
        _advance_funnel,
        _advance_retention,
    )

    def run_blocks(state, rows, advance):
        out = []
        for blk in {r[0] >> BLOCK_BITS for r in rows}:
            cols = [np.array(c, np.int64) for c in zip(
                *[r for r in rows if r[0] >> BLOCK_BITS == blk]
            )]
            got = advance(state.get(blk, np.empty((3, 0), np.int64)), *cols)
            if got is None:
                continue
            kept, emitted = got
            packed = np.stack(kept).astype("<i8").tobytes()
            state[blk] = np.frombuffer(packed, "<i8").reshape(3, -1)
            assert (state[blk][0] >> BLOCK_BITS == blk).all()
            assert (np.diff(state[blk][0]) > 0).all()
            out += [tuple(int(v) for v in e) for e in zip(*emitted)]
        return out

    index = pd.Index(list(FUNNEL_STEPS))
    want = index.get_indexer(list(FUNNEL_STEPS))
    kinds = list(FUNNEL_STEPS) + ["home", None]
    ids = [-65, -64, -1, 0, 1, 62, 63, 64, 65, 127, 128, 7 * 2**20 + 7]
    for seed in range(200):
        rng = random.Random(seed)
        users = rng.sample(ids, 6)
        state, batches, got = {}, [], []
        for b in range(4):
            rows = [
                (rng.choice(users), 10 * b + rng.randrange(12), rng.choice(kinds))
                for _ in range(rng.randrange(40))
            ]
            batches.append([{"user": u, "ms": t, "step": s} for u, t, s in rows])
            got += run_blocks(
                state,
                [(u, t, index.get_indexer([s])[0]) for u, t, s in rows],
                lambda st, u, t, c: _advance_funnel(st, u, t, c, want),
            )
        assert sorted(got) == sorted(_per_user_funnel(batches, FUNNEL_STEPS))

    for seed in range(200):
        rng = random.Random(seed)
        users, horizon = rng.sample(ids, 4), rng.choice([1, 5, 64])
        state, seen, got, ref = {}, {}, [], []
        for b in range(5):
            rows = [
                (rng.choice(users), rng.randrange(-2, 70))
                for _ in range(rng.randrange(1, 30))
            ]
            got += run_blocks(
                state, rows,
                lambda st, u, p: _advance_retention(st, u, p, horizon),
            )
            periods = {}
            for u, p in rows:
                periods.setdefault(u, set()).add(p)
            for u, ps in periods.items():  # the per-user tracker's loop
                cohort, emitted = seen.get(u, (min(ps), 0))
                for off in sorted(p - cohort for p in ps):
                    if 0 <= off < horizon and not (emitted >> off) & 1:
                        emitted |= 1 << off
                        ref.append((cohort, off, u))
                seen[u] = (cohort, emitted)
        assert sorted(got) == sorted(ref)


@pytest.mark.slow
def test_streaming_funnel_state_rows_are_packed_blocks(spark, tmp_path):
    """Read the checkpoint's state back: one row per user block, whose
    packed bytes decode as little-endian int64 (user, stage, t) columns
    of at most 64 users of that block, ids sorted, every stage >= 1."""
    import numpy as np

    from graphdb_for_drones_spark.streaming.stateful import (
        BLOCK_BITS,
        streaming_funnel,
    )

    batches = _random_funnel_batches(seed=7, n_batches=2)
    sdir = _write_batches(tmp_path, batches)
    stream = (
        spark.readStream.schema(FUNNEL_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(sdir))
    )
    _drain(streaming_funnel(stream, FUNNEL_STEPS), tmp_path, "update")
    state = (
        spark.read.format("statestore")
        .load(str(tmp_path / "ckpt"))
        .select("key.user_block", "value.groupState.packed")
        .collect()
    )
    front = {}
    for u, s, t in _per_user_funnel(batches, FUNNEL_STEPS):
        front[u] = (s, t)
    assert len(state) == len({u >> BLOCK_BITS for u in front})
    decoded = {}
    for block, packed in state:
        assert len(packed) % 24 == 0
        cols = np.frombuffer(packed, "<i8").reshape(3, -1)
        users = cols[0].tolist()
        assert 0 < len(users) <= 2**BLOCK_BITS
        assert users == sorted(users)
        assert all(u >> BLOCK_BITS == block for u in users)
        assert (cols[1] >= 1).all()
        decoded.update(
            {u: (int(s), int(t)) for u, s, t in zip(users, cols[1], cols[2])}
        )
    assert decoded == front


@pytest.mark.slow
def test_streaming_retention_keeps_offset_63(spark, tmp_path):
    """horizon=64 means offset 63 is the mask's sign bit: it must survive
    the state round trip, so a repeat of week 63 is not re-emitted and the
    next batch runs (a long bitmask that overflowed came back null)."""
    from graphdb_for_drones_spark.streaming.stateful import (
        streaming_retention,
    )

    batches = [
        [{"user": 1, "ms": 0}],
        [{"user": 1, "ms": 63 * WK}],
        [{"user": 1, "ms": 63 * WK + 1}, {"user": 1, "ms": 5 * WK}],
    ]
    sdir = _write_batches(tmp_path, batches)
    stream = (
        spark.readStream.schema(RETENTION_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(sdir))
    )
    q = (
        streaming_retention(stream, WK, horizon=64)
        .writeStream.format("memory")
        .queryName("sink_offset_63")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    rows = spark.sql("SELECT * FROM sink_offset_63").collect()
    got = [(r.cohort_period, r.period_offset) for r in rows if r.user == 1]
    assert sorted(got) == [(0, 0), (0, 5), (0, 63)]
