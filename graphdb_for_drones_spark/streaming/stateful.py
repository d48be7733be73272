"""Custom stateful streaming operators (`applyInPandasWithState`) and
built-in session windows — the beyond-reference streaming surface
(SURVEY §2.8 notes the reference has no stateful aggregation; a
training-data pipeline needs at least streaming dedup and running
per-key materialization).

All operators work on BOTH batch and streaming DataFrames where Spark
allows it; the `applyInPandasWithState` paths are streaming-only by API
and have batch twins in plans/ for the oracle gate.

Scale notes: state lives in the state store keyed by the grouping key —
shuffle is one exchange on the key, state size is O(distinct keys);
watermarks bound it for session windows.  Arrow moves each group's rows
as pandas batches (never row-at-a-time Python).  The user trackers
(``streaming_funnel``, ``streaming_retention``) key by user-id block
(``BLOCK_BITS``), not by user: one Python call per block of up to 64 ids
advances their state together in numpy, and one state row holds the
block's users packed as little-endian int64 bytes.

State-schema compatibility: there is no migration path for checkpoints
written under an older state schema, so restarting an existing query
after upgrading requires a NEW checkpoint directory (acceptable for this
bench harness; a production rollout would version the state and migrate
on read).  Changes so far: RUNNING_STATE_SCHEMA widened from (n, last)
to (n, last, last_seq); the funnel and retention trackers moved from
per-user (2 longs) rows to per-block ``BLOCK_STATE_SCHEMA`` rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RUNNING_OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_events", LongType()),
        StructField("last_value", LongType()),
    ]
)
RUNNING_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("last", LongType()),
        StructField("last_seq", LongType()),
    ]
)


def running_counts(grouped):
    """Per-key running (count, last_value) maintained across micro-batches
    — the minimal CDC-style materializer as a custom stateful operator.

    Usage: ``stream.groupBy("key").applyInPandasWithState(... )`` via
    this wrapper: ``running_counts(stream.groupBy("key"))``.  Emits one
    row per key per micro-batch that touched it (update semantics).

    ``last_value`` is the value at the maximum ``seq`` seen so far —
    tracked as (max_seq, value_at_max_seq) across Arrow chunks AND across
    micro-batches (the seq is persisted in state), because a key's rows
    within one micro-batch may span multiple pandas chunks in no global
    seq order, and a replayed/late micro-batch may carry lower seqs.
    """

    def fn(key, pdf_iter, state: GroupState):
        n, last, last_seq = state.get if state.exists else (0, None, None)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            n += len(pdf)
            i = pdf["seq"].idxmax()
            chunk_seq = int(pdf["seq"].loc[i])
            if last_seq is None or chunk_seq >= last_seq:
                last_seq = chunk_seq
                last = int(pdf["value"].loc[i])
        state.update((n, last, last_seq))
        yield pd.DataFrame(
            {"key": [key[0]], "n_events": [n], "last_value": [last]}
        )

    return grouped.applyInPandasWithState(
        fn,
        RUNNING_OUT_SCHEMA,
        RUNNING_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


DEDUP_OUT_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("first_seq", LongType())]
)
DEDUP_STATE_SCHEMA = StructType([StructField("seen", LongType())])


def streaming_first_seen(grouped):
    """Streaming exact-dedup: emit each key exactly once (its first
    occurrence, by ``seq``) across all micro-batches; later occurrences
    are absorbed by the per-key state.  The stateful twin of
    ``dedup.dedup_exact`` — use for continuous corpus ingestion where
    `dropDuplicates` + watermark would evict state too early."""

    def fn(key, pdf_iter, state: GroupState):
        first = None
        for pdf in pdf_iter:
            if len(pdf):
                m = int(pdf["seq"].min())
                first = m if first is None else min(first, m)
        if not state.exists and first is not None:
            state.update((first,))
            yield pd.DataFrame({"key": [key[0]], "first_seq": [first]})

    return grouped.applyInPandasWithState(
        fn,
        DEDUP_OUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Built-in gap session windows (F.session_window): works on batch
    DataFrames directly and on streams with a watermark.  Emits
    (user, session_start_ms, n_events).

    Note the semantic difference vs `operators/temporal.sessionize`:
    session_window closes a session when the NEXT event is > gap after
    the PREVIOUS one — identical gap rule, but window bounds are
    [min_ts, last_ts + gap)."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user_col),
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
        )
    )




# The user trackers key their state by user-id BLOCK, ``user >> BLOCK_BITS``
# (arithmetic shift: negative ids block too), not by user: pyspark's
# applyInPandasWithState pays a fixed cost per GROUP in its serializer and
# UDF wrapper, whatever the group holds, so one call per block advances up
# to 2**BLOCK_BITS users together in numpy.  At most 64 ids share a block
# whatever their distribution, so a batch that touches one user rewrites at
# most 64 users' state (1.5 KB).  The gain needs dense ids: sparse ids give
# one user per block, i.e. the per-user cost.  Width sweep, the
# event_funnel_streamed build + collect at sf0.1 (62.5 users a block),
# local[4], medians of 6 calls in each of 2 processes: 1 id 2.71 / 2.58 s;
# 16 ids 1.73 / 1.62 s; 64 ids 1.71 / 1.68 s; 256 ids 1.82 / 1.55 s;
# 1,024 ids 1.84 / 1.68 s: a plateau from 16 ids on.
BLOCK_BITS = 6
# one row per block: its users' columns packed as one little-endian int64
# byte string (rows: ids sorted, then one row per state field), so a
# checkpoint reads back the same on any host.  On the per-user tracker a
# binary field cost nothing over two long fields (sparse-id drain, 1.93 vs
# 1.97 s).
BLOCK_STATE_SCHEMA = StructType([StructField("packed", BinaryType())])


def _unpack(state: GroupState) -> np.ndarray:
    """A block's state as a (3, n) int64 array, one column per user."""
    if not state.exists:
        return np.empty((3, 0), np.int64)
    return np.frombuffer(state.get[0], "<i8").reshape(3, -1).astype(np.int64)


def _by_block(events: DataFrame, step, out_schema, mode):
    """Run ``step(pdf, state)`` once per user block per micro-batch, over
    the block's rows (all its Arrow chunks) and its unpacked state.  It
    returns None (state kept as it is, nothing emitted) or the new
    state's columns and the emitted rows' columns, all int64 (the
    output schema's order)."""
    # one 2-D block under a prebuilt column index: ~30 us a frame where
    # a dict of columns takes ~100 us, paid by every block of a batch
    out_cols = pd.Index(out_schema.fieldNames())

    def fn(key, pdf_iter, state: GroupState):
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        got = step(pdf, _unpack(state))
        if got is None:
            return
        kept, out = got
        state.update((np.stack(kept).astype("<i8").tobytes(),))
        if len(out[0]):
            yield pd.DataFrame(
                np.stack(out, axis=1), columns=out_cols, copy=False
            )

    # the grouping key must be a column of the grouped frame
    return events.withColumn(
        "user_block", F.shiftright(F.col("user"), BLOCK_BITS)
    ).groupBy("user_block").applyInPandasWithState(
        fn, out_schema, BLOCK_STATE_SCHEMA, mode, GroupStateTimeout.NoTimeout
    )


def _merge_users(known: np.ndarray, rows: np.ndarray):
    """Sorted union of a block's stored ids and a batch's row ids, with
    the positions of each in it."""
    users = np.union1d(known, rows)
    return users, np.searchsorted(users, known), np.searchsorted(users, rows)


FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user", LongType()),
        StructField("stage", LongType()),
        StructField("t_stage", LongType()),
    ]
)


def _advance_funnel(state, user, ms, code, want):
    """One block's frontier step: ``state`` is its (3, n) (user, stage,
    t) columns, ``user``/``ms``/``code`` a batch's rows (``code`` indexes
    the step, -1 for a non-step) and ``want[k]`` stage k's step code.
    Returns the new state (users at stage >= 1, ids sorted) and the
    (user, stage, t) columns of the users that advanced, or None if no
    user did."""
    n_steps = len(want)
    keep = code >= 0
    user, ms, code = user[keep], ms[keep], code[keep]
    order = np.lexsort((ms, user))
    user, ms, code = user[order], ms[order], code[order]
    users, old, row = _merge_users(state[0], user)
    stage = np.zeros(len(users), np.int64)
    t = np.zeros(len(users), np.int64)
    stage[old], t[old] = state[1], state[2]
    start = stage.copy()
    # pass k moves each user at most one stage: its first (rows sorted by
    # (user, ms)) event of the next step strictly after its frontier time
    for _ in range(n_steps):
        s = stage[row]
        hit = (
            (s < n_steps)
            & (code == want[np.minimum(s, n_steps - 1)])
            & ((s == 0) | (ms > t[row]))
        )
        idx = np.flatnonzero(hit)
        if not len(idx):
            break
        moved, first = np.unique(row[idx], return_index=True)
        stage[moved] += 1
        t[moved] = ms[idx[first]]
    advanced = stage > start
    if not advanced.any():
        return None
    live = stage > 0
    return (
        (users[live], stage[live], t[live]),
        (users[advanced], stage[advanced], t[advanced]),
    )


def streaming_funnel(events: DataFrame, steps: tuple[str, ...]):
    """Streaming ordered-funnel tracker — the stateful twin of
    ``temporal.funnel_counts``: per user, the state is only the
    FRONTIER (completed prefix length, timestamp of its last step),
    stored for users at stage >= 1.  Per micro-batch a user advances to
    stage k+1 on its first ``steps[k]`` event (by ``ms``) — for k >= 1
    strictly after its stage-k time — which reproduces the batch
    first-reach recurrence exactly (one event advances at most one
    stage).  Emits (user, stage, t_stage) whenever a user's frontier
    advances (update semantics) — the funnel report is a latest-wins
    count of ``stage >= k`` over the sink.

    State is keyed by user block (``BLOCK_BITS``): one Python call scans
    up to 64 users' rows in numpy, ``len(steps)`` masked first-match
    passes over the rows sorted by (user, ms).  The gain over one call
    per user needs dense ids; sparse ids cost what per-user keys did.

    Contract (every frontier state machine has it): equals the batch
    funnel when each user's event time is NON-DECREASING across
    micro-batches (the ordered-ingest / availableNow file contract).
    Only the frontier is stored, so an event that could have chained
    off a DISCARDED future event (late cross-batch reordering) cannot
    be recovered — by design: per-user state is 2 longs plus the id,
    never an event buffer, the 100 TB property.  Within one micro-batch
    arrival order is irrelevant.

    Input rows: (user long, ms long, step string)."""
    names = list(dict.fromkeys(steps))
    want = np.array([names.index(s) for s in steps])

    def step(pdf, state):
        kind = pdf["step"].to_numpy()
        code = np.full(len(kind), -1)
        for i, name in enumerate(names):
            code[kind == name] = i
        return _advance_funnel(
            state,
            pdf["user"].to_numpy(np.int64),
            pdf["ms"].to_numpy(np.int64),
            code,
            want,
        )

    return _by_block(events, step, FUNNEL_OUT_SCHEMA, "update")


RETENTION_OUT_SCHEMA = StructType(
    [
        StructField("cohort_period", LongType()),
        StructField("period_offset", LongType()),
        StructField("user", LongType()),
    ]
)


def _advance_retention(state, user, period, horizon):
    """One block's retention step: ``state`` is its (3, n) (user,
    cohort, emitted mask as int64) columns, ``user``/``period`` a
    batch's rows.  Returns the new state (every user seen, ids sorted)
    and the (cohort, offset, user) columns of the offsets seen for the
    first time."""
    order = np.lexsort((period, user))
    user, period = user[order], period[order]
    dup = np.zeros(len(user), bool)
    dup[1:] = (user[1:] == user[:-1]) & (period[1:] == period[:-1])
    user, period = user[~dup], period[~dup]
    users, old, row = _merge_users(state[0], user)
    seen = np.zeros(len(users), bool)
    cohort = np.zeros(len(users), np.int64)
    mask = np.zeros(len(users), np.uint64)
    seen[old], cohort[old] = True, state[1]
    mask[old] = state[2].view(np.uint64)  # bit 63 is the int64 sign bit
    # a new user's cohort is its first (smallest) period in this batch
    firsts, first = np.unique(row, return_index=True)
    new = ~seen[firsts]
    cohort[firsts[new]] = period[first[new]]
    off = period - cohort[row]
    inside = (off >= 0) & (off < horizon)
    bit = np.uint64(1) << np.where(inside, off, 0).astype(np.uint64)
    fresh = inside & ((mask[row] & bit) == 0)
    np.bitwise_or.at(mask, row[fresh], bit[fresh])
    return (users, cohort, mask.view(np.int64)), (
        cohort[row[fresh]],
        off[fresh],
        user[fresh],
    )


def streaming_retention(events: DataFrame, period_ms: int, horizon: int = 64):
    """Streaming cohort-retention tracker — the stateful twin of
    ``temporal.retention_cohorts``: per user the state is (cohort
    period, emitted-offset BITMASK) — 2 longs plus the id, which is why
    ``horizon`` is capped at 64 periods (~15 months of weekly cohorts;
    offsets past the horizon are dropped, the documented window; bit 63
    is stored as the sign bit).  Each (user, offset) pair is emitted
    EXACTLY ONCE across all micro-batches (append semantics, the
    ``streaming_first_seen`` shape), so the retention matrix is a plain
    COUNT over the sink grouped by (cohort_period, period_offset) — no
    latest-wins reconciliation needed.

    State is keyed by user block, as ``streaming_funnel``'s is: one
    Python call per block of up to 64 ids; the gain needs dense ids.

    Contract: equals the batch matrix when each user's FIRST-period
    activity arrives before later periods (ordered ingest — the cohort
    is pinned by the first batch that touches the user; an
    earlier-period event arriving later cannot re-cohort, by design:
    no event history is stored).

    Input rows: (user long, ms long)."""
    if not 1 <= horizon <= 64:
        raise ValueError("horizon must be in [1, 64] (one-long bitmask)")

    def step(pdf, state):
        return _advance_retention(
            state,
            pdf["user"].to_numpy(np.int64),
            pdf["ms"].to_numpy(np.int64) // period_ms,
            horizon,
        )

    return _by_block(events, step, RETENTION_OUT_SCHEMA, "append")
