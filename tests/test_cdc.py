"""CDC pipeline: envelope roundtrip, batch apply dispatch semantics, and
the streaming availableNow drain (offline-recovery replay)."""

import json
import random

import pytest
from pyspark.sql import functions as F

from graphdb_for_drones_spark.streaming.cdc import (
    apply_cdc_batch,
    encode_envelope,
    parse_envelope,
    read_cdc_file_stream,
    start_cdc_apply,
)


def changes_df(spark, rows):
    # rows: (id, payload, op, ts_ms)
    return spark.createDataFrame(
        rows, "id long, payload string, op string, ts_ms long"
    ).coalesce(1).localCheckpoint()


def state_df(spark, rows):
    return spark.createDataFrame(rows, "id long, payload string").coalesce(1).localCheckpoint()


def test_envelope_roundtrip(spark):
    ch = changes_df(spark, [(1, "a", "c", 100), (2, None, "d", 101)])
    enc = encode_envelope(ch.select("op", "id", "payload", "ts_ms"))
    row = enc.filter(F.col("key") == "1").first()
    env = json.loads(row.value)
    assert env["payload"]["op"] == "c"
    assert env["payload"]["after"] == {"id": 1, "payload": "a"}
    dec = parse_envelope(enc).orderBy("id").collect()
    assert [(r.id, r.payload, r.op) for r in dec] == [(1, "a", "c"), (2, None, "d")]


def test_apply_dispatch(spark):
    # reference semantics (06_postgres_cdc_sink.py:32-64):
    # c upserts, u updates-if-present, d deletes, u cannot resurrect
    state = state_df(spark, [(1, "one"), (2, "two"), (3, "three")])
    ch = changes_df(
        spark,
        [
            (1, "one-v2", "u", 10),   # update existing
            (2, None, "d", 11),       # delete
            (4, "four", "c", 12),     # insert new
            (5, "five-upd", "u", 13), # update of missing key → no-op
        ],
    )
    out = apply_cdc_batch(state, ch)
    got = {r.id: r.payload for r in out.collect()}
    assert got == {1: "one-v2", 3: "three", 4: "four"}


def test_apply_dedupes_to_latest(spark):
    # within a batch, only the latest change per key applies (§7.4-4)
    state = state_df(spark, [(1, "one")])
    ch = changes_df(
        spark,
        [(1, "x", "u", 10), (1, None, "d", 11), (1, "resurrected", "c", 12)],
    )
    out = apply_cdc_batch(state, ch)
    got = {r.id: r.payload for r in out.collect()}
    assert got == {1: "resurrected"}


def test_apply_update_to_null_payload(spark):
    # a u carrying a null payload sets it, whether or not its c is in
    # the same batch: applied one event at a time, both give null
    state = state_df(spark, [(1, "one")])
    later = apply_cdc_batch(state, changes_df(spark, [(1, None, "u", 10)]))
    assert [tuple(r) for r in later.collect()] == [(1, None)]
    same = apply_cdc_batch(
        state_df(spark, [(9, "x")]),
        changes_df(spark, [(1, "one", "c", 9), (1, None, "u", 10)]),
    )
    assert sorted(tuple(r) for r in same.collect()) == [(1, None), (9, "x")]


def test_apply_idempotent(spark):
    # replaying the same batch leaves the state unchanged (C5)
    state = state_df(spark, [(1, "one"), (2, "two")])
    ch = changes_df(spark, [(1, "one-v2", "u", 10), (3, "three", "c", 11)])
    once = apply_cdc_batch(state, ch).localCheckpoint()
    twice = apply_cdc_batch(once, ch)
    assert sorted((r.id, r.payload) for r in twice.collect()) == sorted(
        (r.id, r.payload) for r in once.collect()
    )


@pytest.mark.slow
def test_streaming_available_now_drain(spark, tmp_path):
    # offline-recovery replay (03_recovery.py): buffer K inserts, K/2
    # updates, K/2 deletes; drain with availableNow; final state =
    # rows K/2+1..K with original payloads + updated first half minus deletes
    k = 20
    rows = [(i, f"p{i}", "c", i) for i in range(k)]
    rows += [(i, f"p{i}-upd", "u", k + i) for i in range(k // 2)]
    rows += [(i, None, "d", 2 * k + i) for i in range(k // 2, k)]
    ch = changes_df(spark, rows)
    env = encode_envelope(ch.select("op", "id", "payload", "ts_ms"))

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    lines = [r.value for r in env.collect()]
    (stream_dir / "backlog.json").write_text("\n".join(lines))

    state_path = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = read_cdc_file_stream(spark, str(stream_dir))
    q = start_cdc_apply(stream, state_path, ckpt, available_now=True)
    q.awaitTermination(120)

    final = spark.read.parquet(state_path)
    got = {r.id: r.payload for r in final.collect()}
    assert got == {i: f"p{i}-upd" for i in range(k // 2)}
    # each batch's staging copy is dropped once the state is rewritten
    assert not list(tmp_path.glob("state.tmp-*"))


@pytest.mark.slow
def test_streaming_drain_fails_on_unreadable_state(spark, tmp_path):
    # a state dir that exists but cannot be read is not a first batch:
    # the drain must fail and leave the state files as they were,
    # instead of overwriting them with the batch's changes alone
    from pyspark.errors import StreamingQueryException

    ch = changes_df(spark, [(1, "one", "c", 1)])
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    env = encode_envelope(ch.select("op", "id", "payload", "ts_ms"))
    lines = [r.value for r in env.collect()]
    (stream_dir / "backlog.json").write_text("\n".join(lines))
    state = tmp_path / "state"
    state.mkdir()
    corrupt = state / "part-00000.parquet"
    corrupt.write_bytes(b"not a parquet file")

    stream = read_cdc_file_stream(spark, str(stream_dir))
    q = start_cdc_apply(stream, str(state), str(tmp_path / "ckpt"), available_now=True)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert corrupt.read_bytes() == b"not a parquet file"


def _replay(state: dict, events) -> dict:
    """The sink's contract one event at a time, in ts_ms order: c/r
    upsert, u updates a present row (payload included, null or not), d
    deletes."""
    out = dict(state)
    for key, payload, op, _ts in sorted(events, key=lambda e: e[3]):
        if op in ("c", "r"):
            out[key] = payload
        elif op == "u":
            if key in out:
                out[key] = payload
        else:
            out.pop(key, None)
    return out


def _random_log(rng, n_keys=30, n_events=90):
    """A non-empty starting state and a change log over ``n_keys`` keys:
    every op kind, updates of absent keys, deletes later re-created,
    null payloads on every non-delete op (a delete carries none)."""
    def payload():
        return None if rng.random() < 0.2 else f"v{rng.randrange(10**6)}"

    state = {k: payload() for k in rng.sample(range(n_keys), n_keys // 3)}
    ts = rng.sample(range(10_000), n_events)
    events = []
    for t in ts:
        op = rng.choice("ccrruuudd")
        events.append((rng.randrange(n_keys), None if op == "d" else payload(), op, t))
    return state, events


@pytest.mark.parametrize("seed", range(6))
def test_apply_chunked_matches_event_replay(spark, seed):
    # differential check: the log applied in random chunks through
    # apply_cdc_batch equals applying it one event at a time
    rng = random.Random(seed)
    state, events = _random_log(rng)
    cur = state_df(spark, sorted(state.items()))
    log = changes_df(spark, events)
    ordered = sorted(e[3] for e in events)
    start = 0
    while start < len(ordered):
        stop = min(len(ordered), start + rng.randint(1, 40))
        lo, hi = ordered[start], ordered[stop - 1]
        chunk = log.filter(F.col("ts_ms").between(lo, hi))
        cur = apply_cdc_batch(cur, chunk).localCheckpoint()
        start = stop
    got = {r.id: r.payload for r in cur.collect()}
    assert cur.count() == len(got)  # one row per key
    assert got == _replay(state, events)
