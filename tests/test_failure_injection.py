"""Mid-batch failure injection for the streaming guards.

foreachBatch is at-least-once: Structured Streaming can kill and retry a
micro-batch AFTER its sink writes land but BEFORE the checkpoint commit
records the batch.  The clean availableNow re-drain tests (one level up)
prove nothing about that window — they replay from a checkpoint that
already committed.  Here we drive each guard's ``make_apply_batch``
function directly and re-invoke it with the SAME batch_id, simulating
exactly the crash-between-write-and-commit retry, then assert the output
and every persistent index hold zero duplicates and exactly the
single-run content.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --------------------------------------------------------------------- #
# anomaly gate
# --------------------------------------------------------------------- #


def test_anomaly_gate_same_batch_replay(spark, tmp_path):
    from graphdb_for_drones_spark.streaming import anomaly_gate as ag

    stats = spark.createDataFrame(
        [("click", 5, 10.0, 1.0)],
        "event_type string, n_ref long, ref_mean double, ref_std double",
    ).localCheckpoint()
    out = str(tmp_path / "quarantine")
    apply_batch = ag.make_apply_batch(stats, out, n_sigma=3.0)

    b0 = spark.createDataFrame(
        [(1, "click", 10.5), (2, "click", 99.0)],
        "event_id long, event_type string, value double",
    ).localCheckpoint()
    b1 = spark.createDataFrame(
        [(3, "click", -50.0), (4, "click", 10.1)],
        "event_id long, event_type string, value double",
    ).localCheckpoint()

    apply_batch(b0, 0)
    apply_batch(b1, 1)
    once = _rows(ag.read_quarantine(spark, out), ["event_id"])

    # crash-retry: same batch_id, same data, after the write landed
    apply_batch(b1, 1)
    again = _rows(ag.read_quarantine(spark, out), ["event_id"])
    assert again == once == [(2,), (3,)]


# --------------------------------------------------------------------- #
# near-dup guard (flags + bands + sigs indexes)
# --------------------------------------------------------------------- #


def test_neardup_guard_same_batch_replay(spark, tmp_path):
    from graphdb_for_drones_spark.streaming import dedup_guard as dg

    idx = str(tmp_path / "index")
    out = str(tmp_path / "flags")
    apply_batch = dg.make_apply_batch(idx, out, jaccard_threshold=0.5)

    text = "the quick brown fox jumps over the lazy dog again and again"
    b0 = spark.createDataFrame(
        [(1, text), (2, "completely unrelated words about spark plans")],
        "doc_id long, text string",
    ).localCheckpoint()
    b1 = spark.createDataFrame(
        [(3, text), (4, "another distinct document body")],
        "doc_id long, text string",
    ).localCheckpoint()

    apply_batch(b0, 0)
    apply_batch(b1, 1)
    flags_once = _rows(
        dg.read_neardup_flags(spark, out), ["id_a", "id_b"]
    )
    bands_once = _rows(
        spark.read.parquet(f"{idx}/bands"), ["id", "band", "band_hash"]
    )
    sigs_once = _rows(spark.read.parquet(f"{idx}/sigs"), ["id"])

    apply_batch(b1, 1)  # crash-retry of batch 1
    assert (
        _rows(dg.read_neardup_flags(spark, out), ["id_a", "id_b"])
        == flags_once
        == [(1, 3)]
    )
    assert (
        _rows(spark.read.parquet(f"{idx}/bands"), ["id", "band", "band_hash"])
        == bands_once
    )
    assert _rows(spark.read.parquet(f"{idx}/sigs"), ["id"]) == sigs_once


# --------------------------------------------------------------------- #
# linkage guard (flags + pattern index)
# --------------------------------------------------------------------- #


def test_linkage_guard_same_batch_replay(spark, tmp_path):
    from graphdb_for_drones_spark.streaming import linkage_guard as lg

    idx = str(tmp_path / "index")
    out = str(tmp_path / "flags")
    apply_batch = lg.make_apply_batch(idx, out, max_subs=1)

    b0 = spark.createDataFrame(
        [(1, "ABCDEF"), (2, "ZZZZZZ")], "id long, key string"
    ).localCheckpoint()
    b1 = spark.createDataFrame(
        [(3, "ABCDEX"), (4, "QQQQQQ")], "id long, key string"
    ).localCheckpoint()

    apply_batch(b0, 0)
    apply_batch(b1, 1)
    flags_once = _rows(
        lg.read_linkage_flags(spark, out),
        ["id_a", "id_b", "key_a", "key_b", "hamming"],
    )
    pats_once = _rows(spark.read.parquet(f"{idx}/patterns"), ["id", "pat"])

    apply_batch(b1, 1)  # crash-retry of batch 1
    assert (
        _rows(
            lg.read_linkage_flags(spark, out),
            ["id_a", "id_b", "key_a", "key_b", "hamming"],
        )
        == flags_once
        == [(1, 3, "ABCDEF", "ABCDEX", 1)]
    )
    assert _rows(spark.read.parquet(f"{idx}/patterns"), ["id", "pat"]) == pats_once


# --------------------------------------------------------------------- #
# contamination guard
# --------------------------------------------------------------------- #


def test_contamination_guard_same_batch_replay(spark, tmp_path):
    from graphdb_for_drones_spark.operators import curation
    from graphdb_for_drones_spark.streaming import decontam as dc

    out = str(tmp_path / "quarantine")
    prompt = "the secret benchmark prompt goes here tonight"
    ev = curation.shingle_index(
        spark.createDataFrame([(100, prompt)], "doc_id long, text string"),
        "eval_id",
    ).localCheckpoint()
    apply_batch = dc.make_apply_batch(ev, out, threshold=0.3)

    b0 = spark.createDataFrame(
        [(1, prompt), (2, "unrelated text body entirely")],
        "doc_id long, text string",
    ).localCheckpoint()
    b1 = spark.createDataFrame(
        [(3, prompt + " with a suffix"), (4, "more unrelated words")],
        "doc_id long, text string",
    ).localCheckpoint()

    apply_batch(b0, 0)
    apply_batch(b1, 1)
    once = _rows(dc.read_quarantine(spark, out), ["train_id", "eval_id"])
    assert once == [(1, 100), (3, 100)]

    apply_batch(b1, 1)  # crash-retry of batch 1: previously duplicated
    again = _rows(dc.read_quarantine(spark, out), ["train_id", "eval_id"])
    assert again == once


def _start_guard(spark, guard, out, ckpt):
    """Start ``guard`` over a rate stream shaped for it, writing its
    flags to ``out`` (index dirs, where the guard has them, beside it)."""
    from graphdb_for_drones_spark.streaming import (
        anomaly_gate,
        decontam,
        dedup_guard,
        linkage_guard,
    )

    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    docs = rate.select(F.col("value").alias("doc_id"), F.lit("t").alias("text"))
    index_dir = out + "_index"
    if guard == "decontam":
        ev = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
        return decontam.start_contamination_guard(docs, ev, out, ckpt)
    if guard == "anomaly_gate":
        stats = spark.createDataFrame(
            [("click", 5, 10.0, 1.0)],
            "event_type string, n_ref long, ref_mean double, ref_std double",
        )
        events = rate.select(
            F.lit("click").alias("event_type"), F.col("value").cast("double")
        )
        return anomaly_gate.start_anomaly_gate(events, stats, out, ckpt)
    if guard == "dedup_guard":
        return dedup_guard.start_neardup_guard(docs, index_dir, out, ckpt)
    records = rate.select(F.col("value").alias("id"), F.lit("ABCDEF").alias("key"))
    return linkage_guard.start_linkage_guard(records, index_dir, out, ckpt)


@pytest.mark.parametrize(
    "guard", ["decontam", "anomaly_gate", "dedup_guard", "linkage_guard"]
)
def test_contamination_guard_refuses_legacy_layout(spark, tmp_path, guard):
    """A flat-append flag dir (pre-batch_id layout) must be refused at
    start, not discovered as a read-time layout conflict."""
    out = tmp_path / "quarantine"
    out.mkdir()
    (out / "part-00000-legacy.snappy.parquet").write_bytes(b"PAR1")
    before = _persisted(spark)
    with pytest.raises(ValueError, match="flat-append"):
        q = _start_guard(spark, guard, str(out), str(tmp_path / "ckpt"))
        q.stop()
    # refused before anything is pinned
    assert _persisted(spark) - before == set()


def _persisted(spark):
    """Ids of the session's persisted RDDs (a fresh snapshot per call)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _write_events(src, name, values):
    """One JSON file of guard input rows, a document and an event per
    value (the gate flags values beyond 3 sigma of 10 +- 1)."""
    import json

    rows = [{"doc_id": int(v), "text": "x y z w", "event_type": "click",
             "value": float(v)} for v in values]
    (src / name).write_text("\n".join(json.dumps(r) for r in rows))


def _start_reference_guard(spark, guard, src, out, ckpt, available_now=True):
    """``guard`` (decontam or anomaly_gate) over the JSON files in
    ``src``, with a one-row reference (eval doc, click stats)."""
    from graphdb_for_drones_spark.streaming import anomaly_gate, decontam

    stream = spark.readStream.schema(
        "doc_id long, text string, event_type string, value double"
    ).json(str(src))
    if guard == "decontam":
        ev = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
        return decontam.start_contamination_guard(
            stream, ev, out, ckpt, available_now=available_now
        )
    stats = spark.createDataFrame(
        [("click", 5, 10.0, 1.0)],
        "event_type string, n_ref long, ref_mean double, ref_std double",
    )
    return anomaly_gate.start_anomaly_gate(
        stream, stats, out, ckpt, available_now=available_now
    )


def _wait_persisted(spark, before, at_most, seconds=30):
    """Poll until at most ``at_most`` persisted RDDs beyond ``before``
    are left (termination listeners release asynchronously); returns
    what is left."""
    import time

    deadline = time.time() + seconds
    while len(_persisted(spark) - before) > at_most and time.time() < deadline:
        time.sleep(0.2)
    return _persisted(spark) - before


@pytest.mark.parametrize("reference", ["local", "pinned"])
@pytest.mark.parametrize("guard", ["decontam", "anomaly_gate"])
def test_guard_reference_pin_released_on_termination(
    spark, tmp_path, monkeypatch, guard, reference
):
    """A guard's reference (eval index, stats) within the collect
    threshold is a driver-local frame and persists nothing; past it
    (threshold 0 here) it is pinned for the batches and released once
    the query terminates, on the streams listener, so the probe waits
    for that.  Either way an availableNow drain leaves no persisted
    RDD behind."""
    from graphdb_for_drones_spark.operators import _pin

    if reference == "pinned":
        monkeypatch.setattr(_pin, "COLLECT_THRESHOLD", 0)
    src = tmp_path / "in"
    src.mkdir()
    _write_events(src, "b0.json", [10, 20, 30])
    out = str(tmp_path / "flags")
    before = _persisted(spark)
    q = _start_reference_guard(spark, guard, src, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert q.exception() is None
    assert spark.read.parquet(out).count() > 0  # the batch read the reference
    if reference == "local":
        assert _persisted(spark) - before == set()
    assert _wait_persisted(spark, before, 0) == set()


def test_guard_release_matches_the_run_not_the_query(spark):
    """A restart from the same checkpoint keeps the query id, and the
    earlier run's termination event arrives asynchronously: delivered
    to the new run's listener, it must not release the new run's pin.
    Only the event of the listener's own run does."""
    from types import SimpleNamespace

    from graphdb_for_drones_spark.operators import _pin
    from graphdb_for_drones_spark.streaming import util

    listeners = []
    session = SimpleNamespace(streams=SimpleNamespace(
        addListener=listeners.append, removeListener=listeners.remove
    ))
    run = SimpleNamespace(id="query", runId="run-2", isActive=True)
    before = _persisted(spark)
    pinned = _pin.pin(spark.range(3))
    util._release_on_termination(session, run, pinned)
    (listener,) = listeners
    listener.onQueryTerminated(SimpleNamespace(id="query", runId="run-1"))
    assert len(_persisted(spark) - before) == 1
    assert pinned.count() == 3
    listener.onQueryTerminated(SimpleNamespace(id="query", runId="run-2"))
    assert _persisted(spark) - before == set()
    assert listeners == []


def test_guard_restart_on_same_checkpoint_keeps_its_reference(
    spark, tmp_path, monkeypatch
):
    """The gate restarted on its checkpoint with new input right after
    the first run terminates: the first run's pin is released, the
    second run's batches still read their own pinned reference (before
    and after that release), and stopping the second run frees its
    pin."""
    from graphdb_for_drones_spark.operators import _pin

    monkeypatch.setattr(_pin, "COLLECT_THRESHOLD", 0)
    src = tmp_path / "in"
    src.mkdir()
    out, ckpt = str(tmp_path / "flags"), str(tmp_path / "ckpt")

    def flagged():
        return {r.doc_id for r in spark.read.parquet(out).collect()}

    before = _persisted(spark)
    _write_events(src, "b0.json", [10, 50])
    q1 = _start_reference_guard(spark, "anomaly_gate", src, out, ckpt)
    q1.awaitTermination(120)
    assert q1.exception() is None and flagged() == {50}
    _write_events(src, "b1.json", [11, 60])
    q2 = _start_reference_guard(
        spark, "anomaly_gate", src, out, ckpt, available_now=False
    )
    try:
        assert q2.runId != q1.runId and q2.id == q1.id
        q2.processAllAvailable()
        assert flagged() == {50, 60}
        # the first run's release has landed; the second run's pin stays
        assert len(_wait_persisted(spark, before, 1)) == 1
        _write_events(src, "b2.json", [12, 70])
        q2.processAllAvailable()
        assert q2.exception() is None and q2.isActive
        assert flagged() == {50, 60, 70}
    finally:
        q2.stop()
    assert _wait_persisted(spark, before, 0) == set()


# --------------------------------------------------------------------- #
# continuous IVF ingest
# --------------------------------------------------------------------- #


def test_ivf_ingest_same_batch_replay(spark, tmp_path):
    """Crash between the ingest write and the checkpoint commit: drop
    the last batch's commit marker, so the restarted query re-runs that
    batch under the same batch_id.  Its vectors must land once."""
    import json
    import os

    from graphdb_for_drones_spark.operators.similarity import ivf_open, ivf_read
    from graphdb_for_drones_spark.streaming.ivf_maintain import start_ivf_ingest

    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.1, 0.9])],
        schema,
    ).localCheckpoint()
    path = str(tmp_path / "ivf")
    ivf_open(spark, base, path, k=2, iters=2)
    src = tmp_path / "in"
    src.mkdir()
    for i, vec in enumerate([[0.98, 0.02], [0.02, 0.98]]):
        f = src / f"b{i}.json"
        f.write_text(json.dumps({"vec_id": 100 + i, "embedding": vec}))
        os.utime(f, (1_700_000_000 + i * 60,) * 2)
    ckpt = tmp_path / "ckpt"

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        start_ivf_ingest(stream, path, str(ckpt)).awaitTermination(120)

    drain()
    index, _ = ivf_read(spark, path)
    assert index.count() == 6
    (ckpt / "commits" / "1").unlink()  # batch 1 wrote, commit lost
    (ckpt / "commits" / ".1.crc").unlink(missing_ok=True)
    drain()  # re-runs batch 1
    index, _ = ivf_read(spark, path)
    assert sorted(r.vec_id for r in index.collect()) == [0, 1, 2, 3, 100, 101]


# --------------------------------------------------------------------- #
# per-batch pins
# --------------------------------------------------------------------- #


@pytest.mark.parametrize("guard", ["dedup_guard", "linkage_guard"])
def test_guard_drain_releases_batch_pins(spark, tmp_path, guard):
    """The frames a guard pins inside a micro-batch are released once
    its writes are done: no persisted RDD the drain created outlives
    it, so the session's persisted-RDD count after the drain equals the
    count before (ids compared, so another test's frame freed by GC
    meanwhile cannot mask a leak)."""
    import json
    import os

    from graphdb_for_drones_spark.streaming import dedup_guard, linkage_guard

    src = tmp_path / "in"
    src.mkdir()
    for i in range(4):
        rows = [
            {"doc_id": 10 * i + j, "id": 10 * i + j,
             "text": f"shared words here batch {i} row {j}", "key": f"KEY{i}{j}X"}
            for j in range(3)
        ]
        f = src / f"b{i}.json"
        f.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(f, (1_700_000_000 + i * 60,) * 2)
    stream = (
        spark.readStream.schema("doc_id long, id long, text string, key string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    dirs = [str(tmp_path / d) for d in ("index", "flags", "ckpt")]

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    if guard == "dedup_guard":
        q = dedup_guard.start_neardup_guard(stream, *dirs, jaccard_threshold=0.3)
    else:
        q = linkage_guard.start_linkage_guard(stream, *dirs)
    q.awaitTermination(180)
    assert q.exception() is None
    # one index partition per micro-batch: all four batches ran
    assert {p.name for p in (tmp_path / "index").glob("*/batch_id=*")} == {
        f"batch_id={i}" for i in range(4)
    }
    assert persisted() - before == set()


# --------------------------------------------------------------------- #
# persisted-index builder races (the index layer's failure window:
# two concurrent builders on ONE fingerprint path — both pass the
# isdir check, both build, one os.rename wins, the loser must fail its
# rename CLEANLY, leak nothing, and read the winner's identical index)
# --------------------------------------------------------------------- #


def _race(fn):
    """Run ``fn(0)`` and ``fn(1)`` on two threads; re-raise the first
    worker exception."""
    import threading

    errs = []

    def run(i):
        try:
            fn(i)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    if errs:
        raise errs[0]


def _embeddings(spark, n=40, dim=8, seed=11):
    import random

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).localCheckpoint()


def test_persisted_pairs_concurrent_builders(spark, tmp_path):
    """Two persisted_pairs builds race one path: a barrier INSIDE the
    builder guarantees both threads passed the cold-path check before
    either writes, so exactly one rename wins and the loser executes
    the rename-failure branch for real.  Exactly one readable index,
    zero .tmp.* leftovers, loser rows bit-identical to winner's."""
    import glob
    import os
    import threading

    import graphdb_for_drones_spark.operators.similarity as sim

    emb = _embeddings(spark)
    path = str(tmp_path / "npairs-race")
    expect = _rows(
        sim.ann_near_pairs(emb, dim=8, threshold=0.3),
        ["id_a", "id_b", "cosine"],
    )
    assert len(expect) > 0
    barrier = threading.Barrier(2)
    built = []

    def builder():
        built.append(1)
        barrier.wait(timeout=120)
        return sim.ann_near_pairs(emb, dim=8, threshold=0.3)

    results = [None, None]

    def work(i):
        results[i] = _rows(
            sim.persisted_pairs(spark, path, builder),
            ["id_a", "id_b", "cosine"],
        )

    _race(work)
    assert len(built) == 2  # both builders really ran (both lost isdir)
    assert results[0] == results[1] == expect
    assert os.path.isdir(path)
    assert glob.glob(path + ".tmp.*") == []
    # the published index re-reads clean
    again = _rows(
        sim.persisted_pairs(
            spark, path, lambda: (_ for _ in ()).throw(AssertionError)
        ),
        ["id_a", "id_b", "cosine"],
    )
    assert again == expect


def test_ivf_open_concurrent_builders(spark, tmp_path, monkeypatch):
    """Same race through ivf_open: barrier inside the
    (monkeypatched) centroid trainer holds both threads in the build
    path; one rename wins, the loser reads the winner's index."""
    import glob
    import os
    import threading

    import graphdb_for_drones_spark.operators.similarity as sim

    emb = _embeddings(spark)
    path = str(tmp_path / "ivf-race")
    real = sim.kmeans_centroids
    barrier = threading.Barrier(2)

    def slow_kmeans(*a, **kw):
        barrier.wait(timeout=120)
        return real(*a, **kw)

    monkeypatch.setattr(sim, "kmeans_centroids", slow_kmeans)
    results = [None, None]

    def work(i):
        idx, cents = sim.ivf_open(spark, emb, path, k=4, iters=1)
        results[i] = (_rows(idx, ["vec_id", "cluster"]), cents)

    _race(work)
    assert results[0] == results[1]
    assert len(results[0][0]) == 40 and len(results[0][1]) == 4
    assert os.path.isdir(path)
    assert glob.glob(path + ".tmp.*") == []


def test_ivfpq_residual_open_concurrent_builders(spark, tmp_path, monkeypatch):
    """Same race for the residual-code index: barrier inside the
    (monkeypatched) build step; single readable index, no leftovers,
    both racers read identical codes + codebooks, and a later open is
    warm (its build step raises if run)."""
    import glob
    import os
    import threading

    import graphdb_for_drones_spark.operators.similarity as sim

    emb = _embeddings(spark)
    cents = sim.kmeans_centroids(emb, k=4, iters=1)
    path = str(tmp_path / "ivfpqres-race")
    real = sim.ivfpq_residual_build
    barrier = threading.Barrier(2)

    def slow_build(*a, **kw):
        barrier.wait(timeout=120)
        return real(*a, **kw)

    monkeypatch.setattr(sim, "ivfpq_residual_build", slow_build)
    results = [None, None]

    def work(i):
        codes, books = sim.ivfpq_residual_open(
            spark, emb, cents, path, m=4, ksub=4
        )
        results[i] = (_rows(codes, ["vec_id", "cluster"]), books)

    _race(work)
    assert results[0] == results[1]
    assert len(results[0][0]) == 40
    assert os.path.isdir(path)
    assert glob.glob(path + ".tmp.*") == []

    # the published index re-reads clean: the build step must not run
    def boom(*a, **kw):  # pragma: no cover - the assertion is the point
        raise AssertionError("build step ran on a warm open")

    monkeypatch.setattr(sim, "ivfpq_residual_build", boom)
    work(0)
    assert results[0] == results[1]


def test_bucketed_shingle_table_open_concurrent_builders(spark, tmp_path):
    """The bucketed decontamination index's cold build stages in a
    private tmp dir + rename (round 8) — race it like the other
    persisted indexes: a barrier inside the builder holds both threads
    in the cold path, so both write staging dirs and exactly one
    rename wins.  One readable bucketed table, zero .tmp.* leftovers,
    both racers read identical rows, spec sidecar present."""
    import glob
    import os
    import threading

    from graphdb_for_drones_spark.operators import curation

    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f common tail") for i in range(20)],
        "doc_id long, text string",
    ).localCheckpoint()
    path = str(tmp_path / "shidx-race")
    expect = _rows(
        curation.shingle_index(docs, "train_id"), ["train_id", "h"]
    )
    barrier = threading.Barrier(2)
    built = []

    def builder():
        built.append(1)
        barrier.wait(timeout=120)
        return curation.shingle_index(docs, "train_id")

    results = [None, None]

    def work(i):
        results[i] = _rows(
            curation.bucketed_shingle_table_open(
                spark,
                builder,
                table="shidx_race_t1",
                path=path,
                build_params={"n": 3},
            ),
            ["train_id", "h"],
        )

    _race(work)
    assert len(built) == 2
    assert results[0] == results[1] == expect
    assert os.path.isdir(path)
    assert os.path.isfile(os.path.join(path, "_bucket_spec.json"))
    assert glob.glob(path + ".tmp.*") == []
    # a fresh open is a warm open: builder must not run again
    again = curation.bucketed_shingle_table_open(
        spark,
        lambda: (_ for _ in ()).throw(AssertionError),
        table="shidx_race_t1",
        path=path,
        build_params={"n": 3},
    )
    assert _rows(again, ["train_id", "h"]) == expect
    spark.sql("DROP TABLE IF EXISTS shidx_race_t1")


def test_pq_open_concurrent_builders(spark, tmp_path, monkeypatch):
    """The remaining persisted-index sibling: two pq_open builds race
    one path through the index store's private tmp + rename; one
    readable code table + codebooks, zero leftovers, identical reads,
    and a later open is warm (its build step raises if run)."""
    import glob
    import os
    import threading

    import graphdb_for_drones_spark.operators.similarity as sim

    emb = _embeddings(spark, n=32, dim=8)
    path = str(tmp_path / "pq-race")
    real = sim.pq_codebooks
    barrier = threading.Barrier(2)

    def slow_books(*a, **kw):
        barrier.wait(timeout=120)
        return real(*a, **kw)

    monkeypatch.setattr(sim, "pq_codebooks", slow_books)
    results = [None, None]

    def work(i):
        codes, books = sim.pq_open(spark, emb, path, m=4, ksub=4)
        results[i] = (_rows(codes, ["vec_id"]), books)

    _race(work)
    assert results[0] == results[1]
    assert len(results[0][0]) == 32 and len(results[0][1]) == 4
    assert os.path.isdir(path)
    assert glob.glob(path + ".tmp.*") == []

    # the published index re-reads clean: the build step must not run
    def boom(*a, **kw):  # pragma: no cover - the assertion is the point
        raise AssertionError("build step ran on a warm open")

    monkeypatch.setattr(sim, "pq_codebooks", boom)
    work(0)
    assert results[0] == results[1]
