"""Shared helpers for the streaming modules: ``drain``, the one
lifecycle the catalog's streamed entries run their query under (stage
the table's files in a fresh local temp root, drain availableNow into a
memory sink, read the sink, then drop the sink view and remove the
root); ``staged``, its staging half, for a drain into another sink (the
drift monitor's foreachBatch); ``start_sink`` / ``write_batch``, the one
foreachBatch skeleton every sink under ``streaming/`` starts and writes
through (its docstring states the delivery contract), and
``start_guard``, its form for a guard whose batches read one reference
frame (settled after the start is allowed: driver-local when small,
else pinned and released when the query run terminates); persistent-state
reads that distinguish "not created yet" from "broken" (dedup_guard,
linkage_guard, the CDC sink); and the Hadoop FileSystem handle for a
path (drift_monitor, the CDC sink)."""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable, Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from graphdb_for_drones_spark import traversal
from graphdb_for_drones_spark.local_frame import local_frame
from graphdb_for_drones_spark.operators import _pin
from graphdb_for_drones_spark.session import ensure_package_shipped

# Streaming aggregations/state stores are partitioned by
# spark.sql.shuffle.partitions AT QUERY START (the count is frozen into
# the checkpoint).  A drain starts a FRESH checkpoint per invocation over
# a staged copy of one table, so the right state partition count is a
# function of the INPUT SIZE, not the session constant: a 10 MB stage
# needs one state partition, not |cores| of them (r12 scaling run: the
# five drain entries ran 1.3-1.8x FASTER on 8 cores than 32 —
# per-partition state-store commit + Python-worker lifecycle
# dominating).  At real scale the derivation saturates at the session
# value, so cluster behaviour is unchanged.
STREAM_STATE_BYTES_PER_PARTITION = 32 * 1024 * 1024

_PARTITIONS = "spark.sql.shuffle.partitions"


@contextlib.contextmanager
def staged(
    spark: SparkSession, sf_dir: str, table: str
) -> Iterator[tuple[DataFrame, str]]:
    """Stage ``<sf_dir>/<table>.parquet`` in a fresh local temp root and
    yield ``(stream, root)``: the raw ``readStream`` frame over
    ``root/src``, and the root, under which the caller keeps its own
    checkpoint/output dirs.  The root is removed on exit, so read those
    dirs inside the block.

    FileStreamSource needs a DIRECTORY of plain files, and the table is
    a single file or a Spark-written dataset dir (whose subdirs a stream
    listing will not recurse), so the stage symlinks the file or each
    top-level part file.  A path that is not a local file or dir (a URI)
    raises here, not later as a dangling symlink inside Spark."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not (os.path.isfile(path) or os.path.isdir(path)):
        raise ValueError(f"{path} is not a local parquet file or directory")
    src = os.path.abspath(path)
    root = tempfile.mkdtemp(prefix=f"drain_{table}_")
    try:
        stage = os.path.join(root, "src")
        os.mkdir(stage)
        if os.path.isdir(src):
            for i, fname in enumerate(sorted(os.listdir(src))):
                if fname.endswith(".parquet"):
                    os.symlink(
                        os.path.join(src, fname),
                        os.path.join(stage, f"part_{i}.parquet"),
                    )
        else:
            os.symlink(src, os.path.join(stage, f"{table}.parquet"))
        schema = spark.read.parquet(src).schema
        yield spark.readStream.schema(schema).parquet(stage), root
    finally:
        shutil.rmtree(root, ignore_errors=True)


@contextlib.contextmanager
def _state_scope(spark: SparkSession, stage: str) -> Iterator[int]:
    """Scope ``spark.sql.shuffle.partitions`` around a streaming-query
    START so its state is partitioned for the staged input's size:
    ``clamp(ceil(bytes / STREAM_STATE_BYTES_PER_PARTITION), 1,
    session_value)``, summing the files ``stage``'s entries point at —
    ``staged``'s local temp dir, so a flat listing sees every byte.
    StreamExecution clones the session conf inside ``start()``, so
    restoring it on exit never races the running drain; a value the
    session never set is unset again."""
    prev = spark.conf.get(_PARTITIONS, None)
    sess = int(prev or spark.conf.get(_PARTITIONS))
    total = sum(entry.stat().st_size for entry in os.scandir(stage))
    n = max(1, min(sess, -(-total // STREAM_STATE_BYTES_PER_PARTITION)))
    spark.conf.set(_PARTITIONS, str(n))
    try:
        yield n
    finally:
        if prev is None:
            spark.conf.unset(_PARTITIONS)
        else:
            spark.conf.set(_PARTITIONS, prev)


def drain(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    build: Callable[[DataFrame], DataFrame],
    *,
    output_mode: str,
    sized_state: bool = False,
) -> DataFrame:
    """Drain ``<sf_dir>/<table>.parquet`` through ``build`` and return
    what the query emitted.  ``build`` maps the raw ``staged`` stream to
    the streaming frame to run; it runs availableNow into a memory sink
    in ``output_mode``, checkpointed under the stage root, started under
    ``_state_scope`` if ``sized_state`` (for results that do not depend
    on partitioning).  The returned frame's analysed plan holds the
    sink's rows, so the sink view is dropped and the root removed
    before returning, on success and failure alike."""
    # a streamed build may reach a pandas UDF (the stateful trackers)
    ensure_package_shipped(spark)
    qn = f"drain_{table}_{uuid.uuid4().hex}"
    with staged(spark, sf_dir, table) as (stream, root):
        scope = (
            _state_scope(spark, os.path.join(root, "src"))
            if sized_state
            else contextlib.nullcontext()
        )
        try:
            writer = (
                build(stream)
                .writeStream.format("memory")
                .queryName(qn)
                .outputMode(output_mode)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
            )
            with scope:
                query = writer.start()
            query.awaitTermination()
            return spark.table(qn)
        finally:
            spark.catalog.dropTempView(qn)


def start_sink(
    stream: DataFrame, apply_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str, available_now: bool, *,
    partitioned: tuple[str, ...] = (), poll: str = "0 seconds",
) -> StreamingQuery:
    """Start ``stream`` into ``apply_batch`` through foreachBatch,
    checkpointed at ``checkpoint_dir``: availableNow (drain the backlog,
    then stop), else a batch every ``poll`` (``"0 seconds"`` is Spark's
    default trigger).  The frames a batch pins through ``operators/_pin``
    are released when it returns, so they do not pile up over a drain.

    Delivery contract.  foreachBatch alone is at-least-once: a batch can
    be retried after its writes land but before the checkpoint commit
    records it.  So each batch writes its own ``batch_id=<n>``
    partitions by dynamic overwrite (``write_batch``), and a retry
    REPLACES them with identical rows instead of appending duplicates —
    effectively-once output given a deterministic batch function.  A
    sink that reads its own output back sees STRICTLY EARLIER batches
    only (``read_history``).  Batch ids are checkpoint-relative: a
    replay from a FRESH checkpoint is idempotent only when the source
    reproduces the same batch boundaries (true for availableNow drains
    of a static directory with the same reader options); batching that
    groups the files differently leaves the earlier lineage's stale
    partitions behind.

    A ``partitioned`` dir holding top-level ``part-*.parquet`` files
    (the pre-``batch_id`` flat-append layout) is refused at start: the
    mixed layout only fails at READ time (conflicting directory
    structures)."""
    _refuse_flat_append(*partitioned)

    def released(batch_df: DataFrame, batch_id: int) -> None:
        with _pin.scoped():
            apply_batch(batch_df, batch_id)

    trigger = {"availableNow": True} if available_now else {"processingTime": poll}
    return (
        stream.writeStream.foreachBatch(released)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


def _refuse_flat_append(*paths: str) -> None:
    """Raise if a ``partitioned`` dir holds top-level part files."""
    for path in paths:
        if glob.glob(os.path.join(glob.escape(path), "part-*.parquet")):
            raise ValueError(
                f"{path!r} holds flat-append (pre-batch_id) part files: "
                "mixed layouts are unreadable, point the sink at a fresh dir"
            )


def start_guard(
    stream: DataFrame, reference: DataFrame,
    make_batch: Callable[[DataFrame], Callable[[DataFrame, int], None]],
    out_dir: str, checkpoint_dir: str, available_now: bool,
) -> StreamingQuery:
    """``start_sink`` for a guard whose every batch reads one
    ``reference`` frame (an eval index, per-key stats) and writes
    ``out_dir`` through ``write_batch``.  The reference is settled once
    ``out_dir`` passes the flat-append refusal, and ``make_batch``
    builds the batch function over the settled frame.  Within
    ``traversal.COLLECT_THRESHOLD`` rows it comes back to the driver
    in one Arrow collect as a ``local_frame``, which holds no blocks.
    A larger one is pinned, and the pin is released when this run of
    the query terminates, however it ends (at once if the start itself
    fails)."""
    _refuse_flat_append(out_dir)
    spark = stream.sparkSession
    bound = traversal.COLLECT_THRESHOLD
    head = reference.limit(bound + 1).toArrow()
    if head.num_rows <= bound:
        local = local_frame(spark, reference.schema, *head.columns)
        return start_sink(stream, make_batch(local), checkpoint_dir, available_now)
    pinned = _pin.pin(reference)
    try:
        query = start_sink(
            stream, make_batch(pinned), checkpoint_dir, available_now
        )
    except BaseException:
        _pin.release(pinned)
        raise
    _release_on_termination(spark, query, pinned)
    return query


def _release_on_termination(
    spark: SparkSession, query: StreamingQuery, *frames: DataFrame
) -> None:
    """Release ``frames`` once this run of ``query`` terminates: a
    listener on the session's streams, removed when it fires.  It
    matches the run id, not the query id: a restart from the same
    checkpoint keeps the query id, and the earlier run's termination
    event, delivered asynchronously, may reach the new run's listener.
    A query that is already done when the listener is added (its
    termination event may have gone out first) releases here."""
    lock = threading.Lock()
    done: list[bool] = []

    def release() -> None:
        with lock:
            if done:
                return
            done.append(True)
        for df in frames:
            _pin.release(df)
        spark.streams.removeListener(listener)

    class OnTermination(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            if str(event.runId) == str(query.runId):
                release()

    listener = OnTermination()
    spark.streams.addListener(listener)
    if not query.isActive:
        release()


def write_batch(df: DataFrame, batch_id: int, path: str, *by: str) -> None:
    """One micro-batch's rows into ``path``, partitioned by ``(*by,
    batch_id)`` under dynamic overwrite: ``start_sink``'s idempotent
    write."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*by, "batch_id")
        .parquet(path)
    )


def read_history(spark: SparkSession, path: str, batch_id: int) -> DataFrame | None:
    """What ``write_batch`` wrote to ``path`` for batches BEFORE
    ``batch_id``, or None before the first write.  Batch n's output is
    then a pure function of batches 0..n, so any replay — a crash retry
    of batch n, or a full fresh-checkpoint reprocess over an
    already-populated index — rewrites partition n with identical
    content instead of picking up matches that belong to later batches'
    partitions."""
    hist = read_parquet_or_none(spark, path)
    return None if hist is None else hist.filter(F.col("batch_id") < int(batch_id))


def read_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every row a ``write_batch`` sink has written to ``out_dir``."""
    return spark.read.parquet(out_dir)


def read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None iff the path does not exist
    yet (the guards' first batch).  Any OTHER failure re-raises: a
    transient storage error swallowed here would silently drop every
    cross-batch match of the micro-batch — permanent recall loss the
    drain-equals-batch-sweep invariant cannot detect after the fact."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as ex:
        if ex.getErrorClass() == "PATH_NOT_FOUND":
            return None
        raise


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` JVM handles for ``path`` under the
    session's Hadoop configuration (local dirs and cluster URIs alike)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath
