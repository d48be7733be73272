"""Shared helpers for the streaming entries: ``drain``, the one
lifecycle the catalog's streamed entries run their query under (stage
the table's files in a fresh local temp root, drain availableNow into a
memory sink, read the sink, then drop the sink view and remove the
root); ``staged``, its staging half, for a drain into another sink (the
drift monitor's foreachBatch); persistent-state reads that distinguish
"not created yet" from "broken" (dedup_guard, linkage_guard, the CDC
sink); and the Hadoop FileSystem handle for a path (drift_monitor, the
CDC sink)."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

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
