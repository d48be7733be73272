"""The streamed catalog entries' one lifecycle (streaming/util.drain):
every drain cleans up after itself, also when it fails, and state
partitions are sized from the staged bytes."""

import math
import os
import tempfile

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from graphdb_for_drones_spark.plans import QUERIES
from graphdb_for_drones_spark.session import ensure_package_shipped
from graphdb_for_drones_spark.streaming import util
from graphdb_for_drones_spark.streaming.util import _state_scope, drain, staged

STREAMED = [
    "event_hll_rollup_md5_streamed",
    "event_funnel_streamed",
    "user_retention_cohorts_streamed",
    "source_drift_stats_streamed",
    "source_drift_ks_streamed",
    "source_drift_w1_streamed",
]
PARTITIONS = "spark.sql.shuffle.partitions"


def _answer(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _session_state(spark):
    return (
        set(os.listdir(tempfile.gettempdir())),
        {t.name for t in spark.catalog.listTables()},
        dict(spark.conf.getAll),
    )


def test_streamed_entries_are_registered():
    assert set(STREAMED) <= set(QUERIES)
    assert {n for n in QUERIES if n.endswith("_streamed")} == set(STREAMED)


@pytest.mark.slow
@pytest.mark.parametrize("name", STREAMED)
def test_streamed_entry_leaves_nothing_behind(spark, sf_dir, name):
    """A second run adds no temp dir, no table or view and no conf
    change, and returns the first run's answer (the first run may ship
    the package zip and set the catalog's runtime conf once)."""
    first = _answer(QUERIES[name](spark, sf_dir))
    tmp, tables, conf = _session_state(spark)
    second = _answer(QUERIES[name](spark, sf_dir))
    tmp2, tables2, conf2 = _session_state(spark)
    assert tmp2 - tmp == set()
    assert tables2 - tables == set()
    assert conf2 == conf
    assert second == first


def _count_stream(stream):
    return stream.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


@pytest.fixture
def private_tmp(spark, tmp_path, monkeypatch):
    """Temp dirs made through ``tempfile`` land in an empty private dir
    (the package zip is shipped first, so only the drain writes there)."""
    ensure_package_shipped(spark)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _catalog_state(spark):
    return {t.name for t in spark.catalog.listTables()}, dict(spark.conf.getAll)


def test_drain_cleans_up_when_build_raises(spark, sf_dir, private_tmp):
    before = _catalog_state(spark)

    def build(stream):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        drain(spark, sf_dir, "documents", build, output_mode="update", sized_state=True)
    assert os.listdir(private_tmp) == []
    assert _catalog_state(spark) == before


def test_drain_cleans_up_when_start_raises(spark, sf_dir, private_tmp):
    """An aggregation in append mode without a watermark fails inside
    ``start()``, i.e. inside the state scope."""
    before = _catalog_state(spark)
    with pytest.raises(AnalysisException, match="(?i)append"):
        drain(
            spark,
            sf_dir,
            "documents",
            _count_stream,
            output_mode="append",
            sized_state=True,
        )
    assert os.listdir(private_tmp) == []
    assert _catalog_state(spark) == before


def test_drain_answer_outlives_its_sink_view_and_dirs(spark, sf_dir, private_tmp):
    tables, _ = _catalog_state(spark)
    counts = drain(spark, sf_dir, "documents", _count_stream, output_mode="update")
    assert os.listdir(private_tmp) == []
    assert _catalog_state(spark)[0] == tables
    expected = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert _answer(counts.groupBy("source").agg(F.max("n").alias("n"))) == _answer(
        expected
    )


@pytest.mark.parametrize("call", ["drain", "staged"])
def test_non_local_table_path_raises_before_staging(spark, call):
    tmp = set(os.listdir(tempfile.gettempdir()))
    uri = "s3a://bucket/sf1"
    with pytest.raises(ValueError, match="s3a://bucket/sf1/events.parquet"):
        if call == "drain":
            drain(spark, uri, "events", lambda s: s, output_mode="append")
        else:
            with staged(spark, uri, "events"):
                pass
    assert set(os.listdir(tempfile.gettempdir())) == tmp


def _expected_partitions(total_bytes, per_partition, session):
    return max(1, min(session, math.ceil(total_bytes / per_partition)))


@pytest.fixture
def dataset_dir(spark, tmp_path):
    """A Spark-written table dir: several part files plus _SUCCESS and
    .crc side files, which the stage must leave out."""
    path = str(tmp_path / "t.parquet")
    spark.range(3000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("h")
    ).repartition(3).write.parquet(path)
    return str(tmp_path)


@pytest.mark.parametrize("table", ["documents", "t"])
def test_state_scope_sizes_from_staged_bytes(spark, sf_dir, request, monkeypatch, table):
    if table == "t":
        sf_dir = request.getfixturevalue("dataset_dir")
    src = os.path.join(sf_dir, f"{table}.parquet")
    targets = (
        [src]
        if os.path.isfile(src)
        else [
            os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
        ]
    )
    total = sum(os.path.getsize(p) for p in targets)
    session = int(spark.conf.get(PARTITIONS))
    with staged(spark, sf_dir, table) as (stream, root):
        stage = os.path.join(root, "src")
        assert len(os.listdir(stage)) == len(targets)
        assert sorted(stream.columns) == sorted(
            spark.read.parquet(src).columns
        )
        for per_partition in (
            util.STREAM_STATE_BYTES_PER_PARTITION,
            total,  # exactly one partition's worth: bytes <= total
            total - 1,  # just over: bytes > total - 1
            max(1, total // 5),
        ):
            monkeypatch.setattr(
                util, "STREAM_STATE_BYTES_PER_PARTITION", per_partition
            )
            with _state_scope(spark, stage) as n:
                assert n == _expected_partitions(total, per_partition, session)
                assert spark.conf.get(PARTITIONS) == str(n)
            assert spark.conf.get(PARTITIONS) == str(session)
    assert not os.path.exists(root)


def test_state_scope_unsets_a_value_the_session_never_set(spark, sf_dir):
    session = spark.conf.get(PARTITIONS)
    spark.conf.unset(PARTITIONS)
    try:
        with staged(spark, sf_dir, "documents") as (_, root):
            with _state_scope(spark, os.path.join(root, "src")) as n:
                assert n == 1
            assert spark.conf.get(PARTITIONS, None) is None
    finally:
        spark.conf.set(PARTITIONS, session)

