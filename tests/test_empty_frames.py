"""Driver-local frames are built JVM-side, never as a Python-RDD scan.

``spark.createDataFrame([], schema)`` is an ``ExistingRDD`` scan over a
Python RDD: every query that reads it starts Python workers.  The engine
builds its local frames, empty ones included, through
``local_frame.local_frame`` (one Arrow table, i.e. a ``LocalRelation``)
instead.  These tests check the plans of the helper and of the empty
branches routed through it, that their answers equal the Python-RDD
frame's, and that no engine module builds an empty frame the old way.
"""

import ast
import datetime
import decimal
import os

import pytest
from pyspark.sql import Row

import graphdb_for_drones_spark
from graphdb_for_drones_spark.local_frame import local_frame, local_rows
from graphdb_for_drones_spark.operators import _pin

PKG_DIR = os.path.dirname(graphdb_for_drones_spark.__file__)

SCHEMAS = [
    "id long, payload string",
    "k string, n int not null, xs array<double>, m map<string, long>, "
    "s struct<a: int, b: string>, d decimal(28, 10), t timestamp, day date",
]
# the wide schema plus a binary field, and rows with every type and nulls
WIDE = SCHEMAS[1] + ", raw binary"
WIDE_ROWS = [
    ("a", 1, [1.5, None], {"x": 2}, Row(a=1, b="b"),
     decimal.Decimal("1.2500000000"), datetime.datetime(2020, 1, 2, 3, 4, 5),
     datetime.date(2020, 1, 2), b"\x00\xff"),
    (None, 2, None, None, None, None, None, None, None),
]


def _no_python_scan(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("schema", SCHEMAS)
def test_empty_local_frame_is_a_local_relation_with_the_same_answers(
    spark, schema
):
    from pyspark.sql.types import _parse_datatype_string

    old = spark.createDataFrame([], schema)
    for given in (schema, _parse_datatype_string(schema)):
        new = local_frame(spark, given)
        assert new._jdf.queryExecution().logical().nodeName() == "LocalRelation"
        _no_python_scan(new)
        assert new.schema == old.schema
        assert new.collect() == old.collect() == []
    # an empty frame as one side of a union: the same rows either way
    rows = old.limit(0).union(old).collect()
    assert local_frame(spark, schema).union(old).collect() == rows
    assert local_rows(spark, [], schema).schema == old.schema


def test_local_rows_give_the_python_rdd_frames_answers(spark):
    """``local_frame.local_rows`` rows (every type of the wide schema,
    nulls, a naive timestamp read in the session time zone) come back
    as the tuple-built frame's rows, from a local relation."""
    old = spark.createDataFrame(WIDE_ROWS, WIDE)
    new = local_rows(spark, WIDE_ROWS, WIDE)
    _no_python_scan(new)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


@pytest.fixture
def los_angeles(spark):
    """A session time zone other than the host's, restored after."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    yield
    spark.conf.set(key, old)


def test_settle_local_branch_matches_the_pinned_branch(
    spark, monkeypatch, los_angeles
):
    """``_pin.settle`` over the wide schema: the Arrow-collected local
    frame and the pinned frame (``COLLECT_THRESHOLD=0``) have the
    source's schema, rows (timestamps included, under a session time
    zone other than UTC) and timestamp text, known bound or not."""
    src = spark.createDataFrame(WIDE_ROWS, WIDE).filter("n > 0")
    text = src.select(src.t.cast("string")).collect()
    settled = {}
    for threshold in (_pin.COLLECT_THRESHOLD, 0):
        monkeypatch.setattr(_pin, "COLLECT_THRESHOLD", threshold)
        for bound in (len(WIDE_ROWS), None):
            df, n, local = _pin.settle(src, bound)
            assert (n, local) == (len(WIDE_ROWS), threshold > 0)
            assert df.select(df.t.cast("string")).collect() == text
            settled[threshold, bound] = df
    want = src.collect()
    for (threshold, _), df in settled.items():
        plan = df._jdf.queryExecution().logical().nodeName()
        assert plan == ("LocalRelation" if threshold else "LogicalRDD")
        assert df.schema == src.schema
        assert df.collect() == want
        _pin.release(df)


def test_settle_boundaries(spark, monkeypatch):
    """A known bound of exactly ``COLLECT_THRESHOLD`` comes back local,
    one row more is pinned whatever the rows; with no bound, a probe
    that sees ``COLLECT_THRESHOLD + 1`` rows pins."""
    monkeypatch.setattr(_pin, "COLLECT_THRESHOLD", 2)
    two, three = spark.range(2), spark.range(3)
    cases = [
        (two, 2, 2, True),
        (two, 3, 2, False),
        (two, None, 2, True),
        (three, 3, 3, False),
        (three, None, 3, False),
    ]
    for df, bound, n, local in cases:
        out = _pin.settle(df, bound)
        assert out[1:] == (n, local), (bound, n)
        assert sorted(r.id for r in out[0].collect()) == list(range(n))
        _pin.release(out[0])


def test_empty_rank_branches_build_no_python_scan(spark):
    """``split.md5_rank`` and ``mutation.bucketed_rank`` over an empty
    key set: rank frame of (key, __rank) with total 0, read without a
    Python-RDD scan."""
    from graphdb_for_drones_spark.mutation import bucketed_rank
    from graphdb_for_drones_spark.operators.split import md5_rank

    keys = spark.range(0).selectExpr("cast(id as string) as key")
    for rank in (md5_rank, bucketed_rank):
        df, total = rank(keys, "key")
        assert total == 0
        assert df.columns == ["key", "__rank"]
        assert df.collect() == []
        _no_python_scan(df)


def test_no_module_builds_an_empty_frame_from_a_python_list():
    """Pure AST: no ``createDataFrame([], ...)`` call in the package."""
    hits = []
    for root, _, files in os.walk(PKG_DIR):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and node.args
                    and isinstance(node.args[0], (ast.List, ast.Tuple))
                    and not node.args[0].elts
                ):
                    hits.append(f"{os.path.relpath(path, PKG_DIR)}:{node.lineno}")
    assert not hits, f"use local_frame.local_frame: {hits}"
