"""Every foreachBatch sink under ``streaming/`` goes through ``streaming/util``.

The sinks once each hand-copied the same block: a
``writeStream.foreachBatch(...)`` start with its checkpoint location and
trigger, and a ``batch_id=<n>`` write under dynamic
``partitionOverwriteMode``.  The copies drifted (one sink blind-appended,
two never refused a flat-append dir, two leaked per-batch pins).
``util.start_sink`` / ``util.write_batch`` now hold that delivery
contract once.  This test parses every streaming module except
``util.py`` and fails on a ``foreachBatch`` attribute or a
``partitionOverwriteMode`` string, naming each file and line, so a new
sink cannot re-copy the block.  Pure AST — no SparkSession.
"""

import ast
import os

import pytest

import graphdb_for_drones_spark.streaming

STREAMING_DIR = os.path.dirname(graphdb_for_drones_spark.streaming.__file__)
SKELETON = "util.py"


@pytest.mark.parametrize(
    "fname",
    sorted(
        f for f in os.listdir(STREAMING_DIR) if f.endswith(".py") and f != SKELETON
    ),
)
def test_sinks_start_and_write_through_util(fname):
    with open(os.path.join(STREAMING_DIR, fname)) as fh:
        tree = ast.parse(fh.read(), filename=fname)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
            hits.append((node.lineno, node.attr))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "partitionOverwriteMode" in node.value
        ):
            hits.append((node.lineno, "partitionOverwriteMode"))
    assert not hits, (
        f"{fname} starts or writes a foreachBatch sink by hand "
        f"(use streaming.util.start_sink / write_batch): {sorted(hits)}"
    )
