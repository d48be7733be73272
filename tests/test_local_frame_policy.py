"""One local-frame path: driver-held rows become a Spark frame only
through ``local_frame.py``, and results come back to the driver only
through ``_pin.settle``.

``spark.createDataFrame(tuples)`` is a Python-RDD scan: every query that
reads it starts Python workers.  ``local_frame.local_frame`` /
``local_rows`` build one Arrow ``LocalRelation`` instead, and
``_pin.settle`` is the one place that decides whether a result comes
back as such a frame or stays executor-side (pinned).  These tests parse
every module of the package and fail on a ``createDataFrame`` outside
``local_frame.py``, a ``settle`` defined outside ``_pin.py``, or any use
of the retired ``traversal._local_df``, naming each file and line.  Pure
AST — no SparkSession.
"""

import ast
import os

import graphdb_for_drones_spark

PACKAGE_DIR = os.path.dirname(graphdb_for_drones_spark.__file__)
TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _trees(*dirs):
    for top in dirs:
        for root, _dirs, files in os.walk(top):
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    rel = os.path.relpath(path, os.path.dirname(top))
                    with open(path) as fh:
                        yield rel, ast.parse(fh.read(), filename=rel)


def test_create_data_frame_only_in_local_frame():
    builder = os.path.join("graphdb_for_drones_spark", "local_frame.py")
    hits = [
        f"{rel}:{node.lineno}"
        for rel, tree in _trees(PACKAGE_DIR)
        if rel != builder
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
    ]
    assert not hits, (
        "build driver-held rows with local_frame.local_frame / local_rows:\n"
        + "\n".join(hits)
    )


def test_settle_defined_only_in_the_pin_policy():
    policy = os.path.join("graphdb_for_drones_spark", "operators", "_pin.py")
    defs = [
        f"{rel}:{node.lineno}"
        for rel, tree in _trees(PACKAGE_DIR)
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name == "settle"
    ]
    assert [d.split(":")[0] for d in defs] == [policy], (
        "settle results through operators/_pin.settle:\n" + "\n".join(defs)
    )


def test_nothing_uses_local_df():
    hits = []
    for rel, tree in _trees(PACKAGE_DIR, TESTS_DIR):
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, (ast.FunctionDef, ast.Name)):
                names = [getattr(node, "name", None) or node.id]
            else:
                continue
            if "_local_df" in names:
                hits.append(f"{rel}:{node.lineno}")
    assert not hits, (
        "traversal._local_df is local_frame.local_rows:\n" + "\n".join(hits)
    )
