"""No catalog module runs its own streaming-query lifecycle.

The streamed catalog entries once each hand-copied the same block: a
``tempfile.mkdtemp`` stage of ``os.symlink``-ed files, a memory-sink
``.writeStream`` start, ``awaitTermination``, and no cleanup.  That
lifecycle now lives once in ``streaming.util`` (``drain`` / ``staged``),
which removes its dirs and sink view.  This test parses each plans
module's AST and fails on any use of those calls, so a new streamed
entry goes through the helper instead of re-copying the block.  Pure
AST — no SparkSession.
"""

import ast
import os

import pytest

import graphdb_for_drones_spark.plans

PLANS_DIR = os.path.dirname(graphdb_for_drones_spark.plans.__file__)
BANNED = {"mkdtemp", "symlink", "writeStream", "awaitTermination"}


@pytest.mark.parametrize(
    "fname", sorted(f for f in os.listdir(PLANS_DIR) if f.endswith(".py"))
)
def test_plans_leave_stream_lifecycle_to_drain(fname):
    with open(os.path.join(PLANS_DIR, fname)) as fh:
        tree = ast.parse(fh.read(), filename=fname)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in BANNED:
            hits.append((node.lineno, node.attr))
        elif isinstance(node, ast.ImportFrom):
            hits += [(node.lineno, a.name) for a in node.names if a.name in BANNED]
    assert not hits, (
        f"{fname} stages or drains a stream by "
        f"hand (use streaming.util.drain / staged): {sorted(hits)}"
    )
