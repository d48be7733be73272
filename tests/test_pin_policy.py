"""Every engine pin goes through ``operators/_pin.py``.

``_pin.pin`` and ``_pin.pin_state`` decide, per master, how a frame is
materialized: ``localCheckpoint`` on local[*], a reliable checkpoint on a
cluster master with a checkpoint dir, no pin (``pin`` only) without one
or under ``SPARK_GRAFT_NO_PIN``.  A direct ``.localCheckpoint()`` or
``.checkpoint()`` anywhere else bypasses that policy, and so does the
columnar cache (``.persist()`` / ``.cache()``), which ``_pin.py`` rules
out (~20× slower on array columns).  These tests parse every module of
the package and fail on any such attribute outside ``_pin.py``, naming
each file and line.  Pure AST — no SparkSession.
"""

import ast
import os

import graphdb_for_drones_spark

PACKAGE_DIR = os.path.dirname(graphdb_for_drones_spark.__file__)
POLICY = os.path.join("operators", "_pin.py")

def _modules():
    for root, _dirs, files in os.walk(PACKAGE_DIR):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PACKAGE_DIR)
                if rel != POLICY:
                    yield rel, path


def _hits(banned):
    """``file:line .attr`` for every attribute named in ``banned``,
    outside ``_pin.py``."""
    hits = []
    for rel, path in _modules():
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=rel)
        hits += [
            f"{rel}:{node.lineno} .{node.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr in banned
        ]
    return sorted(hits)


def test_only_the_pin_policy_checkpoints():
    hits = _hits({"localCheckpoint", "checkpoint"})
    assert not hits, (
        "materialize through operators/_pin.py (pin for reuse, pin_state "
        "for rows that must not be recomputed):\n" + "\n".join(hits)
    )


def test_no_columnar_cache_outside_the_allowlist():
    hits = _hits({"persist", "cache"})
    assert not hits, (
        "pin through operators/_pin.py instead of the columnar cache:\n"
        + "\n".join(hits)
    )
