"""Every persisted index is named, published and swept through
``operators/_index_store.py``.

The store owns the root (``SPARK_GRAFT_INDEX_DIR``), the
``<kind>-<params>-<source id>-<fingerprint>`` name, the private
``.tmp.`` staging dir and the rename that publishes it.  A second copy of
that protocol in an index kind's module can drift from the first, so the
ratchet below parses ``operators/`` and ``plans/`` and fails on any of
it outside the store, naming each file and line.  The naming test pins
every index name byte for byte, so dirs built by earlier versions still
open warm.  Pure Python — no SparkSession.
"""

import ast
import hashlib
import os

import graphdb_for_drones_spark

PACKAGE_DIR = os.path.dirname(graphdb_for_drones_spark.__file__)
STORE = os.path.join("operators", "_index_store.py")


def _modules(subdirs=("operators", "plans")):
    for sub in subdirs:
        for root, _dirs, files in os.walk(os.path.join(PACKAGE_DIR, sub)):
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    rel = os.path.relpath(path, PACKAGE_DIR)
                    if rel != STORE:
                        with open(path) as fh:
                            yield rel, ast.parse(fh.read(), filename=rel)


def test_only_the_store_publishes_indexes():
    hits = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "rename"
                and isinstance(node.value, ast.Name)
                and node.value.id in ("os", "_os")
            ):
                hits.append(f"{rel}:{node.lineno} os.rename")
            elif isinstance(node, ast.ImportFrom) and node.module == "os":
                if any(a.name == "rename" for a in node.names):
                    hits.append(f"{rel}:{node.lineno} from os import rename")
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                for banned in ("SPARK_GRAFT_INDEX_DIR", ".tmp."):
                    if banned in node.value:
                        hits.append(f"{rel}:{node.lineno} {banned!r}")
    assert not hits, (
        "name, stage and publish persisted indexes through "
        "operators/_index_store.py (path_for, build_once):\n"
        + "\n".join(sorted(hits))
    )


def test_no_private_import_from_similarity():
    hits = [
        f"{rel}:{node.lineno} {alias.name}"
        for rel, tree in _modules(("",))
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").endswith("similarity")
        for alias in node.names
        if alias.name.startswith("_")
    ]
    assert not hits, (
        "import the index store (operators/_index_store.py) instead of "
        "similarity's private helpers:\n" + "\n".join(sorted(hits))
    )


def test_path_for_keeps_every_index_name(tmp_path, monkeypatch):
    from graphdb_for_drones_spark.operators import _index_store

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "indexes"))
    src = tmp_path / "embeddings.parquet"
    src.write_bytes(b"PAR1")
    os.utime(src, ns=(1_700_000_000_000_000_000,) * 2)
    # the identity digests, computed here independently of the store
    p = os.path.abspath(src)
    sid = hashlib.sha256(p.encode()).hexdigest()[:8]
    fp = hashlib.sha256(
        p.encode() + f"4:{1_700_000_000_000_000_000}".encode()
    ).hexdigest()[:16]
    names = {
        ("ivf", "k8", "i2", "s42"): "ivf-k8-i2-s42",
        ("pq", "m8", "k16", "s42"): "pq-m8-k16-s42",
        ("ivfpqr", "k8", "i2", "m8", "c16", "s42"): "ivfpqr-k8-i2-m8-c16-s42",
        ("npairs", "d64", "t0.3", "p16", "b4", "s42"): "npairs-d64-t0_3-p16-b4-s42",
        ("bpairs", "label", "t0.3", "s42"): "bpairs-label-t0_3-s42",
        ("ngpairs", "n3", "t0.1"): "ngpairs-n3-t0_1",
        ("shidx", "tr", "df100", "n3", "b16"): "shidx-tr-df100-n3-b16",
    }
    for (kind, *tokens), prefix in names.items():
        assert _index_store.path_for(kind, str(src), *tokens) == os.path.join(
            str(tmp_path / "indexes"), f"{prefix}-{sid}-{fp}"
        )
