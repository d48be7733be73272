"""The one on-disk index store: where a persisted index lives, how it is
published and when an old one may be deleted.

The on-disk counterpart of ``_pin.py``.  At 100 TB you never rebuild an
index inside a query: an IVF table, a PQ code table, a materialized pair
graph or a bucketed shingle table is built once per corpus state and
probed by many queries.  Each index kind keeps its own build, layout and
read; this module owns the rest:

- **Naming** (``path_for``): ``<root>/<kind>-<params>-<source id>-
  <content fingerprint>``.  A rewritten source yields a new name, so a
  stale index is simply never read again; every build param is in the
  name, so distinct param sets never share a dir.
- **Publish** (``build_once``): stage the build in a private tmp dir and
  rename it into place, so readers never observe a partial index and
  two concurrent builders of one name leave one index.
- **Sweeps**: crash-leftover tmp dirs and the dead fingerprints of a
  rewritten source are deleted, but only once older than
  ``READER_WINDOW_S`` (never under a possible active reader).

``SPARK_GRAFT_INDEX_DIR`` overrides the root (on a cluster, a shared
object-store prefix).  No other module renames into the root or builds
an index name (``tests/test_index_store_policy.py`` enforces it).
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import threading
import time
import uuid
from collections.abc import Callable

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# An index dir touched within this window may still be mid-read by a
# session that opened it before the source rewrite (or mid-write by a
# live concurrent builder): deleting under an active reader or writer
# fails ITS job.  Crash leftovers and genuinely dead indexes age past it
# and go on the next build.
READER_WINDOW_S = 3600.0


def root() -> str:
    """Where persisted indexes live.  Defaults inside the repo's
    (gitignored) spark-warehouse; override with SPARK_GRAFT_INDEX_DIR —
    on a cluster this would be a shared object-store prefix."""
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(_REPO_ROOT, "spark-warehouse", "indexes"),
    )


def _source_id(source_path: str) -> str:
    """8-hex digest of the source's ABSOLUTE PATH only — stable across
    rewrites of the same source, distinct between sources.  Embedded in
    index names so the stale-fingerprint sweep can tell "this source was
    rewritten" (safe to delete) from "that's a different source's live
    index" (must keep)."""
    return hashlib.sha256(
        os.path.abspath(source_path).encode()
    ).hexdigest()[:8]


def _source_fingerprint(source_path: str) -> str:
    """Digest of the source parquet's file names + sizes + mtimes, so a
    rewritten source yields a different index path (stale indexes are
    simply never read again)."""
    h = hashlib.sha256()
    p = os.path.abspath(source_path)
    h.update(p.encode())
    if os.path.isdir(p):
        for r, _dirs, files in sorted(os.walk(p)):
            for f in sorted(files):
                st = os.stat(os.path.join(r, f))
                h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    elif os.path.exists(p):
        st = os.stat(p)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def path_for(kind: str, source_path: str, *tokens: object) -> str:
    """Deterministic index directory for (source data, build params):
    ``<root>/<kind>-<tokens>-<source id>-<content fingerprint>``, with
    ``.`` written as ``_`` in each token (``t0.3`` → ``t0_3``)."""
    name = "-".join(
        [kind]
        + [str(t).replace(".", "_") for t in tokens]
        + [_source_id(source_path), _source_fingerprint(source_path)]
    )
    return os.path.join(root(), name)


def build_once(path: str, write: Callable[[str], None]) -> None:
    """Publish an index at ``path`` unless one is already there:
    ``write(tmp)`` builds it into a private tmp dir, which is renamed
    into place.  ``write`` must be DETERMINISTIC: when a concurrent
    builder won the rename race, its identical index is kept and this
    build's tmp dir dropped.  Aged crash leftovers are swept before the
    build, and the dead fingerprints of this source after it."""
    if os.path.isdir(path):
        return
    _sweep_stale_tmp(path)
    tmp = _private_tmp(path)
    write(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):  # pragma: no cover - genuine IO failure
            raise
    _sweep_stale_fingerprints(path)


def _newest_mtime(path: str) -> float:
    """Newest mtime anywhere under ``path`` — the top-level dir's mtime
    goes stale while a parquet job keeps writing files DEEPER in the
    tree (index trees are small: a few dozen part files)."""
    newest = 0.0
    for r, _dirs, files in os.walk(path):
        for entry in [r] + [os.path.join(r, f) for f in files]:
            try:
                newest = max(newest, os.stat(entry).st_mtime)
            except OSError:
                pass
    return newest


def aged(path: str) -> bool:
    """True once nothing under ``path`` was touched within
    ``READER_WINDOW_S``: only then may a sweep delete it."""
    return time.time() - _newest_mtime(path) >= READER_WINDOW_S


def _private_tmp(path: str) -> str:
    """A tmp dir name no other builder can share: pid alone is NOT
    unique across concurrent builders in one process (threads share
    it), and two builders writing one tmp dir corrupt the live index —
    the loser's parquet tasks keep writing through the renamed inode
    INTO the winner's published path.  pid + thread id + random token
    gives every builder a private staging dir; the loser then fails its
    rename cleanly and reads the winner's identical index."""
    return (
        f"{path}.tmp.{os.getpid()}.{threading.get_ident()}."
        f"{uuid.uuid4().hex[:8]}"
    )


def _sweep_stale_tmp(path: str) -> None:
    """Remove crash leftovers: sibling ``<path>.tmp.<pid>`` dirs a
    builder that died between its parquet write and the rename leaked.
    Only aged dirs are swept — a live concurrent builder's in-progress
    tmp (same deterministic index, different pid) is minutes old at
    most, and deleting it mid-write would fail ITS parquet job, not
    fall into the rename-race branch."""
    for leftover in glob.glob(glob.escape(path) + ".tmp.*"):
        if aged(leftover):
            shutil.rmtree(leftover, ignore_errors=True)


def _sweep_stale_fingerprints(path: str) -> None:
    """After a fresh build at ``path``
    (= ``<params>-<source id>-<content fingerprint>``), drop sibling
    index dirs with the SAME params AND SAME source id but a DIFFERENT
    content fingerprint: that combination arises exactly when THIS
    source was rewritten, so those dirs can never be opened again
    (``path_for`` will never produce their name for any live source
    state).  Without this, every source rewrite (e.g. each
    degenerate-fixture test run) leaks one dead index dir forever.

    The source-id segment is what makes the sweep safe in a SHARED
    index root: two different sources (sf0.01 gate data and sf0.1 bench
    data) indexed with the same params differ in source id, so neither
    build sweeps the other's live index.  Only engages for
    ``path_for``-shaped names (``<params>-<8 hex>-<16 hex>``) and
    only removes siblings of that exact shape — a hand-chosen path like
    ``/indexes/ivf-test`` never triggers a sweep."""
    base = os.path.basename(path)
    m = re.fullmatch(r"(.+)-([0-9a-f]{8})-([0-9a-f]{16})", base)
    if not m:
        return
    prefix, sid = m.group(1), m.group(2)
    parent = os.path.dirname(path) or "."
    if not os.path.isdir(parent):
        return
    same_source_stale = re.escape(prefix) + "-" + sid + r"-[0-9a-f]{16}"
    # pre-source-id legacy names (<params>-<16 hex>) can never be
    # produced or opened by THIS code again — sweep them too.  Both
    # classes are age-guarded: a dir touched within the reader window
    # may still be mid-read by a session that opened it before the
    # source rewrite (or, for legacy names, by a not-yet-upgraded
    # process in a shared index root).
    legacy = re.escape(prefix) + r"-[0-9a-f]{16}"
    for entry in os.listdir(parent):
        if entry == base or not (
            re.fullmatch(same_source_stale, entry)
            or re.fullmatch(legacy, entry)
        ):
            continue
        sibling = os.path.join(parent, entry)
        if os.path.isdir(sibling) and aged(sibling):
            shutil.rmtree(sibling, ignore_errors=True)
