"""SQLite wallet source/sink (S6) on the stdlib ``sqlite3`` driver.

The reference keeps per-drone wallet state (DIDs, VCs, keys) in
SQLite/SQLCipher files (reference: demo_offline/05_sqlite/02initdb.py:13-44
— ``did_document`` / ``verifiable_credential`` / ``private_keys`` tables,
AUTOINCREMENT-rowid-keyed, behind ``PRAGMA key``; demo_sqlite_cdc/
01_unit_test/03_test_sqlite.py for the unencrypted variant).  The
container has no JDBC jar, so ``io.read_jdbc_table`` stayed an API shape;
this module is the *real*, tested path: a distributed read where each
Spark task opens the database file itself (read-only URI) and scans one
rowid range.

Scale model: SQLite is a single-file store, so the file must be visible
to executors (shared FS / distributed cache — same requirement a JDBC
read places on the network path to the DB).  Rowid-range partitioning is
exactly Spark's JDBC ``partitionColumn`` protocol: N non-overlapping
``WHERE rowid BETWEEN lo AND hi`` scans, each served by SQLite's
clustered rowid index, no full-table funnel through one connection.

Pushdown: ``columns`` prunes the select list and ``predicate`` is
spliced into each partition's WHERE clause — both run inside SQLite,
mirroring what Catalyst pushes into a JDBC scan.

SQLCipher at-rest encryption (``PRAGMA key``, the reference's
per-connection pattern — demo_offline/05_sqlite/03did_vc_pk.py:13) is
served by ``read_sqlcipher``/``write_sqlcipher``: a SQLCipher-linked
driver when one exists, else the pure-Python page codec
(``sqlcipher_codec``) decrypts/encrypts the published v4 format with
the ``cryptography`` primitives.
"""

from __future__ import annotations

import os
import sqlite3
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphdb_for_drones_spark.local_frame import local_frame


def _affinity(decl: str | None) -> T.DataType:
    """SQLite type-affinity rules (sqlite.org/datatype3.html §3.1) →
    Spark types."""
    d = (decl or "").upper()
    if "INT" in d:
        return T.LongType()
    if any(s in d for s in ("CHAR", "CLOB", "TEXT")):
        return T.StringType()
    if "BLOB" in d or d == "":
        return T.BinaryType()
    if any(s in d for s in ("REAL", "FLOA", "DOUB")):
        return T.DoubleType()
    return T.DoubleType()  # NUMERIC affinity: widest lossless-ish choice


def sqlite_table_schema(db_path: str, table: str) -> T.StructType:
    """Driver-side introspection via PRAGMA table_info (metadata only)."""
    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        cols = conn.execute(f"PRAGMA table_info({_qident(table)})").fetchall()
    if not cols:
        raise ValueError(f"no such table: {table}")
    return T.StructType(
        [T.StructField(name, _affinity(decl), True) for _, name, decl, *_ in cols]
    )


def _qident(name: str) -> str:
    """Quote an identifier; reject names that could escape the quotes.
    (Table/column names come from the caller, not end-user data, but the
    reference's wallet tables are per-drone-named — be strict anyway.)"""
    if '"' in name or "\x00" in name:
        raise ValueError(f"invalid identifier: {name!r}")
    return f'"{name}"'


def read_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    num_partitions: int = 8,
    columns: list[str] | None = None,
    predicate: str | None = None,
) -> DataFrame:
    """Distributed rowid-range read of one SQLite table.

    Each task runs ``SELECT <cols> FROM t WHERE rowid BETWEEN lo AND hi
    [AND predicate]`` — an index-range scan on SQLite's clustered rowid
    btree.  Ranges split [min_rowid, max_rowid] evenly; rowid gaps only
    skew partition sizes, never drop rows.

    ``predicate`` is TRUSTED SQL spliced verbatim into each partition's
    WHERE clause (same contract as JDBC's ``predicates`` option): it must
    come from the calling program, never from end-user data.  As a
    tripwire, statement separators and comment tokens are rejected.
    """
    if predicate is not None and any(
        tok in predicate for tok in (";", "--", "/*")
    ):
        raise ValueError(
            f"predicate must be a single trusted expression: {predicate!r}"
        )
    schema = sqlite_table_schema(db_path, table)
    if columns is not None:
        schema = T.StructType([schema[c] for c in columns])
    sel = ", ".join(_qident(f.name) for f in schema.fields)

    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        row = conn.execute(
            f"SELECT min(rowid), max(rowid) FROM {_qident(table)}"
        ).fetchone()
    lo, hi = row
    if lo is None:  # empty table
        return local_frame(spark, schema)

    n = max(1, min(num_partitions, hi - lo + 1))
    span = (hi - lo + 1 + n - 1) // n
    bounds = (
        spark.range(0, n, 1, n)
        .select(
            (F.lit(lo) + F.col("id") * span).alias("lo"),
            F.least(F.lit(hi), F.lit(lo) + (F.col("id") + 1) * span - 1).alias(
                "hi"
            ),
        )
    )

    where = "rowid BETWEEN ? AND ?" + (f" AND ({predicate})" if predicate else "")
    sql = f"SELECT {sel} FROM {_qident(table)} WHERE {where}"
    names = [f.name for f in schema.fields]

    def scan(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for b_lo, b_hi in pdf.itertuples(index=False):
                with sqlite3.connect(
                    f"file:{db_path}?mode=ro", uri=True
                ) as conn:
                    out = pd.read_sql_query(
                        sql, conn, params=(int(b_lo), int(b_hi))
                    )
                out.columns = names
                yield out

    return bounds.mapInPandas(scan, schema=schema)


def write_sqlite(
    df: DataFrame, db_path: str, table: str, mode: str = "overwrite"
) -> int:
    """Wallet sink.  SQLite is a single-writer store, so this streams
    partitions through the driver (``toLocalIterator`` — O(partition)
    memory, never a full collect) into one INSERT transaction.  That is
    the honest shape: a distributed ``foreachPartition`` writer would
    serialize on SQLite's file lock anyway.  Returns rows written."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    schema = df.schema
    cols = ", ".join(_qident(f.name) for f in schema.fields)
    decls = ", ".join(
        f"{_qident(f.name)} {_sqlite_decl(f.dataType)}" for f in schema.fields
    )
    ph = ", ".join("?" for _ in schema.fields)
    with sqlite3.connect(db_path) as conn:
        if mode == "overwrite":
            conn.execute(f"DROP TABLE IF EXISTS {_qident(table)}")
        conn.execute(f"CREATE TABLE IF NOT EXISTS {_qident(table)} ({decls})")
        n = 0
        buf: list[tuple] = []
        for row in df.toLocalIterator():
            buf.append(tuple(row))
            if len(buf) >= 10_000:
                conn.executemany(
                    f"INSERT INTO {_qident(table)} ({cols}) VALUES ({ph})", buf
                )
                n += len(buf)
                buf = []
        if buf:
            conn.executemany(
                f"INSERT INTO {_qident(table)} ({cols}) VALUES ({ph})", buf
            )
            n += len(buf)
        conn.commit()
    return n


def _sqlite_decl(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "INTEGER"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "REAL"
    if isinstance(dt, T.BinaryType):
        return "BLOB"
    return "TEXT"


def read_sqlcipher(
    spark: SparkSession,
    db_path: str,
    table: str,
    key: str,
    work_dir: str | None = None,
    profile: str = "v4",
    **kwargs,
) -> DataFrame:
    """Distributed read of one table from a SQLCipher-encrypted wallet.

    Two legs, best first:

    * a SQLCipher-linked driver (``pysqlcipher3``), when installed:
      every task issues ``PRAGMA key`` before its rowid-range scan —
      exactly the reference's per-connection pattern
      (demo_offline/05_sqlite/03did_vc_pk.py:13);
    * otherwise the pure-Python page codec (``sqlcipher_codec`` — the
      published v4 format over the ``cryptography`` primitives)
      decrypts the file ONCE driver-side into ``work_dir`` (default:
      alongside the wallet), then the standard distributed
      ``read_sqlite`` runs against the plaintext copy.  On a cluster
      ``work_dir`` must be executor-visible (the same shared-FS
      requirement the encrypted file itself has).  The decrypted copy
      is keyed by source mtime so re-reads reuse it; callers handling
      material that must never touch disk unencrypted should point
      ``work_dir`` at tmpfs.

    Wrong keys fail fast with ``ValueError`` (page-1 HMAC), not a
    garbled scan."""
    try:
        import pysqlcipher3.dbapi2 as sqlcipher_db  # noqa: F401

        has_native = True
    except ImportError:
        has_native = False
    if has_native:  # pragma: no cover - container ships no SQLCipher build
        raise NotImplementedError(
            "native pysqlcipher3 leg is untested in this environment; "
            "remove this guard where a real SQLCipher build exists"
        )

    from graphdb_for_drones_spark.sources import sqlcipher_codec as C

    if not C.verify_key(db_path, key, profile=profile):
        raise ValueError(f"{db_path}: key rejected (page-1 HMAC mismatch)")
    st = os.stat(db_path)
    base = os.path.basename(db_path)
    out_dir = work_dir or os.path.dirname(os.path.abspath(db_path))
    plain = os.path.join(
        out_dir, f".{base}.plain-{st.st_size}-{st.st_mtime_ns}"
    )
    if not os.path.exists(plain):
        tmp = f"{plain}.{os.getpid()}.tmp"
        C.decrypt_db(db_path, key, tmp, profile=profile)
        os.replace(tmp, plain)
    return read_sqlite(spark, plain, table, **kwargs)


def write_sqlcipher(
    df: DataFrame,
    db_path: str,
    table: str,
    key: str,
    mode: str = "overwrite",
    profile: str = "v4",
) -> int:
    """Encrypted wallet sink: ``write_sqlite`` into a plaintext staging
    file (appends decrypt the existing wallet first so its other tables
    survive), reformat with the profile's per-page reserve space, then
    encrypt into SQLCipher layout.  Returns rows written."""
    from graphdb_for_drones_spark.sources import sqlcipher_codec as C

    staging = f"{db_path}.staging.{os.getpid()}"
    try:
        if os.path.exists(db_path):
            C.decrypt_db(db_path, key, staging, profile=profile)
        n = write_sqlite(df, staging, table, mode=mode)
        _kdf_iter, _hash, hmac_sz = C.PROFILES[profile]
        C.prepare_reserve(staging, C.reserve_size(hmac_sz))
        C.encrypt_db(staging, key, db_path, profile=profile)
    finally:
        if os.path.exists(staging):
            os.remove(staging)
    return n
