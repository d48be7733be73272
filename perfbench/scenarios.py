"""The benchmark's closed-loop workloads.

A workload is a list of parts.  Each part stages its inputs and hands out
units: one unit is one or more ``Request``s that must run in order (a
churn round's commit, then its read).  A pass is every part's units, in
an order shuffled by the workload seed.  Each request calls an engine
layer's public functions and carries the check its answer must pass.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from graphdb_for_drones_spark import fixtures, traversal
from graphdb_for_drones_spark import workloads as engine_workloads
from graphdb_for_drones_spark.catalog import TABLES
from graphdb_for_drones_spark.plans import ORACLES, QUERIES
from graphdb_for_drones_spark.snapshots import SnapshotStore
from graphdb_for_drones_spark.streaming import cdc

import datagen

# an iterative-kernel entry (k_core over the sf0.1 trade graph): its plan
# build runs nearly all of its Spark jobs, the degree filter and each peel
# round behind a localCheckpoint
KERNEL_ENTRIES = ["trade_kcore"]
# a stateful tracker drained through a fresh streaming query per request
STREAMED_ENTRIES = ["event_funnel_streamed"]
REPLAY_BATCH = 500  # the reference's recovery BATCH_SIZE


@dataclass(frozen=True)
class Size:
    sf: float
    drones: int
    cdc_ops: int  # half inserts, a quarter updates, a quarter deletes


BENCH = Size(sf=0.1, drones=5_000, cdc_ops=1_000)
SMOKE = Size(sf=0.01, drones=2_000, cdc_ops=1_000)


@dataclass
class Request:
    name: str
    kind: str
    # fn(mark_built) -> answer; mark_built() ends the plan-build phase
    fn: Callable[[Callable[[], None]], Any]
    check: Callable[[Any], bool]
    events: int = 0
    keeps_state: bool = False  # what it persists is the workload's state
    stats: dict = field(default_factory=dict)  # measured by the check


# ------------------------------------------------------------ answer checks


def normalize(rows) -> list[tuple]:
    """tests/test_queries_oracle.py's normalisation: floats to 9 dp,
    order-insensitive."""
    out = [tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows]
    return sorted(out, key=repr)


def fingerprint(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def rows_match(a: list[tuple], b: list[tuple]) -> bool:
    """The oracle test's comparison: exact, but floats within 1e-9."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif va != vb:
                return False
    return True


class OracleBook:
    """Per-entry expected answers: the DuckDB oracle's rows, checked once
    against the engine and then required of every timed repetition (by
    fingerprint, or within the oracle tolerance)."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self.expected: dict[str, tuple[list[str], list[tuple], str]] = {}
        self.oracle_s = 0.0

    def check(self, name: str, columns: list[str], rows: list[tuple]) -> bool:
        if name not in self.expected:
            t0 = time.time()
            rel = self.con.sql(ORACLES[name])
            want = normalize(rel.fetchall())
            if not want:
                # an empty answer cannot tell a correct engine from one
                # that drops every row
                raise ValueError(f"{name}: the oracle answer is empty at this scale")
            self.expected[name] = ([c.lower() for c in rel.columns], want, fingerprint(want))
            self.oracle_s += time.time() - t0
        cols, want, fp = self.expected[name]
        if [c.lower() for c in columns] != cols:
            return False
        got = normalize(rows)
        return fingerprint(got) == fp or rows_match(got, want)


# -------------------------------------------------------------------- parts


class Part:
    def __init__(self, ctx, size: Size, rng: random.Random):
        self.ctx = ctx  # run.Context: spark, work dir, seed
        self.size = size
        self.rng = rng

    def stage(self) -> None:
        """Build the inputs."""

    def units(self) -> list[list[Request]]:
        raise NotImplementedError


class CatalogPart(Part):
    """Catalog entries over seeded tables: build, then collect, then the
    answer against the oracle book."""

    entries: list[str] = []
    kind = "query"

    def stage(self) -> None:
        self.sf_dir = datagen.write_tables(
            os.path.join(self.ctx.work, "data"), self.size.sf, self.ctx.seed
        )
        self.book = OracleBook(self.sf_dir)

    def entry(self, name: str) -> Request:
        spark = self.ctx.spark

        def fn(mark_built):
            df = QUERIES[name](spark, self.sf_dir)
            mark_built()
            return df.columns, [tuple(r) for r in df.collect()]

        return Request(name, self.kind, fn, lambda a: self.book.check(name, *a))

    def units(self) -> list[list[Request]]:
        return [[self.entry(n)] for n in self.entries]


class Kernels(CatalogPart):
    entries = KERNEL_ENTRIES


class Drains(CatalogPart):
    entries = STREAMED_ENTRIES
    kind = "drain"


class Churn(Part):
    """02_topology_dynamic turn-taking: each round re-points 20% of a flat
    delegation in 500-key chunks and commits a snapshot version; the read
    after it counts the drones reachable from HQ1, which is closed-form."""

    ratio = 0.2
    chunk = 500

    def stage(self) -> None:
        n = self.size.drones
        self.delegation = fixtures.flat_delegation_dist(self.ctx.spark, n, hq_id="HQ1")
        # the seed fixes the HQ rotation; HQ1 is never a target, so every
        # round leaves exactly n - changed drones under HQ1
        rotation = [f"HQ{i}" for i in range(2, 7)]
        self.rng.shuffle(rotation)
        self.store = SnapshotStore(os.path.join(self.ctx.work, "snapshots"))
        self.rounds = engine_workloads.turn_taking(
            self.delegation,
            rotation,
            rounds=1_000_000,
            update_ratio=self.ratio,
            chunk_size=self.chunk,
            store=self.store,
        )
        self.version = None
        self.snapshot = self.delegation
        self.changed = int(n * self.ratio)

    def _read(self, expect: int) -> Request:
        def fn(mark_built):
            edges = self.snapshot.select(
                F.col("hq_id").alias("src"), F.col("drone_id").cast("string").alias("dst")
            )
            out = traversal.reachable_counts(edges, ["HQ1"], 4, mode="node")
            mark_built()
            return out.count()

        return Request("read_after_commit", "read", fn, lambda c: c == expect)

    def _commit(self) -> Request:
        def fn(mark_built):
            snap = next(self.rounds)
            mark_built()
            return snap

        def check(snap):
            ok = self.version is None or snap.snapshot_version == self.version + 1
            self.version, self.snapshot = snap.snapshot_version, snap
            # rows the commit wrote, and rows whose HQ it changed, read
            # back from the version files
            new, old = (
                pq.read_table(self.store.path_for(v), columns=["drone_id", "hq_id"]).to_pandas()
                for v in (snap.snapshot_version, snap.snapshot_version - 1)
            )
            both = new.merge(old, on="drone_id", how="left", suffixes=("", "_old"))
            req.stats["rows_written"] = len(new)
            req.stats["rows_changed"] = int((both["hq_id"] != both["hq_id_old"]).sum())
            return ok

        req = Request("commit", "commit", fn, check, keeps_state=True)
        return req

    def units(self) -> list[list[Request]]:
        return [[self._commit(), self._read(self.size.drones - self.changed)]]


class Cdc(Part):
    """The reference's offline-recovery drain (cdc_protocol.py) over
    Debezium envelopes: a seeded change log is encoded and parsed, then
    polled after the last applied change and applied in 500-event batches
    until drained."""

    def stage(self) -> None:
        n = self.size.cdc_ops
        rng = random.Random(self.ctx.seed)
        token = lambda: format(rng.getrandbits(32), "08x")  # noqa: E731
        ids = range(n // 2)
        updated = set(rng.sample(ids, n // 4))
        deleted = set(rng.sample(ids, n // 4))
        rows = [("c", i, f"item-{i}-{token()}") for i in ids]
        rows += [("u", i, f"item-{i}-{token()}-v2") for i in sorted(updated)]
        rows += [("d", i, None) for i in sorted(deleted)]
        # (rows left, rows carrying their update)
        self.expect = (len(ids) - len(deleted), len(updated - deleted))
        pdf = pd.DataFrame(rows, columns=["op", "id", "payload"])
        pdf["ts_ms"] = range(1_700_000_000_000, 1_700_000_000_000 + len(rows))
        schema = "op string, id long, payload string, ts_ms long"
        self.log = self.ctx.spark.createDataFrame(pdf, schema).localCheckpoint()

    def _drain(self) -> Request:
        n = self.size.cdc_ops
        spark = self.ctx.spark

        def fn(mark_built):
            changes = cdc.parse_envelope(cdc.encode_envelope(self.log))
            changes = changes.withColumn("ts_ms", F.col("ts_ms").cast("long"))
            state = spark.createDataFrame([], "id long, payload string")
            last, applied = -1, 0
            while applied < n:
                chunk = cdc.poll_changes(changes, last, id_col="ts_ms").limit(REPLAY_BATCH)
                got = chunk.select(F.max("ts_ms").alias("m"), F.count(F.lit(1)).alias("n")).first()
                if not got.n:
                    break
                state = cdc.apply_cdc_batch(state, chunk, seq_col="ts_ms").localCheckpoint()
                applied, last = applied + got.n, got.m
            mark_built()
            row = state.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("payload").endswith("-v2").cast("int")).alias("v2"),
            ).first()
            return row.n, row.v2

        return Request("cdc_recovery", "cdc", fn, lambda a: a == self.expect, n)

    def units(self) -> list[list[Request]]:
        return [[self._drain()]]


# ---------------------------------------------------------------- workloads


class Workload:
    """One pass = every part's units, in a seeded order."""

    def __init__(self, parts: list[Part], rng: random.Random):
        self.parts, self.rng = parts, rng

    def stage(self) -> None:
        for p in self.parts:
            p.stage()

    @property
    def oracle_s(self) -> float:
        return sum(p.book.oracle_s for p in self.parts if isinstance(p, CatalogPart))

    def _flatten(self, units) -> list[Request]:
        self.rng.shuffle(units)
        return [r for unit in units for r in unit]

    def pass_requests(self) -> list[Request]:
        return self._flatten([u for p in self.parts for u in p.units()])


WORKLOADS = {
    # a graph_algorithms kernel under the plans layer: its peel loop runs
    # its jobs while the plan is built
    "graph_traversal": [Kernels],
    # every write layer: snapshot commits under delegation churn (with the
    # traversal read after each), a CDC recovery drain, a streamed drain
    "write_path": [Churn, Cdc, Drains],
}


def make(name: str, ctx, size: Size, rng: random.Random) -> Workload:
    return Workload([cls(ctx, size, rng) for cls in WORKLOADS[name]], rng)
