"""Workload drivers: the dynamic-topology mutation scenarios preserve
invariants (row counts, final assignments) across committed snapshots."""

import pytest
from pyspark.sql import functions as F

from graphdb_for_drones_spark.fixtures import flat_delegation
from graphdb_for_drones_spark.workloads import (
    chain_churn,
    measure_under_workload,
    partition_reconcile,
    turn_taking,
)


@pytest.fixture()
def delegation(spark):
    return flat_delegation(spark, n=100, hq_id="HQ1")


def test_turn_taking_rotates(spark, delegation):
    snaps = list(turn_taking(delegation, ["HQ2", "HQ3"], rounds=2, update_ratio=0.3))
    assert len(snaps) == 2
    # every snapshot keeps the fleet intact
    assert all(s.count() == 100 for s in snaps)
    # round 2 re-pointed the same 30 drones at HQ3
    last = {r.hq_id: r.n for r in snaps[-1].groupBy("hq_id").agg(F.count("*").alias("n")).collect()}
    assert last == {"HQ1": 70, "HQ3": 30}


def test_chain_churn_yields_depths(spark, delegation):
    out = list(chain_churn(delegation, ["HQ2", "HQ3"], depth_cycle=[4, 8]))
    assert [d for d, _ in out] == [4, 8]
    assert all(s.count() == 100 for _, s in out)


def test_partition_reconcile(spark, delegation):
    part, rec = partition_reconcile(
        delegation, main_hq="HQ1", island_hq="HQX", split_ratio=0.4, churn_rounds=1
    )
    pc = {r.hq_id: r.n for r in part.groupBy("hq_id").agg(F.count("*").alias("n")).collect()}
    assert pc == {"HQ1": 60, "HQX": 40}
    rc = {r.hq_id: r.n for r in rec.groupBy("hq_id").agg(F.count("*").alias("n")).collect()}
    assert rc == {"HQ1": 100}


def test_measure_under_workload(spark, delegation):
    snaps = turn_taking(delegation, ["HQ2"], rounds=2, update_ratio=0.5)
    rows = measure_under_workload(
        snaps, lambda df: df.filter(F.col("hq_id") == "HQ2")
    )
    assert [(i, n) for i, _v, n in rows] == [(0, 50), (1, 50)]
    # every timed read records which committed snapshot it measured,
    # and versions increase with rounds
    versions = [v for _i, v, _n in rows]
    assert all(v > 0 for v in versions) and versions[0] < versions[1]


def test_no_driver_key_materialization(spark, monkeypatch):
    # the scale contract: only bucket COUNTERS reach the driver, never
    # the key list (collect row counts stay <= RANK_BUCKETS per call)
    from graphdb_for_drones_spark.mutation import RANK_BUCKETS

    sizes = []
    big = flat_delegation(spark, n=1000, hq_id="HQ1")
    cls = type(big)  # the concrete (classic) DataFrame class
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    snaps = list(turn_taking(big, ["HQ2"], rounds=1, update_ratio=0.3))
    assert snaps[0].filter(F.col("hq_id") == "HQ2").count() == 300
    assert sizes and max(sizes) <= RANK_BUCKETS


def test_snapshot_pinning_under_churn(spark, delegation, monkeypatch):
    # a yielded snapshot must be immune to later mutation rounds.  The
    # snapshots and the frozen key selection are state pins, so the
    # SPARK_GRAFT_NO_PIN opt-out must not change a single answer
    answers = []
    for no_pin in (False, True):
        if no_pin:
            monkeypatch.setenv("SPARK_GRAFT_NO_PIN", "1")
        else:
            monkeypatch.delenv("SPARK_GRAFT_NO_PIN", raising=False)
        gen = turn_taking(delegation, ["HQ2", "HQ3"], rounds=2, update_ratio=0.3)
        s1 = next(gen)
        n_hq2 = s1.filter(F.col("hq_id") == "HQ2").count()
        assert n_hq2 == 30
        s2 = next(gen)  # round 2 re-points the same drones at HQ3
        assert s2.filter(F.col("hq_id") == "HQ3").count() == 30
        # the pinned earlier snapshot still reads its own committed state
        assert s1.filter(F.col("hq_id") == "HQ2").count() == n_hq2
        assert s1.snapshot_version < s2.snapshot_version
        answers.append([sorted(map(tuple, s.collect())) for s in (s1, s2)])
    assert answers[0] == answers[1]
