"""Pinning policy contract (operators/_pin.pin): localCheckpoint is a
fault-tolerance trade (non-replicated executor-local blocks) that is
only free in local mode — see the round-8 ADVICE finding the policy
encodes."""

from __future__ import annotations

import pytest

from graphdb_for_drones_spark.operators._pin import pin, pin_state


def test_pin_local_mode_checkpoints(spark):
    df = spark.range(10)
    out = pin(df)
    assert out is not df
    # an eager localCheckpoint replaces the plan with a materialized RDD scan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan
    assert sorted(r.id for r in out.collect()) == list(range(10))


def test_pin_opt_out_env(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NO_PIN", "1")
    df = spark.range(5)
    assert pin(df) is df


def _fake_cluster(monkeypatch, df, has_dir):
    """Make ``df``'s session look like a non-local (cluster) master,
    with or without a configured checkpoint dir."""

    class _FakeSC:
        master = "yarn"

        class _jsc:  # noqa: N801 - mimic py4j attr
            @staticmethod
            def sc():
                class _S:
                    @staticmethod
                    def getCheckpointDir():
                        class _O:
                            @staticmethod
                            def isDefined():
                                return has_dir

                        return _O()

                return _S()

    class _FakeSession:
        sparkContext = _FakeSC()

    monkeypatch.setattr(
        type(df), "sparkSession", property(lambda self: _FakeSession())
    )


def test_pin_nonlocal_without_checkpoint_dir_is_noop(spark, monkeypatch):
    # simulate a cluster master: the policy must NOT localCheckpoint
    # (irrecoverable on executor loss) and, with no checkpoint dir
    # configured, must return the frame unpinned
    df = spark.range(5)
    _fake_cluster(monkeypatch, df, has_dir=False)
    assert pin(df) is df


def test_pin_state_cuts_lineage_under_opt_out(spark, monkeypatch):
    # loop state is always materialized: SPARK_GRAFT_NO_PIN does not
    # apply (an uncut superstep state grows the plan every round)
    monkeypatch.setenv("SPARK_GRAFT_NO_PIN", "1")
    out = pin_state(spark.range(10))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan
    assert sorted(r.id for r in out.collect()) == list(range(10))


@pytest.mark.parametrize("has_dir", [True, False])
def test_pin_state_nonlocal_always_truncates(spark, monkeypatch, has_dir):
    # cluster master: a reliable checkpoint when a dir is configured,
    # localCheckpoint otherwise — never the unpinned frame
    df = spark.range(5)
    calls = []
    cls = type(df)
    monkeypatch.setattr(
        cls, "checkpoint", lambda self, *a, **k: calls.append("reliable") or "pinned"
    )
    monkeypatch.setattr(
        cls, "localCheckpoint", lambda self, *a, **k: calls.append("local") or "pinned"
    )
    _fake_cluster(monkeypatch, df, has_dir=has_dir)
    assert pin_state(df) == "pinned"
    assert calls == ["reliable" if has_dir else "local"]
