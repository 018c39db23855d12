"""Session factory defaults that need no running session."""

from __future__ import annotations

from gcp_data_pipeline_fyp_spark.session import default_shuffle_partitions


def test_shuffle_partitions_follow_cores_by_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    assert default_shuffle_partitions(8) == 8


def test_shuffle_env_can_raise_and_lower_the_count(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "64")
    assert default_shuffle_partitions(8) == 64
    # below the core count: the documented way to size small stateful
    # streams' state-store partitions down
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "2")
    assert default_shuffle_partitions(8) == 2
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "0")
    assert default_shuffle_partitions(8) == 1
