"""The session factory's local sizing."""

import os

from jly_flink_spark.session import local_cpus


def test_local_cpus_defaults_to_affinity(monkeypatch):
    """Without SPARK_GRAFT_CPUS, `local[n]` gets one slot per CPU this
    process may run on, not a fixed count that oversubscribes a small
    box."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
