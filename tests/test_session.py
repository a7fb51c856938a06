"""SparkSession factory: the host-aware local[N] core clamp and the
driver JVM's JIT policy."""

from __future__ import annotations

import os

from graph_embeddings_spark.session import effective_cores


def test_core_clamp_follows_host_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CORE_CLAMP", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 2)
    assert effective_cores(32) == 2
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert effective_cores(32) == 8
    monkeypatch.setattr(os, "cpu_count", lambda: None)
    assert effective_cores(32) == 8


def test_core_clamp_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CORE_CLAMP", "16")
    monkeypatch.setattr(os, "cpu_count", lambda: 2)
    assert effective_cores(32) == 16
    assert effective_cores(4) == 4


def test_driver_jvm_runs_c1_only(spark):
    """The JVM get_spark launched runs without C2: the flag must reach the
    process's own arguments, not only the session conf."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args, args
