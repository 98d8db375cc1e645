"""The session factory's driver JVM settings."""

from __future__ import annotations


def test_driver_jvm_runs_one_c2_compiler_thread(spark):
    """``get_spark`` starts the driver with ``-XX:CICompilerCount=2``
    (one C1 and one C2 thread): the JVM the suite runs in has it."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert "-XX:CICompilerCount=2" in list(mx.getInputArguments())
