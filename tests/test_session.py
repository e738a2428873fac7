"""Session JVM options: the driver delays C2 to its hottest methods,
executors keep the JDK's tiered thresholds, and the caller's extra flags
come last so they win."""

from __future__ import annotations

DELAYED_C2 = [
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
]


def test_driver_jvm_delays_c2(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert all(flag in args for flag in DELAYED_C2), args


def test_executor_options_keep_default_c2(spark):
    opts = spark.sparkContext.getConf().get("spark.executor.extraJavaOptions", "")
    assert "Tier4" not in opts


def test_driver_env_extras_come_last(monkeypatch):
    from who_owns_mass_processing_spark.session import _jvm_options

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:Tier4InvocationThreshold=5000")
    flags = _jvm_options("SPARK_GRAFT_DRIVER_JAVA_OPTS").split()
    assert flags.index(DELAYED_C2[0]) < flags.index("-XX:Tier4InvocationThreshold=5000")
    assert flags[-1] == "-XX:Tier4InvocationThreshold=5000"
