"""The session JVM runs with the engine's JIT policy: every C2 (tier-4)
threshold at 10x its JDK 17 default, so one-off planner and codegen
code stays in C1 while hot loops still reach C2."""

TIER4_FLAGS = {
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
}


def test_session_jvm_has_tier4_thresholds(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = set(mx.getRuntimeMXBean().getInputArguments())
    assert TIER4_FLAGS <= args, sorted(TIER4_FLAGS - args)
