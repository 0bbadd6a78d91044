"""The engine session's JIT policy reaches the driver JVM it launches."""

from __future__ import annotations

from social_media_data_pipeline_spark import session

POLICY = {
    "Tier4InvocationThreshold": "50000",
    "Tier4MinInvocationThreshold": "6000",
    "Tier4CompileThreshold": "150000",
    "Tier4BackEdgeThreshold": "400000",
}


def _vm_option(spark, name: str):
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return mx.getVMOption(name)


def test_tier4_thresholds_set_at_vm_creation(spark):
    for name, value in POLICY.items():
        opt = _vm_option(spark, name)
        assert opt.getValue() == value, name
        # set on the command line the JVM started with, not ergonomics
        assert opt.getOrigin().toString() == "VM_CREATION", name


def test_policy_lives_in_default_java_options(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == session.JIT_POLICY
    # callers keep extraJavaOptions for their own flags: get_spark puts
    # nothing there (SparkContext itself appends its module options)
    assert "-XX:Tier4" not in (conf.get("spark.driver.extraJavaOptions") or "")
