"""The driver JVM's JIT compile policy: session.DRIVER_JAVA_OPTIONS
raises HotSpot's tier-4 (C2) thresholds 4x over JDK 17's defaults and
keeps the GCLocker retry count."""

from __future__ import annotations

from flink_repartition_watermark_example_spark import session
from flink_repartition_watermark_example_spark.session import (
    DRIVER_JAVA_OPTIONS,
    vm_options,
)

JAVA_OPTIONS_CONF = "spark.driver.extraJavaOptions"


def test_pinned_flags_reach_the_jvm(spark):
    # The conf string alone proves nothing: the JVM reports each flag's
    # value and where it came from, VM_CREATION for the command line.
    assert vm_options(
        spark,
        [
            "Tier4InvocationThreshold",
            "Tier4BackEdgeThreshold",
            "GCLockerRetryAllocationCount",
        ],
    ) == {
        "Tier4InvocationThreshold": ("20000", "VM_CREATION"),
        "Tier4BackEdgeThreshold": ("160000", "VM_CREATION"),
        "GCLockerRetryAllocationCount": ("100", "VM_CREATION"),
    }


def test_java_options_are_pinned(session_builder):
    session.get_spark()
    assert session_builder.conf[JAVA_OPTIONS_CONF] == DRIVER_JAVA_OPTIONS
