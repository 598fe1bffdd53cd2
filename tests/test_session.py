"""The session factory's driver heap: pinned at its full size, not pre-touched."""

from __future__ import annotations


def test_driver_heap_is_pinned_and_faulted_on_demand(spark):
    jvm = spark._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    assert [a for a in args if a.startswith("-Xms")] == [f"-Xms{mem}"]
    assert f"-Xmx{mem}" in args
    assert "-XX:+AlwaysPreTouch" not in args
    # pinned: a full collection leaves the whole heap committed
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    assert heap.getCommitted() == heap.getMax()
