"""The session factory: its driver heap (pinned at its full size, not
pre-touched) and the session-conf scope."""

from __future__ import annotations

import pytest

from videos_to_tfrecords_spark.session import session_conf


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


def test_session_conf_restores_set_and_unset_keys(spark):
    """``session_conf`` gives a key that was set its old value back and
    unsets a key that was unset, on a normal exit and on an exception."""
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.graft.test.unset"
    old = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    pinned = {set_key: "7", unset_key: "on"}

    with session_conf(spark, pinned):
        assert (spark.conf.get(set_key), spark.conf.get(unset_key)) == ("7", "on")
    assert (spark.conf.get(set_key), spark.conf.get(unset_key, None)) == (old, None)

    with pytest.raises(RuntimeError), session_conf(spark, pinned):
        assert spark.conf.get(set_key) == "7"
        raise RuntimeError("inside the block")
    assert (spark.conf.get(set_key), spark.conf.get(unset_key, None)) == (old, None)
