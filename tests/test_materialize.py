"""The materialization scope releases what it made, and only that."""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

import pytest

from videos_to_tfrecords_spark.materialize import inner_plans, materialized, plan_text


def _persistent(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_scope_releases_keep_and_cut_and_hands_back_result(spark):
    before = _persistent(spark)
    df = spark.range(100)
    with inner_plans() as plans, materialized() as m:
        kept = m.keep(df.selectExpr("id * 2 AS v"))
        cut = m.cut(kept.filter("v % 3 = 0"))
        lazy = m.cut(cut.selectExpr("v + 1 AS v"), eager=False)
        out = m.result(lazy.groupBy().sum("v"))
    # the result is the one RDD left, and it is still readable
    assert len(_persistent(spark) - before) == 1
    assert out.collect()[0][0] == sum(v + 1 for v in range(0, 200, 2) if v % 3 == 0)
    # one plan per cut and result, rendered from the frame each materialized
    assert len(plans) == 3 and "Filter" in plan_text(plans[0])


def test_scope_releases_everything_on_error(spark):
    before = _persistent(spark)
    with pytest.raises(RuntimeError), materialized() as m:
        m.keep(spark.range(10)).count()
        m.cut(spark.range(10))
        m.result(spark.range(10))
        raise RuntimeError("operator failed")
    assert _persistent(spark) == before


@contextmanager
def _driver_log(spark) -> Iterator:
    """A writer that receives every line the driver JVM logs inside the block."""
    log4j = spark._jvm.org.apache.logging.log4j
    ctx = log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = spark._jvm.java.io.StringWriter()
    appender = log4j.core.appender.WriterAppender.createAppender(
        log4j.core.layout.PatternLayout.createDefaultLayout(),
        None, writer, "test_materialize", False, True,
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    try:
        yield writer
    finally:
        root.removeAppender("test_materialize")
        ctx.updateLoggers()
        appender.stop()


def test_released_checkpoint_is_unregistered_without_a_warning(spark):
    """``RDD.unpersist`` logs a WARN for every locally checkpointed RDD; the
    scope's release unregisters the RDD and logs nothing."""
    warning = "was locally checkpointed, its lineage has been truncated"
    with _driver_log(spark) as log:
        with materialized() as m:
            cut = m.cut(spark.range(10))
        # the capture sees the WARN that RDD.unpersist logs
        spark.range(10).localCheckpoint()._jdf.queryExecution().analyzed().rdd().unpersist(False)
    assert cut._jdf.queryExecution().analyzed().rdd().id() not in _persistent(spark)
    assert log.toString().count(warning) == 1
