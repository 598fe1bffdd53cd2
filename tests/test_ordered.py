"""operators/ordered.py invariants: the distributed total-order primitives
must be BIT-IDENTICAL to the single-partition window forms they replace
(SCALE.md round-8 classification table), for any shuffle-partition count,
including N < n for ntile and duplicate order values with a tie-break."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.operators.ordered import (
    global_cummin,
    global_cumsum,
    global_ntile,
    global_rank_cumsum,
    global_row_number,
)
from videos_to_tfrecords_spark.session import session_conf


def _frame(spark, n=997):
    # duplicate-heavy value column (v = id % 37) so ranks rely on the
    # tie-break; weight column for the cumsum checks
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 37).alias("v"),
        (F.col("id") % 11 + 1).alias("w"),
    )


def test_global_row_number_matches_window(spark):
    df = _frame(spark)
    order = [F.desc("v"), F.asc("k")]
    got = {
        r["k"]: r["rn"]
        for r in global_row_number(df, order, "rn").collect()
    }
    want = {
        r["k"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


def test_global_cumsum_matches_window_both_frames(spark):
    df = _frame(spark).groupBy("v").agg(F.sum("w").alias("t"))  # unique v
    for before, upper in ((True, -1), (False, 0)):
        got = {
            r["v"]: r["cum"]
            for r in global_cumsum(
                df, [F.col("v")], "t", "cum", before=before
            ).collect()
        }
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, upper)
        want = {
            r["v"]: r["cum"]
            for r in df.withColumn(
                "cum", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long")
            ).collect()
        }
        assert got == want, f"before={before}"


def test_global_cummin_matches_window_null_head(spark):
    # prefix-min with before=True: the first row's empty prefix must be
    # NULL (the skyline dominance test relies on it), and partition heads
    # must inherit the previous partitions' min via least()
    df = _frame(spark).groupBy("v").agg(F.min("w").alias("m"))
    got = {
        r["v"]: r["cm"]
        for r in global_cummin(df, [F.col("v")], "m", "cm", before=True).collect()
    }
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["v"]: r["cm"]
        for r in df.withColumn("cm", F.min("m").over(w)).collect()
    }
    assert got == want
    assert want[0] is None and got[0] is None  # empty prefix stays NULL


def test_global_rank_cumsum_one_pass(spark):
    df = _frame(spark)
    order = [F.asc("v"), F.asc("k")]
    got = {
        r["k"]: (r["rn"], r["cum"])
        for r in global_rank_cumsum(df, order, "w", "rn", "cum").collect()
    }
    w = Window.orderBy(*order)
    want = {
        r["k"]: (r["rn"], r["cum"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("w")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .collect()
    }
    assert got == want


@pytest.mark.parametrize("n_rows", [3, 4, 7, 997])
def test_global_ntile_matches_sql_ntile(spark, n_rows):
    # includes n_rows < 4 (empty-tail buckets) and n_rows % 4 != 0
    df = _frame(spark, n_rows)
    order = [F.desc("v"), F.asc("k")]
    got = {r["k"]: r["q"] for r in global_ntile(df, order, 4, "q").collect()}
    want = {
        r["k"]: r["q"]
        for r in df.withColumn(
            "q", F.ntile(4).over(Window.orderBy(*order)).cast("long")
        ).collect()
    }
    assert got == want


def test_partition_count_invariance(spark):
    # the global rank must not depend on spark.sql.shuffle.partitions
    df = _frame(spark, 211)
    order = [F.asc("v"), F.desc("k")]
    results = []
    for parts in ("1", "3", "16"):
        with session_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            results.append(
                tuple(
                    sorted(
                        (r["k"], r["rn"])
                        for r in global_row_number(df, order, "rn").collect()
                    )
                )
            )
    assert results[0] == results[1] == results[2]


def test_reliable_checkpoint_swap_bit_identical(spark, tmp_path):
    # VERDICT r08 #4: the production swap (setCheckpointDir + reliable
    # .checkpoint() instead of localCheckpoint in _pinned_range) must be
    # proven, not just documented — at 100× every former global window
    # sits on this primitive. Conf-switch the swap on and assert
    # bit-identical global_ntile / global_cumsum outputs.
    df = _frame(spark, 611)
    order = [F.desc("v"), F.asc("k")]
    agg = df.groupBy("v").agg(F.sum("w").alias("t"))
    local_ntile = sorted(
        (r["k"], r["q"]) for r in global_ntile(df, order, 4, "q").collect()
    )
    local_cum = sorted(
        (r["v"], r["cum"])
        for r in global_cumsum(agg, [F.col("v")], "t", "cum").collect()
    )
    prev_dir = spark.sparkContext.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    spark.conf.set("videosToTfrecords.ordered.reliableCheckpoint", "true")
    try:
        reliable_ntile = sorted(
            (r["k"], r["q"]) for r in global_ntile(df, order, 4, "q").collect()
        )
        reliable_cum = sorted(
            (r["v"], r["cum"])
            for r in global_cumsum(agg, [F.col("v")], "t", "cum").collect()
        )
    finally:
        spark.conf.unset("videosToTfrecords.ordered.reliableCheckpoint")
        if prev_dir:
            spark.sparkContext.setCheckpointDir(prev_dir)
    assert reliable_ntile == local_ntile
    assert reliable_cum == local_cum
    # the reliable path actually wrote checkpoint blocks to the configured
    # dir (i.e. the conf switch took effect, not a silent local fallback)
    ck_files = list((tmp_path / "ck").rglob("*"))
    assert any(p.is_file() for p in ck_files)


def test_no_single_partition_window_over_input(spark):
    # the executed plan's row_number window must be partitioned by the
    # range-partition id; the only global window input is the offset table
    df = _frame(spark, 5000)
    plan = (
        global_row_number(df, [F.asc("v"), F.asc("k")], "rn")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.split("\n"):
        if "row_number()" in line:
            assert "_ord_pid" in line  # partitioned, not global
