"""Distributed total-order primitives — global row numbers, ordered prefix
sums, and ntile buckets WITHOUT a corpus-proportional single-partition
WindowExec.

The classic 1-D global-sort shape: range-partition on the order, compute
the analytic inside each partition with a PARTITIONED window, then shift
every partition by an offset derived from the per-partition size/sum
table. That table has at most `spark.sql.shuffle.partitions` rows —
bounded metadata — so its own cumulative window and the broadcast join
back are free at any corpus scale.

Exactness: the global result is invariant to where the range boundaries
land; the only requirement is that the partition id agree between the
offset pass and the rank pass, so the range-partitioned frame is pinned
with `localCheckpoint(eager=True)` (range-boundary sampling is not
deterministic across re-evaluations).

Cluster note: localCheckpoint blocks live on executors, so on a real
multi-node cluster an executor loss between the offset and rank passes
fails the job (blocks are lineage-truncated and the resample would be
inconsistent anyway) — the job simply re-runs. For long-lived production
pipelines prefer `spark.sparkContext.setCheckpointDir` + `.checkpoint()`
(reliable storage) as a drop-in swap; the algorithm is unchanged. The
swap is a session conf — set
``spark.conf.set("videosToTfrecords.ordered.reliableCheckpoint", "true")``
after ``setCheckpointDir`` and every primitive here pins with
``.checkpoint(eager=True)`` instead (conf-switched equivalence pytest:
tests/test_ordered.py::test_reliable_checkpoint_swap_bit_identical).

Semantics notes
- `order_cols` must define a TOTAL order (add a tie-break column). Range
  partitioning co-locates equal keys, but a row-frame prefix over tied
  rows would be order-dependent — every caller here ranks a frame whose
  order key is already unique.
- ntile buckets follow the SQL standard (first ``N mod q`` buckets get
  ``ceil(N/q)`` rows), computed closed-form from the exact global rank,
  so results are bit-identical to a single-partition ``ntile`` call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PID = "_ord_pid"


def _pinned_range(
    df: DataFrame, order_cols, reliable: bool | None = None, scope=None
) -> DataFrame:
    """Range-partition on the order and PIN the partitioning (boundary
    sampling is nondeterministic across re-evaluations). `reliable=None`
    reads the `videosToTfrecords.ordered.reliableCheckpoint` session conf
    (default false → executor-local `localCheckpoint`); True requires
    `setCheckpointDir` and survives executor loss on a real cluster. A
    local pin made with a `materialize` scope is a cut of that scope."""
    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if reliable is None:
        reliable = (
            spark.conf.get(
                "videosToTfrecords.ordered.reliableCheckpoint", "false"
            ).lower()
            == "true"
        )
    ranged = df.repartitionByRange(nparts, *order_cols).withColumn(
        _PID, F.spark_partition_id()
    )
    if reliable:
        return ranged.checkpoint(eager=True)
    if scope is not None:
        return scope.cut(ranged)
    return ranged.localCheckpoint(eager=True)


def _offsets(part: DataFrame, agg_col, alias: str) -> DataFrame:
    """Per-partition exclusive prefix of `agg_col` over ascending partition
    id — a ≤shuffle-partitions row frame (the one place a global window is
    allowed: its input is config-bounded metadata)."""
    woff = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    return (
        part.groupBy(_PID)
        .agg(agg_col.alias("_ord_n"))
        .select(
            _PID,
            F.coalesce(F.sum("_ord_n").over(woff), F.lit(0)).alias(alias),
        )
    )


def global_row_number(
    df: DataFrame, order_cols, alias: str = "rn", scope=None
) -> DataFrame:
    """Exact 1-based global row number over a total order; adds `alias` and
    keeps every input column. No single-partition shuffle of `df`. With a
    `materialize` scope, the range pin is released when the scope exits."""
    part = _pinned_range(df, order_cols, scope=scope)
    offs = _offsets(part, F.count("*").cast("long"), "_ord_off")
    rn = F.row_number().over(Window.partitionBy(_PID).orderBy(*order_cols))
    return (
        part.withColumn("_ord_rn", rn)
        .join(F.broadcast(offs), _PID)
        .withColumn(alias, (F.col("_ord_off") + F.col("_ord_rn")).cast("long"))
        .drop(_PID, "_ord_rn", "_ord_off")
    )


def global_cumsum(
    df: DataFrame,
    order_cols,
    sum_col: str,
    alias: str = "cum",
    before: bool = False,
    scope=None,
) -> DataFrame:
    """Exact running sum of `sum_col` over a total order; `before=True`
    excludes the current row (the census `ROWS ... AND 1 PRECEDING`
    shape). Adds `alias`, keeps every input column. With a `materialize`
    scope, the range pin is released when the scope exits."""
    part = _pinned_range(df, order_cols, scope=scope)
    offs = _offsets(part, F.sum(sum_col).cast("long"), "_ord_off")
    upper = -1 if before else 0
    win = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    return (
        part.withColumn("_ord_c", F.coalesce(F.sum(sum_col).over(win), F.lit(0)))
        .join(F.broadcast(offs), _PID)
        .withColumn(alias, (F.col("_ord_off") + F.col("_ord_c")).cast("long"))
        .drop(_PID, "_ord_c", "_ord_off")
    )


def global_cummin(
    df: DataFrame,
    order_cols,
    min_col: str,
    alias: str = "cummin",
    before: bool = False,
) -> DataFrame:
    """Exact running MIN of `min_col` over a total order (`before=True`
    excludes the current row — an empty prefix yields NULL, matching the
    single-partition window form). Adds `alias`, keeps every input
    column. `least()` skips NULLs, so the partition-offset min and the
    within-partition min combine correctly at partition heads."""
    part = _pinned_range(df, order_cols)
    woff = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        part.groupBy(_PID)
        .agg(F.min(min_col).alias("_ord_m"))
        .select(_PID, F.min("_ord_m").over(woff).alias("_ord_off"))
    )
    upper = -1 if before else 0
    win = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    return (
        part.withColumn("_ord_c", F.min(min_col).over(win))
        .join(F.broadcast(offs), _PID)
        .withColumn(alias, F.least(F.col("_ord_off"), F.col("_ord_c")))
        .drop(_PID, "_ord_c", "_ord_off")
    )


def global_rank_cumsum(
    df: DataFrame,
    order_cols,
    sum_col: str,
    rn_alias: str = "rn",
    cum_alias: str = "cum",
) -> DataFrame:
    """Exact global row number AND inclusive running sum of `sum_col` over
    one total order from a single pinned range partitioning (one shuffle,
    one checkpoint). Adds both aliases, keeps every input column."""
    part = _pinned_range(df, order_cols)
    offs_n = _offsets(part, F.count("*").cast("long"), "_ord_off_n")
    offs_s = _offsets(part, F.sum(sum_col).cast("long"), "_ord_off_s")
    wordr = Window.partitionBy(_PID).orderBy(*order_cols)
    wsum = wordr.rowsBetween(Window.unboundedPreceding, 0)
    return (
        part.withColumn("_ord_rn", F.row_number().over(wordr))
        .withColumn("_ord_c", F.sum(sum_col).over(wsum))
        .join(F.broadcast(offs_n), _PID)
        .join(F.broadcast(offs_s), _PID)
        .withColumn(rn_alias, (F.col("_ord_off_n") + F.col("_ord_rn")).cast("long"))
        .withColumn(cum_alias, (F.col("_ord_off_s") + F.col("_ord_c")).cast("long"))
        .drop(_PID, "_ord_rn", "_ord_c", "_ord_off_n", "_ord_off_s")
    )


def global_ntile(
    df: DataFrame, order_cols, n: int, alias: str = "q"
) -> DataFrame:
    """Exact ntile(n) over a total order from the distributed global rank:
    bucket boundaries by the SQL rule (first N mod n buckets take one
    extra row), all integer arithmetic. Adds `alias`, keeps every input
    column."""
    ranked = global_row_number(df, order_cols, "_ord_r")
    total = ranked.agg(F.count("*").cast("long").alias("_ord_N"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            alias,
            F.expr(
                f"CAST(CASE WHEN _ord_r <= (_ord_N % {n}) * (_ord_N div {n} + 1)"
                f" THEN (_ord_r - 1) div (_ord_N div {n} + 1) + 1"
                f" ELSE (_ord_N % {n})"
                f"   + (_ord_r - 1 - (_ord_N % {n}) * (_ord_N div {n} + 1))"
                f"     div greatest(_ord_N div {n}, 1) + 1 END AS BIGINT)"
            ),
        )
        .drop("_ord_r", "_ord_N")
    )
