"""Z-ordered write layout + file-level min/max pruning accounting.

``zorder_values`` (plans/advanced_queries.py) hash-checks the Morton
values themselves; this module closes the loop END-TO-END: sort-write a
table by its z-value and show, from the parquet footers the write
produced, that a 2-D range predicate only needs a small fraction of the
files — the property that makes Delta's OPTIMIZE ZORDER BY worth running
before 100 TB scans.

Two layers of pruning exist at scan time:

- ROW-GROUP pruning: Spark's parquet reader applies PushedFilters against
  row-group min/max automatically — free once the data is clustered.
- FILE pruning: table formats (Delta/Iceberg/Hudi) keep per-file min/max
  in their metadata and skip whole files at PLANNING time. Plain-parquet
  Spark has no file-stats catalog, so :func:`prunable_files` reads each
  footer's column statistics directly (what those formats store) and
  reports how many files a conjunctive range predicate can touch — the
  exact planning-time arithmetic a stats catalog would do.

The z-curve guarantee measured here: sorting by interleaved bits bounds
every file's (min, max) box in BOTH dimensions, so a small query box
overlaps few boxes. A 1-D sort clusters only its own dimension — a range
predicate on the OTHER dimension overlaps every file.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame

from videos_to_tfrecords_spark.functions.zorder import z_value


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Cluster ``df`` into ``n_files`` parquet files by the Morton value of
    (x, y): range-repartition on the z-value (contiguous, balanced curve
    segments per file — one shuffle) and sort within each partition so
    row groups inside a file are clustered too. The z-value is used purely
    as a repartition/sort expression — the written schema is unchanged."""
    (
        df.repartitionByRange(n_files, z_value(x, y, bits))
        .sortWithinPartitions(z_value(x, y, bits))
        .write.mode("overwrite")
        .parquet(path)
    )


def _footer_stats(path: str, cols: list[str]) -> list[dict[str, tuple]]:
    """Per-file (min, max) for ``cols`` aggregated over the file's row
    groups — exactly the numbers Delta/Iceberg record in their file
    manifests at write time."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, tuple] = {}
        for c in cols:
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(names[c]).statistics
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            stats[c] = (lo, hi)
        out.append(stats)
    return out


def prunable_files(path: str, ranges: dict[str, tuple]) -> tuple[int, int]:
    """(files_needed, files_total) for a conjunctive range predicate
    ``{col: (lo, hi)}`` (inclusive bounds; None = unbounded) against the
    per-file footer stats: a file is needed iff every predicate interval
    overlaps the file's (min, max) for that column."""
    per_file = _footer_stats(path, list(ranges))
    needed = 0
    for stats in per_file:
        hit = True
        for c, (lo, hi) in ranges.items():
            fmin, fmax = stats[c]
            if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
                hit = False
                break
        if hit:
            needed += 1
    return needed, len(per_file)


def write_bucketed(
    df,
    table_name: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> None:
    """Bucketed (hash-clustered) table write — Spark's answer to the 100 TB
    co-located join: both sides pre-hashed into the same number of buckets
    on the join key means SortMergeJoin reads matching buckets directly and
    the per-query shuffle DISAPPEARS (pay the Exchange once at write time,
    never again). ``sortBy`` within buckets also removes the join's Sort.

    Plain parquet files carry no bucket metadata, so this must go through
    the session catalog (``saveAsTable`` with an explicit external
    ``path``); readers use ``spark.table(table_name)``. The no-Exchange
    join plan is asserted in tests/test_storage_layout.py."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )
