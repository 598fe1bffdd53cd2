"""Native TFRecord data source via Spark 4's Python Data Source API.

Registers a first-class ``spark.read.format("tfrecord")`` /
``df.write.format("tfrecord")`` pair, so the reference's sink format
(SURVEY §2.1 S4) is a real pluggable source in this engine rather than only
a helper function:

    from videos_to_tfrecords_spark.sources.tfrecord_datasource import register
    register(spark)
    df = spark.read.format("tfrecord").load("/path/*.tfrecord")
    # → (path string, record binary) rows, CRC-verified
    df.write.format("tfrecord").option("path", out).save()

Planning: one InputPartition per file (TFRecord framing has no intra-file
split points — records must be walked; the reference's sharded layout keeps
files task-sized, which is exactly why S4 shards). The writer emits one
shard per task into ``part-NNNNN.tfrecord``. Both go through the columnar
kernel (``tfrecord_kernel``): the reader parses a block of records at a
time and verifies both masked CRCs of all of them at once; the writer takes
Arrow batches and frames each bounded slice with one ``write``.
"""

from __future__ import annotations

import glob as globlib
import os

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from videos_to_tfrecords_spark.sources import tfrecord_kernel as kernel

READ_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("record", T.BinaryType(), True),
    ]
)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class TFRecordReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("tfrecord source requires a path")

    def partitions(self):
        files = sorted(globlib.glob(self.path)) or sorted(
            globlib.glob(os.path.join(self.path, "**", "*.tfrecord"), recursive=True)
        )
        if not files:
            raise FileNotFoundError(f"no tfrecord files match {self.path}")
        return [_FilePartition(f) for f in files]

    def read(self, partition: _FilePartition):
        # yield Arrow RecordBatches (the API's fast path — per-row tuple
        # yields cost a pickle round-trip per record)
        emitted = False
        with open(partition.path, "rb") as fh:
            for records in kernel.read_file(fh, partition.path):
                yield _batch(partition.path, records)
                emitted = True
        if not emitted:  # an empty FILE still yields one typed empty batch
            yield _batch(partition.path, pa.array([], pa.binary()))


def _batch(path: str, records: pa.Array) -> pa.RecordBatch:
    # explicit types always: pa.array([]) would infer NULL type and fail the
    # (string, binary) schema cast for empty files
    return pa.record_batch(
        [pa.array([path] * len(records), type=pa.string()), records], names=["path", "record"]
    )


class _Committed(WriterCommitMessage):
    def __init__(self, path: str, n: int):
        self.path = path
        self.n = n


class TFRecordWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema: T.StructType):
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("tfrecord sink requires a path option")
        # the binary column to serialize: first BinaryType field
        binary_cols = [f.name for f in schema.fields if isinstance(f.dataType, T.BinaryType)]
        if not binary_cols:
            raise ValueError("tfrecord sink needs a binary column of record bytes")
        self.record_col = options.get("recordcol", binary_cols[0])

    def write(self, iterator) -> _Committed:
        """Frame the record column of each Arrow batch, one bounded slice
        per ``write``."""
        from pyspark import TaskContext

        idx = TaskContext.get().partitionId()
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir, f"part-{idx:05d}.tfrecord")
        n = 0
        with open(path, "wb") as fh:
            for batch in iterator:
                for rows in kernel.slices(batch.select([self.record_col])):
                    fh.write(kernel.frame(rows.column(0)))
                    n += rows.num_rows
        return _Committed(path, n)


class TFRecordDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tfrecord"

    def schema(self):
        return READ_SCHEMA

    def reader(self, schema) -> TFRecordReader:
        return TFRecordReader(self.options)

    def writer(self, schema, overwrite: bool) -> TFRecordWriter:
        return TFRecordWriter(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(TFRecordDataSource)
