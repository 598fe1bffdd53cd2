"""Structured Streaming variants of the engine's event-time operators.

The reference is a bounded Beam pipeline with event-time windows but no
streaming features (SURVEY §2.5: no watermarks/triggers/state). These are
the engine's §7 extensions: the same windowed aggregations over an unbounded
source. File-source streams over the test parquet drive them to completion
synchronously (processAllAvailable) so they are testable — and the results
match the batch plans bit-for-bit, which is the point: one logical plan,
batch or streaming physical execution.

Scale posture: watermark + append mode is the production shape (bounded
state); ``complete`` output mode is used for the bounded-input demo because
append only emits windows the watermark has passed — on a bounded file
source the tail windows would never flush.

Drain rule: every stream query runs through :func:`drain`. It pins the
state partitions (``STATE_PARTITIONS``) for the query's life and restores
the session's conf afterwards, stops the query however the drain ends, and
drops a memory sink's temp view before it returns, so a long-lived session
keeps neither a stream nor a view per query it ran.
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from videos_to_tfrecords_spark.materialize import materialized
from videos_to_tfrecords_spark.session import scratch_dir, session_conf

#: state-store partitions of every stream query. Spark takes a stream's
#: state partitioning from ``spark.sql.shuffle.partitions`` when the query
#: starts and keeps it for the query's life; a driver session's default of
#: 200 would mean 200 state stores for each of these bounded drains.
STATE_PARTITIONS = 8
#: numbers the memory sinks' query names, unique within the process
_sink_ids = itertools.count()

RAW_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),  # µs instant under UTC session zone
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the events parquet files in ``sf_dir`` that match
    ``glob``, normalized identically to the batch loader (timestamps are µs
    instants; the declared TimestampType schema reinterprets the file's
    naive µs values under the UTC session zone, matching ``load_table``).
    ``max_files_per_trigger`` splits the files over that many per
    microbatch."""
    reader = spark.readStream.schema(RAW_EVENTS_SCHEMA).option(
        "pathGlobFilter", glob  # the file source wants a directory
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(sf_dir)


def drain(
    df: DataFrame,
    mode: str,
    *,
    sink=None,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """Run the stream ``df`` in output ``mode`` until it has processed all
    its available input, then stop it.

    ``sink`` None writes to a memory sink and returns its rows as a frame;
    the sink's temp view is dropped before return (the frame, bound first,
    still reads the rows). A callable is a ``foreachBatch`` function and a
    string a sink format (e.g. ``"noop"``); drain then returns None.
    ``checkpoint`` is the query's checkpoint location.

    The query runs with ``STATE_PARTITIONS`` shuffle partitions. When the
    drain ends, also by an exception, the query is stopped and the
    session's own value restored."""
    spark = df.sparkSession
    writer = df.writeStream.outputMode(mode)
    name = None
    if sink is None:
        name = f"drained_{next(_sink_ids)}"
        writer = writer.format("memory").queryName(name)
    elif callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    with session_conf(spark, {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS)}):
        q = writer.start()
        try:
            q.processAllAvailable()
            return spark.table(name) if name else None
        finally:
            q.stop()
            if name:
                spark.catalog.dropTempView(name)


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling-window counts as a streaming query, drained to a
    memory sink. Same logical plan as the batch tumbling_window_stats."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    return drain(agg, "complete").select(
        (F.unix_micros("w.start") / 1_000_000).cast("long").alias("win_start_s"),
        "event_type",
        "n",
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (the LLM-pipeline dedup primitive under
    unbounded input): dropDuplicates on a key within a watermark — state
    stays bounded because expired keys age out. On the bounded test source
    the result equals batch distinct-per-key counts."""
    dedup = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "2 days")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )
    return drain(dedup, "complete")


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (§7 extension): F.session_window under a
    watermark — the streaming twin of the batch session_window_native
    query. State per (user, open session) closes when the gap passes the
    watermark; on the bounded test source the drained result equals the
    batch session_window aggregation bit-for-bit (asserted in
    tests/test_streaming.py)."""
    sess = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "30 days")
        .groupBy(F.session_window("ts", "1 hour").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("start_us"),
            F.unix_micros("w.end").alias("end_us"),
            "n_events",
        )
    )
    return drain(sess, "complete")


def streaming_tfrecord_sink(
    spark: SparkSession, sf_dir: str, output_dir: str, prefix: str = "stream"
) -> int:
    """Stream → TFRecord files via foreachBatch — the reference's sink
    (WriteTFRecord, preprocess.py:109-128) under unbounded input. Each
    microbatch encodes its rows to Example-style SequenceExample bytes and
    appends sharded .tfrecord files; the layout is
    ``{output_dir}/data/{prefix}/...-bNNN-...`` so shard names stay unique
    across batches. Returns the number of records written (drained,
    bounded source)."""
    from videos_to_tfrecords_spark.sources.tfrecord import (
        with_sequence_example,
        write_tfrecords,
    )

    total = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        protos = with_sequence_example(
            batch_df.select(
                F.col("event_id"),
                F.col("event_type"),
                (F.col("ts").cast("double") / 1e6).alias("ts_ms"),
            ),
            context_cols=["event_id", "event_type", "ts_ms"],
            list_cols=[],
        )
        total["n"] += write_tfrecords(
            protos, "proto", output_dir, f"{prefix}-b{batch_id:03d}"
        )

    stream = events_stream(spark, sf_dir).select(
        "event_id", "event_type", F.unix_micros(F.col("ts")).alias("ts")
    )
    drain(stream, "append", sink=sink)
    return total["n"]


def streaming_tfrecord_sink_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 × streaming on the executed plan (VERDICT r08 #7): the
    reference's TFRecord sink driven by a genuinely MULTI-batch stream.
    The events table is staged as three deterministic microbatch files
    (event_id % 3) and re-read with ``maxFilesPerTrigger=1``; every
    microbatch appends CRC32C-framed shards under its own batch prefix
    (``data/b{N}/``, 2 shards per batch — the append-safe layout
    ``streaming_tfrecord_sink`` documents), then ALL shards are read back
    distributed (``read_tfrecords_df`` raises on any bad payload CRC) and
    censused per event_type with the batch/shard layout pinned from the
    filesystem listing. The oracle recomputes everything from the raw
    events rows, so a dropped batch, a double-written shard, a framing
    bug, or a wrong record payload is a red row.

    Scale: each microbatch writes its own shards (one task per shard, no
    cross-batch coordination — exactly how a production stream appends to
    a TFRecord dataset); the read-back is one task per shard file."""
    from videos_to_tfrecords_spark.sources.tables import load_table
    from videos_to_tfrecords_spark.sources.tfrecord import (
        read_tfrecords_df,
        tfrecord_files,
        write_tfrecords,
    )

    base = scratch_dir("stfsink", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    os.makedirs(src)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    for i in range(3):
        tmp = os.path.join(base, f"tmp{i}")
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = [
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        ][0]
        os.replace(os.path.join(tmp, part), os.path.join(src, f"b{i}.parquet"))
        shutil.rmtree(tmp)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rec = batch_df.select(
            F.encode(
                F.concat_ws(
                    "\t",
                    F.col("event_id").cast("string"),
                    "event_type",
                    F.round(F.col("value") * 100).cast("long").cast("string"),
                ),
                "UTF-8",
            ).alias("rec")
        ).repartition(2)
        if rec.rdd.isEmpty():  # drain may fire a trailing empty batch
            return
        write_tfrecords(rec, "rec", out, f"b{batch_id}")

    drain(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
        "append",
        sink=sink,
        checkpoint=os.path.join(base, "ck"),
    )

    data = os.path.join(out, "data")
    layout = (
        tfrecord_files(spark, data)
        .agg(
            F.countDistinct(
                F.element_at(F.split("path", "/"), -2)
            ).cast("long").alias("n_batches"),
            F.count("*").cast("long").alias("n_shards"),
        )
    )
    dec = read_tfrecords_df(spark, data).select(
        F.octet_length("record").cast("long").alias("blen"),
        F.split(F.decode(F.col("record"), "UTF-8"), "\t").alias("f"),
    )
    cen = dec.select(
        F.col("f").getItem(0).cast("long").alias("event_id"),
        F.col("f").getItem(1).alias("event_type"),
        F.col("f").getItem(2).cast("long").alias("cents"),
        "blen",
    ).groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_records"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.sum("blen").cast("long").alias("bytes_sum"),
    )
    out_df = cen.crossJoin(F.broadcast(layout)).select(
        "event_type", "n_records", "id_sum", "cents_sum", "bytes_sum",
        "n_batches", "n_shards",
    )
    # pin eagerly (bounded: ≤ event-type rows): the NEXT invocation
    # rmtree's `base`, and this frame lazily reads the shard files
    with materialized() as m:
        return m.result(out_df)


def streaming_sessionize_stateful(
    spark: SparkSession,
    src_dir: str,
    gap_seconds: int = 3600,
    schema: T.StructType | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Custom stateful streaming SESSIONIZATION with event-time timeout —
    the full applyInPandasWithState lifecycle the reference never needed
    (SURVEY §2.5): per-user open-session state (start, last, count),
    sessions close EITHER when a later event arrives past the gap (emitted
    inline) OR when the WATERMARK passes last+gap (state timeout fires
    with an empty iterator and hasTimedOut=True — the unbounded-input
    path). State is bounded by open sessions only.

    Reads a parquet DIRECTORY (event_id, ts µs-timestamp, user_id rows);
    tests drive the tail flush by appending a far-future sentinel file,
    which advances the watermark — exactly how a production bounded replay
    drains its last sessions. Returns the drained session table
    (user_id, start_us, end_us, n_events), sentinel user excluded by the
    caller."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "start_us": [start], "end_us": [last], "n_events": [n]}
            )
            return
        ts_us = []
        for pdf in pdfs:
            ts_us.extend(int(t.value) // 1000 for t in pd.to_datetime(pdf["ts"]))
        ts_us.sort()
        out = {"user_id": [], "start_us": [], "end_us": [], "n_events": []}
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = 0, 0, 0
        for t in ts_us:
            if n == 0:
                start = last = t
                n = 1
            elif t - last > gap_us:
                out["user_id"].append(key[0])
                out["start_us"].append(start)
                out["end_us"].append(last)
                out["n_events"].append(n)
                start = last = t
                n = 1
            else:
                last = max(last, t)
                n += 1
        if n > 0:
            state.update((start, last, n))
            # close the open session when the watermark passes last + gap
            state.setTimeoutTimestamp((last + gap_us) // 1000 + 1)
        elif state.exists:
            state.remove()
        if out["user_id"]:
            yield pd.DataFrame(out)

    stream = (
        spark.readStream.schema(
            schema
            or T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts", T.TimestampType()),
                    T.StructField("user_id", T.LongType()),
                ]
            )
        )
        .parquet(src_dir)
        .withWatermark("ts", "0 seconds")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, start_us long, end_us long, n_events long",
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # an explicit checkpoint makes the state store inspectable — and at
    # 100× event volume the store should be RocksDB
    # (spark.sql.streaming.stateStore.providerClass=
    # ...state.RocksDBStateStoreProvider, a session conf read at query
    # start): open-session state then lives on executor DISK with an
    # in-memory block cache instead of an all-in-heap HashMap, so state
    # size is bounded by disk, not executor memory. Pytest runs the full
    # lifecycle under both providers.
    return drain(sessions, "append", checkpoint=checkpoint_dir)


def streaming_stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    window_seconds: int = 3600,
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the streaming join shape the
    suite lacked: view events join click events of the SAME user with the
    click inside (view_ts, view_ts + window]. Both sides carry watermarks
    and the join condition time-bounds the click relative to the view, so
    Spark derives a state-eviction bound for BOTH join buffers (state ∝
    events inside the watermark horizon, not the whole stream) — the
    property that makes the join runnable on an unbounded 100 TB/day feed.
    Equi-key user_id keeps it a shuffle-partitioned hash join.

    Both streams read the same file source filtered by type (a production
    deploy would read two topics). Drained synchronously; result matches
    the batch interval join by construction (processAllAvailable sees all
    input, so no row is dropped by the watermark — late-data EVICTION
    correctness vs the batch twin is what the pytest checks)."""
    ev = events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")
        ),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        F.unix_micros("view_ts").alias("view_us"),
        F.unix_micros("click_ts").alias("click_us"),
    )
    return drain(joined, "append")


def streaming_cms_counts(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 256,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Count-Min sketch built AS A STREAMING AGGREGATION over the event
    stream (items = user ids): the stateless explode emits ``depth`` cells
    per row and the streaming state is exactly the counter table —
    depth·width rows, CONSTANT in stream volume. That bounded-state
    property is what makes sketches the streaming answer to frequency
    questions (an exact per-item count would grow state with the key
    universe). Complete-mode memory sink; mergeability across microbatches
    is Spark's streaming-agg partial merge itself (pytest drives a
    multi-file source through several microbatches and compares to the
    batch sketch).
    """
    from videos_to_tfrecords_spark.functions.hashing import h15

    item = F.col("user_id").cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(h15(item, salt=f"cms{d}"), F.lit(width)).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    agg = (
        events_stream(spark, sf_dir, glob, max_files_per_trigger)
        .select(F.explode(cells).alias("cell"))
        .groupBy(F.col("cell.d").alias("d"), F.col("cell.bucket").alias("bucket"))
        .agg(F.count("*").alias("c"))
    )
    return drain(agg, "complete").select("d", "bucket", "c")


def streaming_drift_histogram(
    spark: SparkSession,
    sf_dir: str,
    midpoint_us2: int,
    bins: int = 10,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Distribution-drift monitor AS A STREAMING AGGREGATION: every event
    lands in a (half, value-bin) cell — half 0 if 2·epoch_us(ts) <
    ``midpoint_us2`` (the pre-computed reference/current split), half 1
    otherwise — and the streaming state is the 2·``bins`` cell-count
    table, CONSTANT in stream volume (the same bounded-state argument as
    streaming_cms_counts). Drained on a bounded source the histogram
    equals the batch build exactly, so the downstream chi-square drift
    statistic is oracle-checked end-to-end through the streaming path.
    """
    cells = events_stream(spark, sf_dir, glob, max_files_per_trigger).select(
        F.expr(
            f"CAST(least(greatest(CAST(round(value * 100) AS BIGINT) div 1000, 0),"
            f" {bins - 1}) AS BIGINT)"
        ).alias("bin"),
        F.when(F.unix_micros("ts") * 2 < F.lit(midpoint_us2), F.lit(0))
        .otherwise(F.lit(1))
        .alias("h"),
    )
    agg = cells.groupBy("h", "bin").agg(F.count("*").alias("c"))
    return drain(agg, "complete").select("h", "bin", "c")


def streaming_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    t_ratio: int = 100,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Heavy-hitter monitor AS A STREAMING AGGREGATION over the event
    value-bucket domain: state is the per-bucket running count — bounded by
    the VALUE DOMAIN (a few hundred integer buckets), not stream volume, so
    the streaming agg is the exact answer with constant state (the same
    bounded-state argument as streaming_cms_counts, with the bound coming
    from the key domain instead of the sketch shape; for an unbounded key
    domain the batch engine's Misra–Gries candidate stage —
    operators/sketches.py — is the state bound you'd port into
    applyInPandasWithState). Drained on a bounded source, filtering the
    final table at share > 1/t_ratio is bit-equal to the batch
    heavy_hitters_mg query, which is how it shares that oracle."""
    agg = (
        events_stream(spark, sf_dir, glob, max_files_per_trigger)
        .select(F.floor("value").cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    counts = drain(agg, "complete").select("bucket", "freq")
    tot = counts.groupBy().agg(F.sum("freq").cast("long").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("freq") * t_ratio > F.col("n_total"))
        .select(
            "bucket",
            "freq",
            F.expr("(1000000 * freq) div n_total").cast("long").alias("share_ppm"),
        )
    )


def streaming_upsert_foreachbatch(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    target_path: str | None = None,
) -> DataFrame:
    """foreachBatch → MERGE-upsert sink — the production lakehouse pattern
    (Structured Streaming's documented recipe for idempotent upserts into
    a keyed table; with Delta/Iceberg the body would be one MERGE INTO):
    each microbatch aggregates its increment per (user_id, event_type) and
    full-outer-merges it into the running target table, written
    copy-on-write as target/v{batch_id} — exactly the versioned-snapshot
    shape a table format maintains, so replayed batches overwrite their
    own version instead of double-counting (idempotence). Drained on the
    bounded source, the final version equals the batch groupBy census —
    hash-checked by the registry oracle; multi-batch equivalence is
    asserted in tests/test_streaming.py with maxFilesPerTrigger=1.

    Scale: the increment is a partial-agg shuffle of the batch only; the
    merge joins (keys-sized) increment against (keys-sized) current state
    — never raw events; a real deployment swaps the parquet-version dance
    for MERGE INTO and gets the same plan."""
    target = target_path or scratch_dir("fbu", sf_dir)
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(target, exist_ok=True)

    stream = events_stream(spark, sf_dir, glob, max_files_per_trigger).select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    versions: list[int] = []

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        inc = batch_df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n"), F.sum("cents").alias("value_cents")
        )
        if versions:
            cur = sess.read.parquet(os.path.join(target, f"v{versions[-1]}"))
            merged = (
                cur.alias("c")
                .join(inc.alias("i"), ["user_id", "event_type"], "full_outer")
                .select(
                    "user_id",
                    "event_type",
                    (
                        F.coalesce(F.col("c.n"), F.lit(0))
                        + F.coalesce(F.col("i.n"), F.lit(0))
                    ).alias("n"),
                    (
                        F.coalesce(F.col("c.value_cents"), F.lit(0))
                        + F.coalesce(F.col("i.value_cents"), F.lit(0))
                    ).alias("value_cents"),
                )
            )
        else:
            merged = inc
        merged.write.mode("overwrite").parquet(
            os.path.join(target, f"v{batch_id}")
        )
        versions.append(batch_id)

    drain(stream, "append", sink=upsert)
    if not versions:
        return spark.createDataFrame(
            [], "user_id long, event_type string, n long, value_cents long"
        )
    return spark.read.parquet(os.path.join(target, f"v{versions[-1]}")).select(
        "user_id",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("value_cents").cast("long").alias("value_cents"),
    )


def streaming_hll_registers(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Portable HyperLogLog registers (p=6, 64 registers) built AS A
    STREAMING AGGREGATION over event user ids: per event one (idx, rho)
    cell from the h15 hash, streaming state = groupBy(idx).max(rho) — 64
    rows, CONSTANT in stream volume (the sketch-state argument of
    streaming_cms_counts, distinct-count edition). Drained on a bounded
    source the registers equal the batch build bit-for-bit, so the
    harmonic estimate downstream is oracle-checked through the streaming
    path; max() makes microbatch merge order irrelevant."""
    from videos_to_tfrecords_spark.functions.hashing import h15

    two54 = 18014398509481984  # 2^54
    hv = h15(F.col("user_id").cast("string"), salt="hll")
    agg = (
        events_stream(spark, sf_dir, glob, max_files_per_trigger)
        .select(hv.alias("hv"))
        .select(
            F.expr(f"hv div {two54}").alias("idx"),
            F.expr(
                f"CASE WHEN hv % {two54} = 0 THEN 55"
                f" ELSE 55 - length(bin(hv % {two54})) END"
            ).alias("r"),
        )
        .groupBy("idx")
        .agg(F.max("r").alias("m"))
    )
    return drain(agg, "complete").select("idx", "m")


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the enrichment shape missing between the
    stream-stream join and the dimension tables: the unbounded event
    stream joins a bounded customer dimension (broadcast-able; Spark plans
    it map-side, no stream state grows from the static side), then a daily
    tumbling revenue rollup per market segment. Complete-mode memory sink,
    drained synchronously; hash-matches the batch join+window oracle."""
    from videos_to_tfrecords_spark.sources.tables import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 day").alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )
    return drain(enriched, "complete").select(
        (F.unix_micros("w.start") / 1_000_000).cast("long").alias("win_start_s"),
        "c_mktsegment",
        "n_events",
        "value_cents",
    )


def streaming_late_data_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP, exercised for real and hash-checked — the
    one streaming semantic a single-trigger source can never show (every
    other stream in this suite drains its bounded input in one batch, so
    nothing is ever late). Here the events table is split into THREE
    microbatch files with deterministic content and arrival order
    (distinct ascending mtimes + maxFilesPerTrigger=1): batch 0 = the
    first half of the day range minus a straggler set, batch 1 = third
    quarter (its commit advances the watermark past every straggler
    window's end and EVICTS those windows in append mode), batch 2 = the
    rest PLUS the stragglers (event_id % 17 == 0, day ≤ half-point − 2 —
    strictly inside the evicted region, so no boundary ulp decides a
    drop). The stragglers arrive after their day-windows were finalized
    and are DROPPED by the watermark (numRowsDroppedByWatermark > 0 on
    the last batch); emitted day windows therefore count every row
    EXCEPT the stragglers, and only windows whose end ≤ the final
    watermark appear — both rules replayed exactly by the DuckDB oracle,
    so a wrong drop (either direction) is a red row.

    Scale: the census is the standard watermarked tumbling aggregate
    (state ∝ open windows); the split-write is the test harness, not the
    operator. Day windows come from F.window, which buckets the epoch
    microseconds directly — session-timezone-proof."""
    import glob as _glob

    from videos_to_tfrecords_spark.sources.tables import load_table

    base = scratch_dir("late", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    os.makedirs(src)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "value",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
    )
    dmin, dmax = ev.agg(F.min("d"), F.max("d")).collect()[0]
    h_max = dmin + (dmax - dmin) // 2
    q3 = dmin + (3 * (dmax - dmin)) // 4
    straggler = (F.col("event_id") % 17 == 0) & (F.col("d") <= h_max - 2)
    parts = [
        ev.filter((F.col("d") <= h_max) & ~straggler),
        ev.filter((F.col("d") > h_max) & (F.col("d") <= q3)),
        ev.filter((F.col("d") > q3) | straggler),
    ]
    for i, p in enumerate(parts):
        tmp = os.path.join(base, f"tmp{i}")
        p.select("event_id", "ts", "value").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"b{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 1000,) * 2)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
    )
    return drain(agg, "append").select(
        F.expr("unix_micros(w.start) div 86400000000").alias("day"),
        F.col("n").cast("long").alias("n"),
        F.col("value_cents").cast("long").alias("value_cents"),
    )


def streaming_stream_stream_left_outer(
    spark: SparkSession,
    sf_dir: str,
    window_seconds: int = 3600,
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the other half of the
    join semantic streaming_stream_stream_join covers: a view with no
    click inside its (view_ts, view_ts + 1 h] horizon is emitted
    NULL-PADDED, but only once the global watermark (min of both sides'
    max event time, minus the 1 h delay) passes the view's join bound —
    Spark can then prove no future click can match, evicts the state row,
    and releases the outer result. Views whose bound is still inside the
    final watermark horizon are withheld forever on a bounded source —
    the oracle replays exactly that emission rule (verified 0 knife-edge
    rows at every test SF: no view bound equals the watermark to the µs),
    plus the inner matches, so both the match and the expiry logic
    hash-check. Unmatched click_id surfaces as −1 (not NULL) so the
    column stays integral on both engines."""
    ev = events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")
        ),
        "leftOuter",
    ).select(
        "view_id",
        F.coalesce(F.col("click_id"), F.lit(-1)).cast("long").alias("click_id"),
        "user_id",
        F.unix_micros("view_ts").alias("view_us"),
    )
    return drain(joined, "append")


def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 3.5+, SPARK-42931) on a real
    3-microbatch source, hash-checked — the BOUNDED-STATE streaming dedup:
    unlike ``dropDuplicates`` (state per key forever, reference has no
    analog — §7 extension), state expires ``delay`` past each key's event
    time, so a key seen again after expiry is emitted AGAIN. Semantics
    probed on this Spark and replayed exactly by the oracle:

    - first-seen key → emit the row, arm ``expiry = event_time + delay``;
    - duplicate → drop WITHOUT refreshing state, even when the entry is
      already past the watermark (eviction is lazy: a key whose expiry <
      wm_n is still present while batch n's rows are processed);
    - end of batch n evicts entries with ``expiry < wm_n``, where wm_n is
      the watermark DURING batch n (max event time over batches < n, minus
      delay) — so a batch-2 re-arrival re-emits iff its batch-0 entry
      expired by wm_1: ``t0 + 61h < max_ts(b0) − 61h``, i.e. the key first
      appeared ≥ 6 days before batch 0's newest row on the day grid.

    Harness: events are day-truncated and split into three contiguous
    day-tertile files (ascending mtimes, maxFilesPerTrigger=1); each
    (user_id, event_type) key is pre-collapsed to ONE row per batch (min
    day + raw-row count payload) because within-batch processing order
    across partitions is nondeterministic. The 61 h delay puts expiries at
    day+13h and watermarks at day−13h instants, so no comparison ever
    lands on a knife edge between ``<`` and ``<=``.

    Scale: state is one row per key alive within the delay horizon —
    bounded by delay × key arrival rate, the API's whole point versus
    ``dropDuplicates``'s unbounded state. The file split is test harness,
    not operator."""
    import glob as _glob

    from videos_to_tfrecords_spark.sources.tables import load_table

    base = scratch_dir("ddww", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    os.makedirs(src)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
    )
    dmin, dmax = ev.agg(F.min("d"), F.max("d")).collect()[0]
    t1 = dmin + (dmax - dmin) // 3
    t2 = dmin + 2 * (dmax - dmin) // 3
    lab = ev.withColumn(
        "b",
        F.when(F.col("d") <= t1, F.lit(0))
        .when(F.col("d") <= t2, F.lit(1))
        .otherwise(F.lit(2)),
    )
    arr = lab.groupBy("user_id", "event_type", "b").agg(
        F.min("d").alias("dfirst"), F.count("*").alias("cnt")
    )
    for i in range(3):
        tmp = os.path.join(base, f"tmp{i}")
        arr.filter(F.col("b") == i).select(
            "user_id",
            "event_type",
            F.timestamp_micros(F.col("dfirst") * 86400000000).alias("ts"),
            F.col("cnt").cast("long").alias("cnt"),
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"b{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 1000,) * 2)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    dedup = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "61 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    emitted = drain(dedup, "append").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
        "cnt",
    )
    return (
        emitted.withColumn(
            "b",
            F.when(F.col("d") <= t1, F.lit(0))
            .when(F.col("d") <= t2, F.lit(1))
            .otherwise(F.lit(2)),
        )
        .groupBy("event_type", "b")
        .agg(
            F.count("*").cast("long").alias("n_emitted"),
            F.sum("d").cast("long").alias("day_sum"),
            F.sum("cnt").cast("long").alias("cnt_sum"),
        )
        .select("event_type", F.col("b").cast("long").alias("b"),
                "n_emitted", "day_sum", "cnt_sum")
    )


def statestore_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store BATCH reader (SPARK-45511, the Spark 4 state data
    source): a checkpointed streaming aggregation is drained, then its raw
    operator state is read back as a plain DataFrame with
    ``spark.read.format("statestore")`` — the production debugging/ops
    surface for inspecting (and auditing) live streaming state without
    stopping the job. After a full drain the aggregation state IS the
    complete batch aggregate, so every (key → agg buffer) entry the
    reader surfaces is value-hash-checked against an oracle computed
    straight from the events table: a wrong buffer field, a dropped key,
    or a partition-routing bug in the state files is a red row.

    Scale: state entries ∝ distinct (event_type, bucket) keys — bounded
    at 5 × 32 by construction, and the reader itself is partition-
    parallel (one task per state-store partition, ``STATE_PARTITIONS``),
    so reading production-sized state scales with the state layout, not
    the input that built it."""
    from videos_to_tfrecords_spark.sources.tables import load_table

    base = scratch_dir("stst", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ck")

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("user_id") % 32).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.write.parquet(src)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    agg = (
        spark.readStream.schema(schema)
        .parquet(src)
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("cents"),
        )
    )
    drain(agg, "update", sink="noop", checkpoint=ckpt)

    st = spark.read.format("statestore").load(ckpt)
    out = st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("key.bucket").cast("long").alias("bucket"),
        F.col("value.count").cast("long").alias("n"),
        F.col("value.sum").cast("long").alias("cents"),
    )
    # Pin the (bounded: ≤ 5×32 keys) result eagerly — the NEXT invocation
    # rmtree's `base`, so a caller holding this DataFrame lazily across a
    # re-invocation (e.g. a double-pass harness) must not re-read deleted
    # state files.
    with materialized() as m:
        return m.result(out)
