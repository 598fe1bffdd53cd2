"""One benchmark workload in a fresh process (started by perfbench/run.py).

Times calls into the package's public functions from outside: a set-up, one
cold pass, then a fixed number of whole warm passes sized from ``--seconds``,
then the untimed output checks. With ``--trace 1`` the Spark event log is on and every
call runs under a job description naming its span, so each Spark job and
task maps back to the call that caused it; the extra traced probes (prefix
cuts, Catalyst phases, floor and scan probes) run only then.

Writes one JSON result to ``--out``; run.py turns it into the printed line.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

from eventlog import PYTHON_METRICS, TASK_METRICS, span_metrics

T_SPAWN = float(os.environ["PERFBENCH_T0"])  # CLOCK_MONOTONIC when run.py spawned us
sys.path.insert(0, os.getcwd())  # the checkout root: the package and tools/


# queries_mix, short part: joins, aggregates, windows and set operations with
# no Python workers and no materialization; plan building, Catalyst and the
# fixed per-query floor are a large share of their time
MIX_SQL = (
    "pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q9_product_profit",
    "tpch_q18_large_volume",
    "top_orders_per_customer",
    "order_status_set_ops",
)
# queries_mix, heavy part: a multi-second graph path dominated by eager edge
# checkpoints (which it leaves persisted) and iterative shuffles
MIX_HEAVY = ("graph_hits_trade",)
# warm pass wall time on the reference host (4 cores, 15.7 GiB). The warm
# phase is the fewest whole passes that take --seconds there, so every run
# does the same work: a slower machine takes longer instead of doing fewer
# passes, which would also drop the fastest, latest passes from the medians.
NOMINAL_PASS_S = {"pipeline_crop": 5.0, "queries_mix": 9.0}


def warm_passes(cfg) -> int:
    return max(1, math.ceil(cfg.seconds / NOMINAL_PASS_S[cfg.workload]))


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory. In a traced
    run each span also sets the Spark job description to ``<phase>/<name>``
    (phase: setup, cold, warm or trace), so the event log groups jobs and
    tasks by the span and pass that caused them."""

    def __init__(self, spark, run_id: str, describe: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.describe = describe
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _describe(self, name: str | None) -> None:
        if self.describe:
            self.sc.setJobDescription(f"{self.phase}/{name}" if name else None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._describe(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._describe(parent)
            self.spans.append(
                {
                    "name": name, "start": start, "end": end, "parent": parent,
                    "run": self.run_id, "phase": self.phase,
                }
            )

    def last(self, name: str) -> float:
        span = next(s for s in reversed(self.spans) if s["name"] == name)
        return span["end"] - span["start"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median_floor(spark, n: int = 5) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        noop(spark.range(1))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ------------------------------------------------------------ pipeline_crop


def pipeline_args(manifest: str, out_dir: str):
    from videos_to_tfrecords_spark import cli

    return cli.parse_arguments(
        [
            "--input-manifest", manifest, "--output-dir", out_dir,
            "--mode", "crop_video", "--sequence-length", "2000", "--period", "1000",
            "--cloud",
        ]
    )


def pipeline_prefixes(spark, args):
    """The public functions ``cli.build_pipeline`` calls, composed in the same
    order, as (span name, lazy DataFrame) prefixes. The final sharded write
    is timed separately by ``pipeline_trace``."""
    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.ml.inference import batch_inference, linear_stub_model
    from videos_to_tfrecords_spark.ml.video import decode_videos
    from videos_to_tfrecords_spark.operators.filenames import create_filenames, extract_label
    from videos_to_tfrecords_spark.operators.sequence import crop_video, format_features
    from videos_to_tfrecords_spark.operators.shuffle import shuffle
    from videos_to_tfrecords_spark.operators.split import with_random_split
    from videos_to_tfrecords_spark.schema import CONTEXT_COLUMNS, LIST_COLUMNS
    from videos_to_tfrecords_spark.sources.tfrecord import with_sequence_example

    with open(args.input_manifest) as fh:
        files = [line.strip() for line in fh if line.strip()]
    labeled = extract_label(create_filenames(spark, files))
    stamped = with_random_split(labeled, args.train, args.val, args.test, seed=args.seed)
    frames = decode_videos(stamped, skip_msec=args.frame_sample_rate, cloud=args.cloud)
    embedded = batch_inference(
        frames.drop("height", "width", "channels"), "image", linear_stub_model(12, 8),
        drop_input=True,
    )
    length_ms = F.lit(1000.0) * F.col("frame_total") / F.col("frame_per_sec")
    grouped = crop_video(
        embedded.withColumn("length_ms", length_ms),
        ts_ms_col="timestamp_ms", key_cols=["filename"], size_ms=args.sequence_length,
        slide_ms=args.period, length_ms_col="length_ms", partial_policy="reference",
    )
    seqs = format_features(
        grouped,
        context_cols=["label", "dataset", "frame_per_sec", "frame_total"],
        list_cols=["logits", "timestamp_ms"],
    )
    protos = with_sequence_example(
        seqs,
        context_cols=["filename", "label", "dataset", "frame_per_sec", "frame_total"],
        list_cols=["logits", "timestamp_ms"],
        context_kinds=CONTEXT_COLUMNS, list_kinds=LIST_COLUMNS,
    )
    shuffled = shuffle(protos.select("dataset", "proto"), seed=args.seed)
    return [
        ("operators.filenames", labeled),
        ("operators.split", stamped),
        ("ml.decode", frames),
        ("ml.inference", embedded),
        ("operators.sequence", seqs),
        ("sources.encode", protos),
        ("operators.shuffle", shuffled),
    ]


def pipeline_trace(spark, tracer: Tracer, args, out_dir: str) -> dict:
    """Prefix cuts: materialize each prefix with a noop write under its own
    span; a layer's self time is its prefix time minus the previous one."""
    from videos_to_tfrecords_spark.sources.tfrecord import write_split_tfrecords

    with tracer.span("plans.build"):
        prefixes = pipeline_prefixes(spark, args)
    cum = {}
    with tracer.span("trace.prefix_cuts"):
        for name, df in prefixes:
            with tracer.span(name):
                noop(df)
            cum[name] = tracer.last(name)
        shuffled = prefixes[-1][1].persist()
        try:
            with tracer.span("sources.tfrecord_write"):
                counts = write_split_tfrecords(shuffled, "proto", "dataset", out_dir)
            cum["sources.tfrecord_write"] = tracer.last("sources.tfrecord_write")
        finally:
            shuffled.unpersist(blocking=False)
    names = [n for n, _ in prefixes] + ["sources.tfrecord_write"]
    self_s = {n: cum[n] - (cum[names[i - 1]] if i else 0.0) for i, n in enumerate(names)}
    with tracer.span("untimed.count"):
        frames_out = dict(prefixes)["ml.decode"].count()
    files = glob.glob(os.path.join(out_dir, "data", "*", "*.tfrecord"))
    return {
        "self_s": self_s,
        "build_s": tracer.last("plans.build"),
        "frames_out": frames_out,
        # one record per sequence, so the write's count is the sequence count
        "sequences_out": sum(counts.values()),
        "records_written": sum(counts.values()),
        "bytes_written": sum(os.path.getsize(f) for f in files),
        "shards_written": len(files),
    }


def check_pipeline_output(out_dir: str, counts: dict[str, int]) -> list[str]:
    """Every record passes CRC verification and decodes; per-split record
    counts equal what build_pipeline returned; each record's ``dataset``
    context matches its split directory."""
    from videos_to_tfrecords_spark.sources.tfrecord import decode_sequence_example, read_records

    problems = []
    seen = {}
    for split in counts:
        split_dir = os.path.join(out_dir, "data", split.lower())
        n = 0
        for path in sorted(glob.glob(os.path.join(split_dir, "*.tfrecord"))):
            try:
                for rec in read_records(path, verify=True):
                    ctx, _lists = decode_sequence_example(rec)
                    if ctx["dataset"][0].decode().lower() != split.lower():
                        problems.append(f"{path}: dataset {ctx['dataset'][0]!r}")
                    n += 1
            except (ValueError, KeyError, IndexError) as e:
                problems.append(f"{path}: {e}")
        seen[split] = n
    if seen != counts:
        problems.append(f"records on disk {seen} != returned {counts}")
    return problems


def run_pipeline(spark, tracer: Tracer, cfg) -> dict:
    from videos_to_tfrecords_spark import cli

    res = {"ops": [], "failed": 0, "attempted": 0, "problems": []}
    outs = []

    def one_pass(i: int) -> float:
        out = os.path.join(cfg.work, f"pass{i}")
        res["attempted"] += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("cli.build_pipeline"):
                counts = cli.build_pipeline(spark, pipeline_args(cfg.manifest, out))
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            res["failed"] += 1
            res["problems"].append(f"pass {i}: {type(e).__name__}: {e}"[:300])
        else:
            outs.append((out, counts))
        return time.perf_counter() - t0

    tracer.phase = "cold"
    res["cold_s"] = one_pass(0)
    tracer.phase = "warm"
    warm_t0 = time.perf_counter()
    for i in range(warm_passes(cfg)):
        res["ops"].append(one_pass(i + 1))
    res["warm_s"] = time.perf_counter() - warm_t0
    res["items_done"] = cfg.items * len(res["ops"])
    if cfg.trace:
        tracer.phase = "trace"
        res["floor_s"] = median_floor(spark)
        traced_out = os.path.join(cfg.work, "traced")
        res["layers"] = pipeline_trace(
            spark, tracer, pipeline_args(cfg.manifest, traced_out), traced_out
        )
        # one whole build_pipeline right after the cuts: the parts reconcile
        # against it
        res["ops_traced"] = one_pass(len(res["ops"]) + 1)
    # untimed output checks, one per pass
    first = outs[0][1] if outs else None
    for out, counts in outs:
        res["attempted"] += 1
        problems = check_pipeline_output(out, counts)
        if counts != first:
            problems.append(f"{out}: counts {counts} != first pass {first}")
        if problems:
            res["failed"] += 1
            res["problems"].extend(problems[:5])
        shutil.rmtree(out, ignore_errors=True)
    return res


# ------------------------------------------------------------ query workloads


def storage_left(spark) -> tuple[int, int]:
    """Persistent RDD count and their in-memory + on-disk bytes."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return jsc.getPersistentRDDs().size(), sum(i.memSize() + i.diskSize() for i in infos)


def catalyst_phases(df) -> dict[str, float]:
    """Force the DataFrame's own optimization and physical planning and read
    the QueryPlanningTracker phase times (seconds)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def oracle_check(results: dict, data_dir: str, work: str) -> list[str]:
    """Hash-compare each collected result with its registered DuckDB oracle
    (rowcount, column names, numeric class, value hash), as
    tools/check_oracle.py does. A query without an oracle must return rows.
    Returns one problem line per failed query."""
    import duckdb
    from check_oracle import TABLES, dtype_mismatches, table_hash

    from videos_to_tfrecords_spark.plans.registry import ORACLES

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=1")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    problems = []
    for name, (scols, stypes, srows) in results.items():
        if name not in ORACLES:
            bad = [] if srows else ["no rows"]
        else:
            rel = con.sql(ORACLES[name])
            dcols = list(rel.columns)
            dtypes = {c: str(t) for c, t in zip(rel.columns, rel.types)}
            drows = rel.fetchall()
            bad = dtype_mismatches(scols, stypes, srows, dcols, dtypes, drows)
            if len(srows) != len(drows):
                bad.append(f"rowcount {len(srows)} vs {len(drows)}")
            elif sorted(scols) != sorted(dcols):
                bad.append(f"columns {sorted(scols)} vs {sorted(dcols)}")
            elif table_hash(scols, srows) != table_hash(dcols, drows):
                bad.append("value hash differs")
        if bad:
            problems.append(f"{name}: {'; '.join(bad)}")
    con.close()
    return problems


def run_queries(spark, tracer: Tracer, cfg) -> dict:
    import __spark_entry__  # noqa: F401 - importing registers every query module
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    names = [*MIX_SQL, *MIX_HEAVY]
    rng = random.Random(cfg.seed)
    res = {"ops": [], "op_names": [], "failed": 0, "attempted": 0, "problems": []}
    layers = dict.fromkeys(
        ("build_s", "catalyst_s", "exec_s", "analysis_s", "optimize_s", "physical_s"), 0.0
    ) | {"persisted_rdds_left": 0, "storage_bytes_left": 0}
    traced = False
    cold = True
    collected: dict[str, tuple] = {}

    def one_op(name: str) -> float | None:
        res["attempted"] += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("plans.build"):
                df = QUERIES[name](spark, cfg.data)
            if traced:
                with tracer.span("plans.catalyst"):
                    phases = catalyst_phases(df)
            with tracer.span("plans.exec"):
                if cold:
                    rows = [tuple(r) for r in df.collect()]
                else:
                    noop(df)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            res["failed"] += 1
            res["problems"].append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None
        wall = time.perf_counter() - t0
        if cold:
            types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            collected[name] = (df.columns, types, rows)
        if traced:
            for k in ("build", "catalyst", "exec"):
                layers[f"{k}_s"] += tracer.last(f"plans.{k}")
            layers["analysis_s"] += phases["analysis"]
            layers["optimize_s"] += phases["optimization"]
            layers["physical_s"] += phases["planning"]
            n_rdds, n_bytes = storage_left(spark)
            layers["persisted_rdds_left"] = max(layers["persisted_rdds_left"], n_rdds)
            layers["storage_bytes_left"] = max(layers["storage_bytes_left"], n_bytes)
        return wall

    def one_pass() -> list[tuple[str, float]]:
        order = list(names)
        rng.shuffle(order)
        return [(n, w) for n in order if (w := one_op(n)) is not None]

    # the cold pass collects each result (what a driver query pays) and the
    # untimed oracle check compares those rows
    tracer.phase = "cold"
    t0 = time.perf_counter()
    one_pass()
    res["cold_s"] = time.perf_counter() - t0
    cold = False
    problems = oracle_check(collected, cfg.data, cfg.work)
    res["attempted"] += len(collected)
    res["failed"] += len(problems)
    res["problems"].extend(problems)
    if cfg.trace:
        from videos_to_tfrecords_spark.sources.tables import TABLES, load_table

        tracer.phase = "trace"
        res["floor_s"] = median_floor(spark)
        with tracer.span("sources.scan"):
            for t in TABLES:
                noop(load_table(spark, cfg.data, t))
        res["scan_s"] = tracer.last("sources.scan")
        traced = True
    tracer.phase = "warm"
    warm_t0 = time.perf_counter()
    passes = warm_passes(cfg)
    for _ in range(passes):
        res["op_names"].extend(one_pass())
    res["warm_s"] = time.perf_counter() - warm_t0
    res["ops"] = [w for _n, w in res["op_names"]]
    res["items_done"] = len(res["ops"])
    res["passes"] = passes
    res["layers"] = layers
    return res


# ----------------------------------------------------------------- metrics

PIPELINE_SPANS = (
    "operators.filenames",
    "operators.split",
    "ml.decode",
    "ml.inference",
    "operators.sequence",
    "sources.encode",
    "operators.shuffle",
    "sources.tfrecord_write",
)
QUERY_SPANS = ("plans.build", "plans.exec")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    return "count"


#: every per-layer metric, in BENCHMARK.json order; a traced run reports all
#: of them, 0 for a layer its workload does not exercise
LAYER_METRICS = (
    "session.get_spark_s", "session.floor_s",
    "plans.build_s", "plans.catalyst_s", "plans.exec_s", "plans.eager_jobs",
    "plans.analysis_s", "plans.optimize_s", "plans.physical_s",
    "plans.sql_op_s", "plans.heavy_op_s",
    "operators.persisted_rdds_left", "operators.storage_bytes_left",
    "operators.filenames_s", "operators.split_s", "operators.sequence_s",
    "operators.shuffle_s", "operators.sequences_out",
    "ml.decode_s", "ml.inference_s", "ml.frames_out",
    "ml.python_bytes_sent", "ml.python_bytes_received", "ml.python_start_s",
    "ml.python_init_s", "ml.python_run_s",
    "sources.scan_s", "sources.encode_s", "sources.tfrecord_write_s",
    "sources.records_written", "sources.bytes_written", "sources.shards_written",
    "trace.items_per_s", "trace.pass_s", "trace.self_sum_s", "trace.reconcile_ratio",
    *(
        f"{span}.{k}"
        for span in (*PIPELINE_SPANS, "cli.build_pipeline", *QUERY_SPANS)
        for k in TASK_METRICS
    ),
)
LAYER_UNITS = {m: _unit(m) for m in LAYER_METRICS} | {
    "trace.items_per_s": "1/s",
    "trace.reconcile_ratio": "ratio",
}


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": [res["setup_s"], "s"],
        "cold_s": [res["cold_s"], "s"],
        "items_per_s": [res["items_done"] / res["warm_s"], "1/s"],
        "op_p50_s": [statistics.median(res["ops"]), "s"],
    }


def part_p50(res: dict, heavy: bool) -> float:
    """Median warm latency of queries_mix's heavy or SQL part."""
    times = [w for n, w in res["op_names"] if (n in MIX_HEAVY) == heavy]
    return statistics.median(times) if times else 0.0


def layer_metrics(workload: str, res: dict, spans: dict) -> dict:
    vals = dict.fromkeys(LAYER_METRICS, 0.0)
    vals["session.get_spark_s"] = res["get_spark_s"]
    vals["session.floor_s"] = res["floor_s"]
    vals["trace.items_per_s"] = res["items_done"] / res["warm_s"]
    L = res["layers"]
    if workload == "pipeline_crop":
        for name in PIPELINE_SPANS:
            vals[f"{name}_s"] = L["self_s"][name]
        # prefix task totals minus the previous prefix's: the layer's own
        prev: dict = {}
        for name in PIPELINE_SPANS:
            cur = spans.get(f"trace/{name}", {})
            for k in TASK_METRICS:
                vals[f"{name}.{k}"] = cur.get(k, 0.0) - prev.get(k, 0.0)
            prev = cur
        python = spans.get("trace/cli.build_pipeline", {})  # the whole traced call
        for k in TASK_METRICS:
            vals[f"cli.build_pipeline.{k}"] = python.get(k, 0.0)
        vals["ml.frames_out"] = L["frames_out"]
        vals["operators.sequences_out"] = L["sequences_out"]
        for k in ("records_written", "bytes_written", "shards_written"):
            vals[f"sources.{k}"] = L[k]
        vals["plans.build_s"] = L["build_s"]
        vals["trace.pass_s"] = res["ops_traced"]
        vals["trace.self_sum_s"] = L["build_s"] + sum(L["self_s"].values())
    else:
        passes = res["passes"]
        for k in ("build_s", "catalyst_s", "exec_s", "analysis_s", "optimize_s", "physical_s"):
            vals[f"plans.{k}"] = L[k] / passes
        vals["plans.eager_jobs"] = spans.get("warm/plans.build", {}).get("jobs", 0) / passes
        vals["plans.sql_op_s"] = part_p50(res, heavy=False)
        vals["plans.heavy_op_s"] = part_p50(res, heavy=True)
        vals["operators.persisted_rdds_left"] = L["persisted_rdds_left"]
        vals["operators.storage_bytes_left"] = L["storage_bytes_left"]
        vals["sources.scan_s"] = res["scan_s"]
        python = {}
        for name in QUERY_SPANS:
            per_pass = {k: v / passes for k, v in spans.get(f"warm/{name}", {}).items()}
            for k in TASK_METRICS:
                vals[f"{name}.{k}"] = per_pass.get(k, 0.0)
            for k, v in per_pass.items():
                python[k] = python.get(k, 0.0) + v
        vals["trace.pass_s"] = res["warm_s"] / passes
        vals["trace.self_sum_s"] = (L["build_s"] + L["catalyst_s"] + L["exec_s"]) / passes
    for k in PYTHON_METRICS.values():
        vals[f"ml.{k}"] = python.get(k, 0.0)
    vals["trace.reconcile_ratio"] = vals["trace.self_sum_s"] / vals["trace.pass_s"]
    return {k: [v, LAYER_UNITS[k]] for k, v in vals.items()}


# -------------------------------------------------------------------- main


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--data", required=True, help="directory of generated parquet tables")
    p.add_argument("--manifest", help="generated video manifest (pipeline_crop)")
    p.add_argument("--items", type=int, default=0, help="video paths in the manifest")
    p.add_argument("--work", required=True, help="scratch directory inside the checkout")
    p.add_argument("--eventlog", required=True, help="event log directory (traced runs)")
    p.add_argument("--out", required=True)
    cfg = p.parse_args()
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))

    import videos_to_tfrecords_spark  # noqa: F401
    from videos_to_tfrecords_spark.session import get_spark

    t_import = time.clock_gettime(time.CLOCK_MONOTONIC)
    extra = None
    if cfg.trace:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(cfg.eventlog),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(f"perfbench_{cfg.workload}", extra_conf=extra)
    t_session = time.clock_gettime(time.CLOCK_MONOTONIC)
    tracer = Tracer(spark, f"{cfg.workload}-{cfg.seed}", describe=bool(cfg.trace))
    with tracer.span("session.first_action"):
        noop(spark.range(1))
    res = {
        "setup_s": time.clock_gettime(time.CLOCK_MONOTONIC) - T_SPAWN,
        "import_s": t_import - T_SPAWN,
        "get_spark_s": t_session - t_import,
    }
    try:
        if cfg.workload == "pipeline_crop":
            res.update(run_pipeline(spark, tracer, cfg))
        else:
            res.update(run_queries(spark, tracer, cfg))
    finally:
        spark.stop()
    ops = res["ops"]
    out = {
        "attempted": res["attempted"],
        "failed": res["failed"],
        "problems": res["problems"],
        "end_to_end": end_to_end(res),
        "spans": tracer.spans,
        "extra": {
            "warm_ops": len(ops),
            "warm_s": res["warm_s"],
            # highest percentile with at least ten samples above it
            "op_p90_s": statistics.quantiles(ops, n=10)[8] if len(ops) >= 100 else None,
            "import_s": res["import_s"],
        },
    }
    if "op_names" in res:
        out["extra"]["sql_op_p50_s"] = part_p50(res, heavy=False)
        out["extra"]["heavy_op_p50_s"] = part_p50(res, heavy=True)
        out["op_latencies"] = res["op_names"]
    if cfg.trace:
        (log,) = glob.glob(os.path.join(cfg.eventlog, "*"))
        spans = span_metrics(log)
        out["per_layer"] = layer_metrics(cfg.workload, res, spans)
        out["span_metrics"] = spans
    with open(cfg.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
