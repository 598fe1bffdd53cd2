"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR and
print ONE JSON line {"metric", "value", "unit", "queries", "sf"}.

Execution is measured with the noop sink (full computation, no driver
collect), after a session warm-up action, so per-query numbers reflect plan
execution rather than JVM startup or result shipping.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # noqa: F401  (pandas_udf type-hint resolution)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _current_round() -> str:
    """Round being built, derived from the repo itself (VERDICT r08 #3,
    off-by-one fixed per VERDICT r09 #4): the driver writes
    CORRECTNESS_r{N} at the END of round N and COMMITS it at the start of
    round N+1 ("round N: verdict/advice/correctness/bench"). So:

    - newest CORRECTNESS file committed to git  -> that round is fully
      over -> current round = max index + 1;
    - newest file on disk but NOT committed     -> we are in the tail of
      round max (a fold after the driver's end-of-round run — the exact
      case that mis-stamped r9's fold as "10") -> current round = max.

    $SPARK_GRAFT_ROUND, when set (driver runs), still wins — this is only
    the fallback so manual full runs stop stamping latest_round="unset"."""
    import glob
    import re
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    idx = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    if not idx:
        return "unset"
    newest = f"CORRECTNESS_r{max(idx):02d}.json"
    try:
        committed = (
            subprocess.run(
                ["git", "-C", here, "ls-files", "--error-unmatch", newest],
                capture_output=True,
                timeout=10,
            ).returncode
            == 0
        )
    except (OSError, subprocess.TimeoutExpired):
        committed = True  # no git available: keep the old max+1 rule
    return str(max(idx) + 1) if committed else str(max(idx))


def _contending_pids() -> list[dict]:
    """Detect resident processes that would pollute this run's medians
    (VERDICT r09 #5: the r9 canonical run shared the box with a SIGSTOP'd,
    memory-resident sf1 gate — 1.35× same-session drift on identical
    code). Flags, outside our own process tree: anything in stopped state
    ``T`` holding >256 MiB RSS, and any other java/python holding >4 GiB
    RSS (an active gate/bench JVM). Pure /proc parsing, best-effort."""
    import glob
    import re

    me = os.getpid()
    procs: dict[int, tuple[str, str, int, int]] = {}  # pid -> (name, state, ppid, rss_kb)
    for sd in glob.glob("/proc/[0-9]*"):
        pid = int(os.path.basename(sd))
        try:
            with open(os.path.join(sd, "stat")) as f:
                st = f.read()
            m = re.match(r"\d+ \((.*)\) (\S) (\d+)", st, re.DOTALL)
            if not m:
                continue
            name, state, ppid = m.group(1), m.group(2), int(m.group(3))
            rss_kb = 0
            with open(os.path.join(sd, "status")) as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        rss_kb = int(line.split()[1])
                        break
            procs[pid] = (name, state, ppid, rss_kb)
        except (OSError, ValueError):
            continue

    def in_my_tree(pid: int) -> bool:
        seen = set()
        while pid > 1 and pid not in seen:
            if pid == me:
                return True
            seen.add(pid)
            pid = procs.get(pid, ("", "", 0, 0))[2]
        return False

    flagged = []
    for pid, (name, state, _ppid, rss_kb) in procs.items():
        if in_my_tree(pid):
            continue
        stopped_resident = state in ("T", "t") and rss_kb > 256 * 1024
        heavy_engine = (
            any(k in name.lower() for k in ("java", "python")) and rss_kb > 4 * 1024 * 1024
        )
        if stopped_resident or heavy_engine:
            flagged.append(
                {
                    "pid": pid,
                    "name": name,
                    "state": state,
                    "rss_gib": round(rss_kb / 1024 / 1024, 2),
                }
            )
    return flagged


def release_blocks(spark) -> None:
    """Release the localCheckpoint/persist blocks of the queries run so
    far: the Py4J finalizer -> ContextCleaner chain only fires on GC, and
    checkpointed blocks are lineage-truncated (NOT re-computable if
    evicted) — 219 queries' worth accumulating in one session is what
    broke the first sf1 suite run. Python GC alone only queues the Py4J
    finalizers; the JVM-side ContextCleaner drains on JVM GC, which a
    mostly-idle 24g heap may not trigger for many queries — by query ~150
    the r10 canonical run showed 3-10x in-suite inflation (solo: 1x) from
    accumulated blocks/broadcasts. Force both collections so each query
    starts from a comparable JVM state."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001  (py4j hiccup: skip, never fail the bench)
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from videos_to_tfrecords_spark.session import get_spark

    spark = get_spark("bench")
    # warm up: JVM/codegen, the Python-worker pool (pandas UDF), and every
    # table's parquet footer — so per-query timings measure the query, not
    # one-time session costs
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).select(_warm("id")).write.format("noop").mode("overwrite").save()

    # warm the worker pool for the mapInArrow path too (r11): a worker's
    # first mapInArrow task pays the Arrow path's imports — pyarrow, and
    # pandas too: every worker holds pandas after its first mapInArrow
    # task, even when the function imports neither — so a solo measurement
    # of a 1-task mapInArrow query otherwise pays a per-worker import cost
    # that the full suite amortizes after its first Arrow query. Warm-ups
    # are outside every timed region, same rationale as the pandas_udf
    # warm-up above. Run one task per core so the whole reusable pool is
    # warmed, not just one worker.
    def _warm_arrow(batches):
        import numpy as np  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    n_cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    (
        spark.range(n_cores, numPartitions=n_cores)
        .mapInArrow(_warm_arrow, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    from videos_to_tfrecords_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        sf = -1.0

    # steady-state methodology: two executions per query, record the min —
    # removes first-touch costs (codegen, footer caches, worker pools) and
    # machine-noise spikes, so per-query numbers are comparable across
    # rounds rather than hostage to run ordering. When the first two runs
    # disagree by >1.5× (a GC pause / noisy-neighbor spike hit one of
    # them), a third run breaks the tie — round-2 driver runs showed 3×
    # single-query outliers that a min-of-3 removes.
    # optional solo-measurement filter (comma-separated query names) so a
    # drift flagged in the full 219-query suite can be re-timed in
    # isolation, free of suite contention — tools/bench_compare.py's
    # adjudication loop. Unset (the driver's invocation) = full suite.
    only_env = os.environ.get("SPARK_GRAFT_ONLY", "").strip()
    only = {n.strip() for n in only_env.split(",") if n.strip()} if only_env else None

    # untimed warm-up on real query plans (VERDICT r03 #6): first-run
    # codegen/JIT (the range/pandas warm-ups above don't touch join/agg
    # codegen paths), so the first TIMED query isn't the one paying
    # session-global JIT warm-up. The full suite runs the flagship query
    # once; a selected set runs each of its own queries once, since one
    # unrelated plan leaves the set's first query paying the warm-up of
    # the set's own operators and worker paths.
    if only is None:
        warm = [lambda: entrymod.entry(spark)]
    else:
        warm = [
            lambda fn=fn: fn(spark, sf_dir)
            for name, fn in entrymod.queries().items()
            if name in only
        ]
    for build in warm:
        try:
            build().write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            print(f"bench warm-up query failed: {e}", file=sys.stderr)
    release_blocks(spark)

    timings: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}
    for name, fn in entrymod.queries().items():
        if only is not None and name not in only:
            continue
        runs: list[float] = []
        try:
            for _ in range(2):
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            if max(runs) > 1.5 * min(runs):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            timings[name] = round(min(runs), 3)
            raw_runs[name] = [round(r, 3) for r in runs]
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {e}", file=sys.stderr)
            timings[name] = -1.0
            raw_runs[name] = [round(r, 3) for r in runs]
        release_blocks(spark)

    # ---- automated drift adjudication (VERDICT r6 #7, r7 #4) ---------
    # r6 spent real manual time solo-re-measuring 12 in-suite >10× flags
    # and still missed four 2.7–5.9× regressions. Automate the protocol:
    # on a FULL canonical-SF run, any query whose in-suite min exceeds 2×
    # its snapshot value (the driver's own bar — r7 ran at 3× and let
    # three queries sit unexamined in the 2-3× band for two rounds) and
    # by >2 s absolute (so sub-second queries don't flag on scheduler
    # jitter) is re-run solo right here, free of suite contention; the
    # solo time joins the min-merge and the adjudication table lands in
    # BENCH_FULL.json for SCALE.md to cite.
    adjudications: list[dict] = []
    if only is None and sf == 0.1:
        snap_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
        )
        snap_q: dict[str, float] = {}
        if os.path.exists(snap_path):
            try:
                with open(snap_path) as f:
                    snap_q = json.load(f).get("queries", {})
            except (json.JSONDecodeError, OSError):
                snap_q = {}
        flagged = sorted(
            (
                n
                for n, t in timings.items()
                if t >= 0
                and snap_q.get(n, -1.0) > 0
                and t > 2 * snap_q[n]
                and t - snap_q[n] > 2.0
            ),
            key=lambda n: -timings[n],
        )[:12]
        qmap = entrymod.queries() if flagged else {}
        for n in flagged:
            solo_runs: list[float] = []
            try:
                for _ in range(2):
                    t0 = time.time()
                    qmap[n](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    solo_runs.append(time.time() - t0)
            except Exception as e:  # noqa: BLE001
                print(f"adjudication re-run failed for {n}: {e}", file=sys.stderr)
                continue
            solo = round(min(solo_runs), 3)
            verdict = "noise" if solo <= 2 * snap_q[n] else "regression"
            adjudications.append(
                {
                    "query": n,
                    "snapshot": snap_q[n],
                    "in_suite": timings[n],
                    "solo": solo,
                    "verdict": verdict,
                }
            )
            print(
                f"adjudicate {n}: snapshot={snap_q[n]} in_suite={timings[n]} "
                f"solo={solo} -> {verdict}",
                file=sys.stderr,
            )
            if solo < timings[n]:
                timings[n] = solo
                raw_runs[n] = raw_runs.get(n, []) + solo_runs
            import gc

            gc.collect()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = {
        "metric": "sum_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if adjudications:
        payload["adjudications"] = adjudications
    # the driver snapshot keeps only the LAST ~2000 chars of stdout
    # (BENCH_r05.json: tail len == 2000, "parsed": null) — a 325-query
    # JSON line is ~9 KB, so its head gets cut and the driver can't parse
    # it. Print the full payload FIRST (for humans / logs), then emit a
    # compact final line guaranteed to fit the tail buffer: total + the
    # slowest queries, trimmed until the line is < 1800 chars.
    print(json.dumps(payload))
    compact_q = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])
    )
    compact = {
        "metric": "sum_query_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "errors": sorted(n for n, t in timings.items() if t < 0)[:20],
        "n_adjudicated": len(adjudications),
        "full": "BENCH_FULL.json",
        "queries": compact_q,
        "sf": sf,
    }
    line = json.dumps(compact)
    while len(line) > 1800 and compact["queries"]:
        if len(compact["queries"]) == 1:
            # r7 ADVICE fix: keep = max(1, 1//2) re-selects the same single
            # entry forever — drop "queries" entirely instead of spinning
            compact["queries"] = {}
            line = json.dumps(compact)
            break
        keep = max(1, len(compact["queries"]) // 2)
        compact["queries"] = dict(list(compact_q.items())[:keep])
        compact_q = compact["queries"]
        line = json.dumps(compact)
    print(line)
    if only is not None:
        return  # solo re-measurement: don't clobber the full-suite snapshot
    round_no = os.environ.get("SPARK_GRAFT_ROUND", "")
    suffix = f"_r{round_no}" if round_no else ""
    if not suffix and sf != 0.1:
        # a manual full run at another SF (e.g. the sf1 suite proof) must
        # not clobber the canonical sf0.1 snapshot — it did once (801 s of
        # sf1 timings landed in BENCH_FULL.json); suffix such runs via
        # SPARK_GRAFT_ROUND or keep them on stdout only
        return
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_FULL{suffix}.json"
    )
    # MIN-MERGE into the existing snapshot instead of overwriting it: the
    # in-repo convention is per-query MIN across runs (machine noise between
    # whole-suite runs is 1.1-1.5×), and a driver full run used to clobber
    # the curated snapshot with one noisy pass. Plan-changed queries that
    # must RESET upward are edited manually with a BASELINE.md adjudication.
    merged_q, merged_runs = dict(timings), dict(raw_runs)
    if os.path.exists(full_path):
        try:
            with open(full_path) as f:
                prev = json.load(f)
            # r7 ADVICE fix: intersect the previous snapshot with the
            # CURRENT registry before merging — carrying deleted/renamed
            # queries forward forever inflates "value" relative to
            # n_queries and makes the snapshot unfalsifiable
            current = set(timings)
            for k, v in prev.get("queries", {}).items():
                if k not in current:
                    continue
                if v >= 0 and merged_q[k] >= 0:
                    merged_q[k] = min(merged_q[k], v)
            for k, rs in prev.get("runs", {}).items():
                if k in current:
                    merged_runs[k] = rs + merged_runs.get(k, [])
        except (json.JSONDecodeError, OSError):
            pass  # corrupt/absent snapshot: write fresh
    # same-session medians beside the min-merge (VERDICT r7 #6): the
    # min-merged snapshot ratchets toward best-ever box states, so the
    # driver's in-suite ratio reads high on a slower box even when the
    # code got faster. "latest_medians" is THIS run's per-query median —
    # compare driver runs med-vs-med for a current-box signal; the
    # min-merge stays the cross-round floor.
    med = {
        n: round(sorted(rs)[len(rs) // 2], 3)
        for n, rs in raw_runs.items()
        if rs and timings.get(n, -1.0) >= 0
    }
    merged = {
        **payload,
        "queries": merged_q,
        "value": round(sum(t for t in merged_q.values() if t >= 0), 3),
        "runs": merged_runs,
        "latest_medians": med,
        "latest_value": round(sum(med.values()), 3),
        "latest_round": round_no or _current_round(),
    }
    # contention guard (VERDICT r09 #5): if another resident gate/bench
    # process shared the box during this run, the medians are polluted —
    # min-merge is still safe (contention only inflates), but do NOT let
    # this run's medians become the round's trendline numbers. Keep the
    # previous quiet-run latest_* and file this run's medians separately.
    contenders = _contending_pids()
    if contenders:
        print(
            "bench: CONTENDED RUN — resident foreign process(es) during "
            f"measurement: {json.dumps(contenders)}; latest_medians NOT "
            "folded (kept previous quiet-run values; this run's medians "
            "recorded under latest_medians_contended)",
            file=sys.stderr,
        )
        merged["contended_by"] = contenders
        merged["latest_medians_contended"] = med
        merged["latest_value_contended"] = round(sum(med.values()), 3)
        prev_snapshot = {}
        if os.path.exists(full_path):
            try:
                with open(full_path) as f:
                    prev_snapshot = json.load(f)
            except (json.JSONDecodeError, OSError):
                prev_snapshot = {}
        for k in ("latest_medians", "latest_value", "latest_round"):
            if k in prev_snapshot:
                merged[k] = prev_snapshot[k]
            else:
                merged.pop(k, None)
    with open(full_path, "w") as f:
        # the one-line stdout payload keeps the driver's schema; the full
        # file additionally records every raw run so cross-round deltas
        # can be attributed to code vs machine noise
        json.dump(merged, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
