"""The repository's benchmark: one seeded workload per call, in a fresh process.

    python3 perfbench/run.py --workload pipeline_crop --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the inputs (cached under
``.bench_build/perfbench``), starts ``perfbench/worker.py`` in a fresh
process, samples the summed RSS of its whole process tree (driver Python,
JVM, Python workers) from ``/proc``, records the host fingerprint and any
contending processes, and prints as its last line one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics (see
DESIGN.md). The full record of each run, spans included, is written to
``.bench_build/perfbench/results``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(".bench_build", "perfbench")
WORKLOADS = ("pipeline_crop", "queries_mix")
SF = 0.01
DATA_VERSION = 1  # bump when datagen.py changes what it writes
PIPELINE_VIDEOS = 1000
WORKER_DEADLINE_S = 170.0
# files of the checkout the benchmark drives; without them it cannot run
REQUIRED = ("videos_to_tfrecords_spark/cli.py", "__spark_entry__.py", "tools/check_oracle.py")


def meminfo_kib(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def fingerprint(seed: int) -> dict:
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    h = hashlib.sha256()
    for path in sorted(glob.glob("videos_to_tfrecords_spark/**/*.py", recursive=True)):
        h.update(path.encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        commit = ""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(meminfo_kib("MemTotal") / 2**20, 2),
        "cpu_model": model,
        "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "seed": seed,
        "commit": commit or None,  # None outside a git checkout
        "package_sha256": h.hexdigest()[:16],
    }


def _procs() -> dict[int, tuple[str, str, int, int, int]]:
    """pid -> (name, state, ppid, VmRSS KiB, process group) for every live
    process."""
    procs = {}
    for sd in glob.glob("/proc/[0-9]*"):
        try:
            with open(os.path.join(sd, "stat")) as fh:
                m = re.match(r"\d+ \((.*)\) (\S) (\d+) (\d+)", fh.read(), re.DOTALL)
            rss = 0
            with open(os.path.join(sd, "status")) as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        rss = int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
        if m:
            procs[int(os.path.basename(sd))] = (
                m.group(1), m.group(2), int(m.group(3)), rss, int(m.group(4))
            )
    return procs


def _tree(procs: dict, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_name, _state, ppid, _rss, _pgid) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out.add(pid)
            todo.extend(kids.get(pid, []))
    return out


def contention() -> dict:
    """Load average, and processes outside this benchmark's tree that would
    distort it: stopped ones holding >256 MiB, or a java/python holding
    >4 GiB (bench.py's rule)."""
    procs = _procs()
    mine = _tree(procs, os.getpid())
    flagged = [
        {"pid": pid, "name": name, "state": state, "rss_gib": round(rss / 2**20, 2)}
        for pid, (name, state, _ppid, rss, _pgid) in procs.items()
        if pid not in mine
        and (
            (state in ("T", "t") and rss > 256 * 1024)
            or (any(k in name.lower() for k in ("java", "python")) and rss > 4 * 2**20)
        )
    ]
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    # cumulative jiffies: total, and stolen by the hypervisor for other guests
    return {"loadavg": load, "contenders": flagged, "cpu_jiffies": [sum(cpu), cpu[7]]}


class RssSampler(threading.Thread):
    """Peak summed VmRSS of a process tree, sampled every 0.2 s."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        self.peak_kib = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            procs = _procs()
            self.peak_kib = max(self.peak_kib, sum(procs[p][3] for p in _tree(procs, self.root)))
            self._done.wait(0.2)

    def stop(self) -> None:
        self._done.set()
        self.join()


def prepare_inputs(workload: str, seed: int, work: str) -> list[str]:
    """Worker arguments naming the generated inputs. The tables come from a
    fixed seed and are cached; the manifest comes from ``seed``."""
    sys.path.insert(0, HERE)
    import datagen

    data = os.path.abspath(os.path.join(BUILD, f"data-v{DATA_VERSION}-sf{SF}"))
    if not os.path.isdir(data):
        tmp = f"{data}.tmp{os.getpid()}"
        datagen.write_tables(tmp, SF)
        os.replace(tmp, data)
    args = ["--data", data]
    if workload == "pipeline_crop":
        manifest = os.path.join(work, "input_manifest.txt")
        items = datagen.video_manifest(manifest, PIPELINE_VIDEOS, seed)
        args += ["--manifest", manifest, "--items", str(items)]
    return args


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (the JVM and the
    Python workers) and wait until every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not any(
            pg == proc.pid and state != "Z" for _n, state, _pp, _r, pg in _procs().values()
        ):
            return
        time.sleep(0.1)


def _terminate(signum, _frame) -> None:
    # unwind through main's ``finally`` blocks, which stop the worker's group
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    missing = [f for f in REQUIRED if not os.path.isfile(f)]
    if missing:
        print(f"perfbench: not at the root of a checkout, missing {missing}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    # session.py's 24g default cannot start a JVM on a smaller host
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, round(meminfo_kib('MemTotal') / 2**21))}g"
    os.environ.update({k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")})
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.abspath(os.path.join(BUILD, "runs", run_id))
    results = os.path.join(BUILD, "results")
    tmp = os.path.join(work, "tmp")
    eventlog = os.path.join(work, "eventlog")
    for d in (work, results, tmp, eventlog):
        os.makedirs(d, exist_ok=True)
    # keep Spark's, Java's and Python's scratch files inside the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        worker_args = prepare_inputs(args.workload, args.seed, work)
        record = {"run_id": run_id, "host": fingerprint(args.seed), "start": contention()}
        out = os.path.join(work, "worker.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--eventlog", eventlog, "--out", out, *worker_args,
        ]
        env["PERFBENCH_T0"] = repr(time.clock_gettime(time.CLOCK_MONOTONIC))
        proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=WORKER_DEADLINE_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop()
            stop_group(proc)
        record["end"] = contention()
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = dict(res["per_layer"] if args.trace else res["end_to_end"])
    if not args.trace:
        metrics["peak_rss_gib"] = [sampler.peak_kib / 2**20, "GiB"]
    record.update(res)
    record["peak_rss_gib"] = sampler.peak_kib / 2**20
    record["contended"] = bool(record["start"]["contenders"] or record["end"]["contenders"])
    (t0, st0), (t1, st1) = record["start"]["cpu_jiffies"], record["end"]["cpu_jiffies"]
    record["cpu_steal_pct"] = 100.0 * (st1 - st0) / max(1, t1 - t0)
    with open(os.path.join(results, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for problem in res["problems"]:
        print(f"perfbench: check failed: {problem}", file=sys.stderr)
    print(
        json.dumps(
            {
                "run": run_id,
                "host": record["host"],
                "loadavg": [record["start"]["loadavg"], record["end"]["loadavg"]],
                "contended": record["contended"],
                "cpu_steal_pct": round(record["cpu_steal_pct"], 1),
                **res["extra"],
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
