"""Per-span task metrics from a Spark event log.

The worker sets the job description to the current span's name before each
call, so every job (and every task of its stages) carries the span that
caused it. Needs ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``: one plain JSON-lines file.
"""

from __future__ import annotations

import json
from collections import defaultdict

TASK_METRICS = (
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "tasks",
    "failed_tasks",
)
# SQL metrics of the MapInPandas / MapInArrow / ArrowEvalPython nodes
PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
}


def span_metrics(path: str) -> dict[str, dict[str, float]]:
    """Return ``{job description: {metric: total}}`` with the task metrics,
    the Python-worker SQL metrics and ``jobs`` (jobs started)."""
    job_desc: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                job_desc[jid] = desc
                out[desc]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                acc = out[job_desc.get(stage_job.get(ev["Stage ID"]))]
                m = ev.get("Task Metrics") or {}
                acc["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    acc["failed_tasks"] += 1
                acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = PYTHON_METRICS.get(a.get("Name"))
                    if key:
                        v = float(a.get("Update") or 0)  # timings arrive in ms
                        acc[key] += v / 1e3 if key.endswith("_s") else v
    return {k: dict(v) for k, v in out.items()}
