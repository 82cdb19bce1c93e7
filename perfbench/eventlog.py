"""Per-call executor and Python-worker metrics from a Spark event log.

The traced run writes an uncompressed event log (``spark.eventLog.compress``
is off: Spark 4.1 writes zstd by default and no Python zstd module is
installed).  Every ``SparkListenerTaskEnd`` is attributed to the benchmark
call whose job launched its stage: by the call's ``spark.addTag`` tag where
the job ran under a SQL execution, otherwise by the job group the benchmark
sets around each call phase.
"""

from __future__ import annotations

import glob
import json
import os

PREFIX = "bench:"

# SQL metrics of the Arrow / pandas UDF operators (their display names)
_PYTHON = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

FIELDS = (
    "tasks",
    "cpu_ns",
    "run_ms",
    "gc_ms",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_mem_bytes",
    *_PYTHON.values(),
)


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if os.path.isfile(path) and not name.startswith(".") and not name.startswith("appstatus"):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def _call_of(props: dict) -> tuple[str | None, str]:
    """(call id, how it was found) for one job's properties."""
    for tag in (props.get("spark.job.tags") or "").split(","):
        if PREFIX in tag:
            return tag[tag.index(PREFIX) :], "tag"
    group = props.get("spark.jobGroup.id") or ""
    if group.startswith(PREFIX):
        return group.rsplit(":", 1)[0], "group"  # strip the phase suffix
    return None, "none"


def per_call(log_dir: str) -> tuple[dict[str, dict[str, float]], dict[str, int]]:
    """Sum task metrics per call id.  Returns (per-call metrics, count of
    jobs attributed by tag / by job group / not at all)."""
    stage_call: dict[int, str | None] = {}
    how = {"tag": 0, "group": 0, "none": 0}
    calls: dict[str, dict[str, float]] = {}
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            call, via = _call_of(e.get("Properties") or {})
            how[via] += 1
            for sid in e.get("Stage IDs", ()):
                stage_call.setdefault(sid, call)
        elif kind == "SparkListenerTaskEnd":
            call = stage_call.get(e.get("Stage ID"))
            if call is None:
                continue
            m = calls.setdefault(call, dict.fromkeys(FIELDS, 0.0))
            tm = e.get("Task Metrics") or {}
            rd = tm.get("Shuffle Read Metrics") or {}
            m["tasks"] += 1
            m["cpu_ns"] += tm.get("Executor CPU Time", 0)
            m["run_ms"] += tm.get("Executor Run Time", 0)
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            m["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["peak_mem_bytes"] = max(m["peak_mem_bytes"], tm.get("Peak Execution Memory", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                field = _PYTHON.get(acc.get("Name"))
                if field is not None:
                    m[field] += float(acc.get("Update") or 0)
    return calls, how
