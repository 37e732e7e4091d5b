"""Fold a Spark event log (uncompressed JSON lines) into stage totals.

Jobs are attributed to a key by ``key_of(job start event)``: the job
group in the query workloads, the Python call site PySpark stamps on
each job (``callSite.short``) in the CLI workload.  Task metrics of a
stage go to the key of the job that submitted the stage.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

#: TaskEnd accumulables of the Python exec nodes (SQL metrics), folded
#: into these names; the ``_s`` ones are millisecond timings.
PY_ACCUMS = {
    "time to start python workers": "py_worker_start_s",
    "time to run python workers": "py_worker_run_s",
    "data sent to python workers": "py_sent_bytes",
    "data returned from python workers": "py_returned_bytes",
}

FIELDS = ("jobs", "tasks", "single_task_stages", "task_run_s", "task_cpu_s",
          "gc_s", "shuffle_write_bytes", "shuffle_write_records",
          "spill_bytes", "py_worker_start_s", "py_worker_run_s",
          "py_sent_bytes", "py_returned_bytes")


def find_log(log_dir: str) -> str | None:
    """The single application log written into ``log_dir``, if any."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, sorted(names)[-1]) if names else None


def fold(path: str, key_of) -> dict[str, dict[str, float]]:
    """{key: {field: total}} over every job in the log."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                key = key_of(ev)
                if key is None:
                    continue
                out[key]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_key.setdefault(sid, key)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = stage_key.get(info["Stage ID"])
                if key is not None and info.get("Number of Tasks") == 1:
                    out[key]["single_task_stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if key is None or not m:
                    continue
                acc = out[key]
                acc["tasks"] += 1
                acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
                acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    field = PY_ACCUMS.get(str(a.get("Name", "")).lower())
                    if field is None:
                        continue
                    val = float(a.get("Update") or 0)
                    acc[field] += val / 1e3 if field.endswith("_s") else val
    return {k: dict(v) for k, v in out.items()}


def total(folded: dict[str, dict[str, float]], keys=None) -> dict[str, float]:
    tot = dict.fromkeys(FIELDS, 0.0)
    for k, v in folded.items():
        if keys is None or k in keys:
            for f in FIELDS:
                tot[f] += v[f]
    return tot


def submit_args(log_dir: str | None, tmp_dir: str) -> str:
    """PYSPARK_SUBMIT_ARGS that keep Spark's scratch files in ``tmp_dir``
    and, with ``log_dir``, write an uncompressed single-file event log."""
    import shlex
    confs = {
        "spark.local.dir": tmp_dir,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
    }
    if log_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    return " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
