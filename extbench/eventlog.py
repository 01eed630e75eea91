"""Per-layer numbers from a Spark event log (uncompressed JSON lines).

Jobs are attributed to layers by the descriptions the benchmark sets
(``setup:probe``, ``floor:*``, ``sidecar:*``, ``manifest:*``, ``pass#N``);
a job's input scan is attributed to the corpus when the physical plan of its
SQL execution reads the corpus directory.
"""

from __future__ import annotations

import json
import os
import re
import statistics

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
SCAN_TIME = "scan time"
TASK_COMMIT = "task commit time"
WRITTEN_FILES = "number of written files"


def event_files(eventlog_dir: str) -> list[str]:
    """Event files of the single application logged under *eventlog_dir*."""
    apps = [d for d in os.listdir(eventlog_dir) if not d.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {eventlog_dir}, got {apps}")
    app = os.path.join(eventlog_dir, apps[0])
    if os.path.isfile(app):
        return [app]
    parts = [f for f in os.listdir(app) if f.startswith("events_")]
    parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
    return [os.path.join(app, f) for f in parts]


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", ()):
        _plan_metrics(child, out)


class EventLog:
    """Jobs, tasks and SQL metrics of one application."""

    def __init__(self, eventlog_dir: str):
        self.exec_plan: dict[int, str] = {}
        self.acc_name: dict[int, str] = {}
        self.driver_acc: list[tuple[int, int, int]] = []  # (execution, acc id, value)
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        for path in event_files(eventlog_dir):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            self.exec_plan[e["executionId"]] = e["physicalPlanDescription"]
            _plan_metrics(e["sparkPlanInfo"], self.acc_name)
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            _plan_metrics(e["sparkPlanInfo"], self.acc_name)
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, value in e["accumUpdates"]:
                self.driver_acc.append((e["executionId"], acc, value))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "desc": props.get("spark.job.description") or "",
                "execution": int(ex) if ex is not None else None,
                "submit": e["Submission Time"],
            }
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            acc: dict[str, float] = {}
            for a in info.get("Accumulables", ()):
                if a.get("Name") and a.get("Update") is not None:
                    acc[a["Name"]] = acc.get(a["Name"], 0) + float(a["Update"])
            self.tasks.append(
                {
                    "job": self.stage_job.get(e["Stage ID"]),
                    "duration_ms": info["Finish Time"] - info["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "acc": acc,
                }
            )

    def reads_input(self, job_id: int, input_path: str) -> bool:
        ex = self.jobs[job_id]["execution"]
        return ex is not None and f"file:{input_path}]" in self.exec_plan.get(ex, "")

    def summarize(self, input_path: str, input_rows: int, work, runs: int = 1) -> dict:
        """Per-layer metrics for the jobs whose description satisfies *work*.

        Counts and seconds are per run (divided by *runs*); ``sidecar:*``
        jobs are reported apart under ``metrics.*``.
        """
        input_path = os.path.abspath(input_path)
        work_jobs = {j for j, d in self.jobs.items() if work(d["desc"])}
        extract_jobs = {j for j in work_jobs if not self.jobs[j]["desc"].startswith("sidecar:")}
        sidecar_jobs = work_jobs - extract_jobs
        scan_jobs = {j for j in work_jobs if self.reads_input(j, input_path)}

        def tasks(jobs):
            return [t for t in self.tasks if t["job"] in jobs]

        def acc(jobs, name):
            return sum(t["acc"].get(name, 0) for t in tasks(jobs))

        work_execs = {self.jobs[j]["execution"] for j in extract_jobs} - {None}
        written_files = sum(
            v
            for ex, a, v in self.driver_acc
            if ex in work_execs and self.acc_name.get(a) == WRITTEN_FILES
        )
        durations = [t["duration_ms"] / 1000 for t in tasks(work_jobs)]
        records = sum(t["records_read"] for t in tasks(scan_jobs))
        return {
            "scan.records_read": records / runs,
            "scan.read_amplification": records / runs / input_rows,
            "scan.time_s": acc(scan_jobs, SCAN_TIME) / 1000 / runs,
            "arrow.bytes_to_python": acc(extract_jobs, PY_SENT) / runs,
            "arrow.bytes_from_python": acc(extract_jobs, PY_RECV) / runs,
            "arrow.python_tasks": sum(
                1 for t in tasks(extract_jobs) if PY_RUN in t["acc"]
            ) / runs,
            "arrow.python_init_s": (acc(extract_jobs, PY_BOOT) + acc(extract_jobs, PY_INIT))
            / 1000
            / runs,
            "arrow.python_run_s": acc(extract_jobs, PY_RUN) / 1000 / runs,
            "manifest.spark_jobs": len(work_jobs) / runs,
            "write.bytes": sum(t["bytes_written"] for t in tasks(extract_jobs)) / runs,
            "write.files": written_files / runs,
            "write.task_commit_s": acc(extract_jobs, TASK_COMMIT) / 1000 / runs,
            "metrics.sidecar_s": sum(
                (self.jobs[j].get("end", self.jobs[j]["submit"]) - self.jobs[j]["submit"])
                for j in sidecar_jobs
            )
            / 1000
            / runs,
            "metrics.sidecar_records_read": sum(
                t["records_read"] for t in tasks(sidecar_jobs)
            )
            / runs,
            "exec.run_s": sum(t["run_ms"] for t in tasks(work_jobs)) / 1000 / runs,
            "exec.task_s.p50": statistics.median(durations) if durations else 0.0,
            "exec.task_s.p95": p95(durations) if durations else 0.0,
            "jvm.gc_s": sum(t["gc_ms"] for t in tasks(work_jobs)) / 1000 / runs,
        }


def p95(values: list[float]) -> float:
    """Interpolated 95th percentile (the sample itself when there is one)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=20, method="inclusive")[18]
