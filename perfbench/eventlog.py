"""Parser for Spark's JSON event log (uncompressed).

Spark 4 writes a v2 event-log *directory* per application
(``eventlog_v2_<appId>/events_<n>_<appId>``, rolled into numbered
files); older versions write one ``<appId>`` file. Both are read here.
Set ``spark.eventLog.compress=false``: no zstd module is assumed.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_EVENTS_FILE = re.compile(r"^events_(\d+)_")


def log_files(path: str) -> list[str]:
    """Event files of one application log, in write order."""
    if os.path.isfile(path):
        return [path]
    numbered = []
    for f in os.listdir(path):
        m = _EVENTS_FILE.match(f)
        if m:
            numbered.append((int(m.group(1)), os.path.join(path, f)))
    if not numbered:
        raise FileNotFoundError(f"no events_<n>_* files under {path}")
    return [p for _, p in sorted(numbered)]


def find_app_log(log_dir: str, app_id: str) -> str:
    for name in (f"eventlog_v2_{app_id}", app_id):
        p = os.path.join(log_dir, name)
        if os.path.exists(p):
            return p
    raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")


def iter_events(path: str):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Stage:
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: list[Task] = field(default_factory=list)


@dataclass
class AppLog:
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    job_group: dict[int, str | None] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    accum: dict[int, int] = field(default_factory=dict)
    # executionId -> every plan tree seen (initial + adaptive updates)
    plans: dict[int, list[dict]] = field(default_factory=dict)
    exec_group: dict[int, str | None] = field(default_factory=dict)

    def stages_of_jobs(self, jobs) -> list[int]:
        out = []
        for j in jobs:
            out.extend(s for s in self.job_stages.get(j, []) if s in self.stages)
        return sorted(set(out))


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(path: str) -> AppLog:
    log = AppLog()
    for ev in iter_events(path):
        kind = ev.get("Event", "").rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            log.job_stages[jid] = list(ev.get("Stage IDs", []))
            props = ev.get("Properties") or {}
            log.job_group[jid] = props.get("spark.jobGroup.id")
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                log.exec_group.setdefault(int(eid), props.get("spark.jobGroup.id"))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage())
            st.submit_ms = info.get("Submission Time", st.submit_ms)
            st.complete_ms = info.get("Completion Time", st.complete_ms)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            task = Task(
                stage=ev["Stage ID"],
                run_ms=_num(m.get("Executor Run Time")),
                cpu_ns=_num(m.get("Executor CPU Time")),
                gc_ms=_num(m.get("JVM GC Time")),
                shuffle_write_bytes=_num(sw.get("Shuffle Bytes Written")),
                spill_bytes=_num(m.get("Disk Bytes Spilled")),
            )
            log.stages.setdefault(task.stage, Stage()).tasks.append(task)
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                if "Update" in a:
                    log.accum[a["ID"]] = log.accum.get(a["ID"], 0) + _num(a["Update"])
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            log.plans.setdefault(int(ev["executionId"]), []).append(ev["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, v in ev.get("accumUpdates", []):
                log.accum[acc_id] = log.accum.get(acc_id, 0) + _num(v)
    return log


def _walk(node: dict, parent: dict | None = None):
    yield node, parent
    for ch in node.get("children", []):
        yield from _walk(ch, node)


def _rows_metric(node: dict) -> int | None:
    for m in node.get("metrics", []):
        if m.get("name") == "number of output rows":
            return m["accumulatorId"]
    return None


def _is_join(node: dict) -> bool:
    return node.get("nodeName", "").endswith("Join")


def join_filter_rows(log: AppLog, exec_ids) -> tuple[int, int]:
    """(rows out of the equi-join, rows out of the Filter directly on
    top of it), summed over the given SQL executions. Each join is
    counted once even when it appears in several plan versions."""
    joins, filters = set(), set()
    for eid in exec_ids:
        for tree in log.plans.get(eid, []):
            for node, parent in _walk(tree):
                if _is_join(node) and parent is not None and parent.get("nodeName") == "Filter":
                    j, f = _rows_metric(node), _rows_metric(parent)
                    if j is not None and f is not None:
                        joins.add(j)
                        filters.add(f)
    return sum(log.accum.get(a, 0) for a in joins), sum(log.accum.get(a, 0) for a in filters)


def executions_of_group(log: AppLog, group: str) -> list[int]:
    return sorted(e for e, g in log.exec_group.items() if g == group)
