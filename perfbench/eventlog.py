"""Fold Spark's local JSON event log into per-job-group records.

The benchmark tags every traced call with ``setJobGroup(<group>)`` and
runs with ``spark.eventLog.enabled=true`` (uncompressed, not rolling),
so the log holds, for each group, its jobs, stages, tasks and SQL plans.
No Spark UI, REST endpoint or network is involved.

``fold(path)`` returns ``{group: GroupRecord}``. ``driver_gap_ms``
needs the caller's span window, so it is computed by
``GroupRecord.driver_gap_ms(start_ms, end_ms)``: the window minus the
union of the group's stage intervals inside it.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
# physical nodes that run Python: pandas/arrow maps and Python UDF evaluation
PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython|Python")
FILE_SCAN = re.compile(r"^Scan (parquet|orc|json|csv|text)")
SITE = re.compile(r"biodata_pipeline_spark/([\w/]+)\.py")


@dataclass
class GroupRecord:
    jobs: int = 0
    stages: list[tuple[int, int]] = field(default_factory=list)  # (submit, done) ms
    executor_cpu_ms: float = 0.0
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # memory + disk bytes spilled
    executions: set[int] = field(default_factory=set)
    sites: dict[str, int] = field(default_factory=dict)  # module -> jobs
    python_exec_nodes: int = 0
    input_rows: int = 0

    def stage_union_ms(self, start_ms: float, end_ms: float) -> float:
        """Length of the union of stage intervals clipped to the window."""
        spans = sorted((max(s, start_ms), min(e, end_ms))
                       for s, e in self.stages)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def driver_gap_ms(self, start_ms: float, end_ms: float) -> float:
        return (end_ms - start_ms) - self.stage_union_ms(start_ms, end_ms)


def call_site_module(call_site: str | None) -> str:
    """``'collect at .../biodata_pipeline_spark/operators/sharding.py:125'``
    -> ``'operators.sharding'``; no package frame -> ``'unattributed'``."""
    m = SITE.search(call_site or "")
    return m.group(1).replace("/", ".") if m else "unattributed"


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def fold(path: str) -> dict[str, GroupRecord]:
    """One pass over the event log at ``path``."""
    recs: dict[str, GroupRecord] = {}
    stage_group: dict[int, str] = {}
    exec_plans: dict[int, list[dict]] = {}
    acc_values: dict[int, int] = {}

    def rec(group: str) -> GroupRecord:
        return recs.setdefault(group, GroupRecord())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                r = rec(group)
                r.jobs += 1
                site = call_site_module(props.get("callSite.short"))
                r.sites[site] = r.sites.get(site, 0) + 1
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    r.executions.add(int(eid))
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                for acc in info.get("Accumulables", ()):
                    try:
                        v = int(acc["Value"])
                    except (KeyError, TypeError, ValueError):
                        continue
                    aid = int(acc["ID"])
                    acc_values[aid] = max(acc_values.get(aid, 0), v)
                group = stage_group.get(info["Stage ID"])
                if group is not None and "Submission Time" in info:
                    rec(group).stages.append(
                        (info["Submission Time"], info["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                r = rec(group)
                r.executor_cpu_ms += tm.get("Executor CPU Time", 0) / 1e6
                r.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                r.spill_bytes += (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0))
            elif kind in (SQL_START, SQL_AQE):
                exec_plans.setdefault(ev["executionId"], []).append(
                    ev["sparkPlanInfo"])

    for r in recs.values():
        for eid in r.executions:
            plans = exec_plans.get(eid, [])
            if plans:
                # the last plan is AQE's final one: what actually ran
                r.python_exec_nodes += sum(
                    1 for n in _plan_nodes(plans[-1])
                    if PYTHON_NODE.search(n["nodeName"]))
            scan_accs = {
                m["accumulatorId"]
                for p in plans for n in _plan_nodes(p)
                if FILE_SCAN.match(n["nodeName"])
                for m in n.get("metrics", ())
                if m["name"] == "number of output rows"
            }
            r.input_rows += sum(acc_values.get(a, 0) for a in scan_accs)
    return recs
