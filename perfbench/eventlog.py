"""Per-job-group task metrics from Spark's own JSON event log.

Spark writes one JSON event per line when `spark.eventLog.enabled` is
set (uncompressed, not rolling, for this reader). Jobs carry their job
group in the `spark.jobGroup.id` property; tasks carry their stage;
stages belong to the jobs that list them. SQL metrics such as the bytes
sent to Python workers arrive as task accumulables, and the SQL plan
events name the operator each accumulator belongs to.
"""

from __future__ import annotations

import json
from collections import defaultdict
from typing import Callable, Dict, Iterable, List, Optional, Tuple

# Summed task counters, by output name.
COUNTERS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "input_records", "python_bytes_out",
            "python_bytes_in", "udf_rows")

# Operators that evaluate a row-wise Python UDF; their output rows are
# the UDF's output rows.
UDF_NODES = ("ArrowEvalPython", "BatchEvalPython")


def read_events(path: str) -> List[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_accumulators(node: dict, out: Dict[int, Tuple[str, str]]):
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", ()):
        _plan_accumulators(child, out)


def _union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def stage_operators(stage_info: dict) -> List[str]:
    """Operator names in a stage's RDD scopes (e.g. 'MapInPandas')."""
    names = []
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope:
            names.append(json.loads(scope).get("name", ""))
    return names


def group_metrics(
    events: List[dict],
    split: Optional[Dict[str, Callable[[List[str]], str]]] = None,
) -> Dict[str, dict]:
    """Task counters, job counts and job/stage-covered time per group.

    `split` maps a group to a function of a stage's operator names that
    returns a sub-group suffix; that group's stages are then also
    reported under `<group>.<suffix>`. Jobs with no group are ignored.
    Times in the result are seconds; `covered_s` is the length of the
    union of the group's job (or, for a sub-group, stage) intervals.
    """
    split = split or {}
    job_group: Dict[int, str] = {}
    job_span: Dict[int, List[float]] = {}
    job_stages: Dict[int, List[int]] = {}
    stage_group: Dict[int, str] = {}
    stage_ops: Dict[int, List[str]] = {}
    stage_span: Dict[int, Tuple[float, float]] = {}
    accum: Dict[int, Tuple[str, str]] = {}
    tasks = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                job_group[e["Job ID"]] = group
                job_span[e["Job ID"]] = [e["Submission Time"] / 1e3,
                                         e["Submission Time"] / 1e3]
                job_stages[e["Job ID"]] = e["Stage IDs"]
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            stage_ops[sid] = stage_operators(info)
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[sid] = (info["Submission Time"] / 1e3,
                                   info["Completion Time"] / 1e3)
        elif kind.endswith(("SQLExecutionStart",
                            "SQLAdaptiveExecutionUpdate")):
            _plan_accumulators(e["sparkPlanInfo"], accum)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)

    out: Dict[str, dict] = defaultdict(
        lambda: dict({c: 0 for c in COUNTERS}, jobs=0, covered_s=0.0))

    def sub_of(group: str, sid: int) -> Optional[str]:
        fn = split.get(group)
        if fn is None:
            return None
        return f"{group}.{fn(stage_ops.get(sid, []))}"

    for e in tasks:
        sid = e["Stage ID"]
        group = stage_group.get(sid)
        if group is None:
            continue
        m = e.get("Task Metrics") or {}
        sh_r = m.get("Shuffle Read Metrics", {})
        add = {
            "tasks": 1,
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "shuffle_read_bytes": sh_r.get("Remote Bytes Read", 0)
            + sh_r.get("Local Bytes Read", 0),
            "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0),
            "input_records": m.get("Input Metrics", {}).get(
                "Records Read", 0),
            "python_bytes_out": 0, "python_bytes_in": 0, "udf_rows": 0,
        }
        for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
            name = acc.get("Name")
            if acc.get("Metadata") != "sql" or "Update" not in acc:
                continue
            val = int(acc["Update"])
            if name == "data sent to Python workers":
                add["python_bytes_out"] += val
            elif name == "data returned from Python workers":
                add["python_bytes_in"] += val
            elif (name == "number of output rows"
                  and accum.get(acc["ID"], ("",))[0] in UDF_NODES):
                add["udf_rows"] += val
        for g in filter(None, (group, sub_of(group, sid))):
            for k, v in add.items():
                out[g][k] += v

    for jid, group in job_group.items():
        out[group]["jobs"] += 1
    for group in set(job_group.values()):
        out[group]["covered_s"] = _union_length(
            tuple(job_span[j]) for j, g in job_group.items() if g == group)
    subs: Dict[str, List[int]] = defaultdict(list)
    for sid, group in stage_group.items():
        name = sub_of(group, sid)
        if name is not None and sid in stage_span:
            subs[name].append(sid)
    for name, sids in subs.items():
        out[name]["covered_s"] = _union_length(stage_span[s] for s in sids)
        out[name]["jobs"] = sum(
            1 for ids in job_stages.values() if set(ids) & set(sids))
    return dict(out)
