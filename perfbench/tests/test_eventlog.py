"""The event-log reader on a small recorded log.

tiny_eventlog.jsonl is a real Spark 4.1 event log, trimmed to the
fields the reader uses, of: an ungrouped count, then job group "g.one"
(a pandas UDF over 100 rows, a hash repartition, mapInPandas, count)
and job group "g.two" (a 50-row groupBy + collect).
"""

import math
import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


def _split(ops):
    if "MapInPandas" in ops:
        return "invert"
    if "ArrowEvalPython" in ops:
        return "exchange"
    return "other"


@pytest.fixture(scope="module")
def events():
    return eventlog.read_events(LOG)


def _recount(events, field):
    """Tasks and run time per group, recounted straight from the log."""
    group_of_stage = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = e["Properties"].get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                group_of_stage.setdefault(sid, g)
    out = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            g = group_of_stage[e["Stage ID"]]
            if g is not None:
                add = (1 if field == "tasks"
                       else e["Task Metrics"]["Executor Run Time"] / 1e3)
                out[g] = out.get(g, 0) + add
    return out


def test_jobs_without_a_group_are_ignored(events):
    assert set(eventlog.group_metrics(events)) == {"g.one", "g.two"}


def test_task_end_events_map_to_their_job_group(events):
    groups = eventlog.group_metrics(events)
    assert {g: v["tasks"] for g, v in groups.items()} == \
        _recount(events, "tasks") == {"g.one": 5, "g.two": 3}
    for g, run_s in _recount(events, "run_s").items():
        assert math.isclose(groups[g]["run_s"], run_s)
    assert groups["g.one"]["jobs"] == 3 and groups["g.two"]["jobs"] == 2
    assert groups["g.two"]["input_records"] == 50


def test_python_udf_rows_and_bytes(events):
    groups = eventlog.group_metrics(events)
    one, two = groups["g.one"], groups["g.two"]
    # only the pandas UDF's own output rows count, not mapInPandas'
    assert one["udf_rows"] == 100
    assert one["python_bytes_out"] > 0 and one["python_bytes_in"] > 0
    assert (two["udf_rows"], two["python_bytes_out"],
            two["python_bytes_in"]) == (0, 0, 0)


def test_stages_split_into_sub_groups(events):
    groups = eventlog.group_metrics(events, {"g.one": _split})
    one = groups["g.one"]
    ex, inv = groups["g.one.exchange"], groups["g.one.invert"]
    assert ex["udf_rows"] == 100 and inv["udf_rows"] == 0
    assert ex["shuffle_write_bytes"] == inv["shuffle_read_bytes"] > 0
    assert sum(groups[f"g.one.{s}"]["tasks"]
               for s in ("exchange", "invert", "other")) == one["tasks"]
    assert (ex["jobs"], inv["jobs"]) == (1, 1)
    assert 0 < ex["covered_s"] <= one["covered_s"]
    assert 0 < inv["covered_s"] <= one["covered_s"]
    assert "g.two.other" not in groups


def test_covered_time_is_the_union_of_job_intervals():
    assert eventlog._union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog._union_length([(0, 5), (1, 2)]) == 5
    assert eventlog._union_length([]) == 0
