import json
import os

import workloads

BENCH = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_benchmark_json_lists_the_metrics_the_runs_print():
    with open(BENCH) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == \
        list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["end_to_end"]] == list(workloads.END_TO_END)
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == \
        workloads.per_layer_catalogue()
    assert len(bench["per_layer"]) <= 128
