import json
import math

from measure import Tracer, tail_percentile


def test_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile(list(range(1, 20))) is None
    assert tail_percentile(list(range(1, 21))) == (50.0, 10)
    assert tail_percentile(list(range(1, 40))) == (50.0, 20)
    assert tail_percentile(list(range(1, 41))) == (75.0, 30)
    assert tail_percentile(list(range(1, 101))) == (90.0, 90)
    assert tail_percentile(list(range(1, 201))) == (95.0, 190)
    assert tail_percentile(list(range(1, 1001))) == (99.0, 990)


def test_failed_operations_count_as_infinite_latency():
    samples = [0.1] * 9 + [math.inf] * 11
    assert tail_percentile(samples) == (50.0, math.inf)


def test_span_writer_keeps_parent_and_query_id(tmp_path):
    tr = Tracer()
    with tr.span("query", qid="q0"):
        with tr.span("query.parser", qid="q0"):
            pass
        with tr.span("query.executor.exec", qid="q0"):
            pass
    with tr.span("index.segments.build"):
        pass
    path = tmp_path / "spans.jsonl"
    tr.write(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == [
        "query", "query.parser", "query.executor.exec",
        "index.segments.build"]
    assert [r["id"] for r in rows] == [0, 1, 2, 3]
    assert [r["parent"] for r in rows] == [None, 0, 0, None]
    assert [r["qid"] for r in rows] == ["q0", "q0", "q0", None]
    assert all(r["start"] <= r["end"] for r in rows)
    assert rows[0]["start"] <= rows[1]["start"] <= rows[2]["end"] \
        <= rows[0]["end"]
    assert tr.durations("query.parser") == [rows[1]["end"]
                                            - rows[1]["start"]]
