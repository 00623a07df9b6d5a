"""Self-tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import pickle
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import eventlog  # noqa: E402
from perfbench.harness import PER_LAYER, gmean, tail  # noqa: E402
from perfbench.spans import Tracer, layer_self, layer_wall, self_times, union_length  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "thread": "t"}


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        span(0, "plans.water_map.make", 0.0, 10.0),
        span(1, "operators.tiling.a", 1.0, 4.0, parent=0),
        span(2, "operators.labeling.b", 3.0, 6.0, parent=0),   # overlaps span 1 (helper thread)
        span(3, "operators.tiling.c", 9.0, 12.0, parent=0),    # runs past its parent: clipped
        span(4, "core.io.read", 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 1))  # children cover [1,6] and [9,10]
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[4] == pytest.approx(0.5)
    assert layer_self(spans, "operators.tiling") == pytest.approx(2.5 + 3.0)
    assert layer_wall(spans, "operators.tiling") == pytest.approx(3 + 3)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    value, pct, n = tail([float(i) for i in range(20)])
    assert (value, pct, n) == (9.0, 50.0, 20)
    # too few samples for any percentile at or above the median: maximum
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(19)])[0] == 18.0


def test_gmean_weighs_every_operation_alike():
    assert gmean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    assert gmean([1.0, 100.0]) == pytest.approx(10.0)
    # scaling one operation by k moves the mean of n operations by k ** (1 / n)
    assert gmean([1.0, 4.0, 9.0, 16.0]) * 2 ** 0.25 == pytest.approx(gmean([1.0, 4.0, 9.0, 32.0]))


def test_eventlog_parse_totals_idle_and_skew():
    log = eventlog.parse(FIXTURE)
    assert sorted(log["jobs"]) == [0, 1, 2, 3]
    assert log["jobs"][0]["span"] == 3 and log["jobs"][1]["span"] is None
    jobs = eventlog.jobs_in(log, 1000.0, 1003.0)
    assert jobs == [0, 1]  # jobs 2 and 3 start after the window
    tot = eventlog.totals(log, jobs)
    assert tot == {"jobs": 2, "tasks": 6, "shuffle_write_bytes": 3000, "spill_bytes": 512, "input_bytes": 8192}
    # busy [1000, 1001] and [1002, 1002.5] inside a [1000, 1003] window
    assert eventlog.idle_seconds(log, jobs, 1000.0, 1003.0) == pytest.approx(1.5)
    # last multi-task stage: run times 100, 100, 400 ms -> 400 / 100
    assert eventlog.task_skew(log, [0, 1]) == pytest.approx(4.0)
    assert eventlog.task_skew(log, [1]) == 0.0  # one task only


def test_eventlog_attribution_by_property_then_by_time():
    log = eventlog.parse(FIXTURE)
    spans = [
        span(0, "bench.pass", 999.0, 1003.0),
        span(1, "plans.water_map.make", 1001.5, 1002.8, parent=0),
        span(2, "operators.labeling.label", 1001.8, 1001.9, parent=1),
        span(3, "operators.tiling.select", 999.5, 1001.2, parent=0),
    ]
    att = eventlog.attribute(log, [0, 1], spans)
    assert att == {0: 3, 1: 1}  # job 1 has no property: innermost open span


def test_traced_wrapper_records_a_span_and_pickles_to_the_original():
    from perfbench.spans import _Traced

    tr = Tracer()
    wrapped = _Traced(tr, union_length, "perfbench.spans.union_length")
    assert wrapped([(0, 2)]) == 2
    assert [s["name"] for s in tr.spans] == ["perfbench.spans.union_length"]
    assert tr.spans[0]["end"] >= tr.spans[0]["start"] and tr.spans[0]["parent"] is None
    # Python workers unpickle the plain function, never the tracer
    assert pickle.loads(pickle.dumps(wrapped)) is union_length


def test_stream_check_references():
    import datetime as dt

    import numpy as np
    import pyarrow as pa

    from perfbench.streams import components, inside, replay_alerts

    assert components([1, 2, 3, 4], [(1, 2), (2, 3)]) == {frozenset({1, 2, 3}), frozenset({4})}
    square = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]])  # (lon, lat)
    assert inside(square, np.array([1.0, 3.0, 1.0]), np.array([1.0, 1.0, -0.5])).tolist() == [True, False, False]

    def t(h):
        return dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)

    def pings(rows):  # (user, hour, lon, lat)
        u, h, lon, lat = zip(*rows)
        return pa.table({"user_id": list(u), "ts": [t(x) for x in h], "lon": list(lon), "lat": list(lat)})

    fence = [{"poly_id": 7, "ring": square}]
    batches = [
        (0, pings([(1, 0, 1, 1), (2, 0, 5, 5)])),   # user 1 enters
        (1, pings([(1, 1, 5, 5), (3, 1, 1, 1)])),   # user 1 leaves, user 3 enters
        (2, pings([(1, 2, 1, 1)])),                 # user 1 re-enters; user 3 absent: visit stays open
        (3, pings([(3, 3, 5, 5), (3, 3.5, 6, 6)])),  # user 3 leaves, at its last ping
    ]
    assert replay_alerts(batches, fence) == {
        (0, 1, 7, "entry", t(0)), (1, 1, 7, "exit", t(1)), (1, 3, 7, "entry", t(1)),
        (2, 1, 7, "entry", t(2)), (3, 3, 7, "exit", t(3.5)),
    }


def test_query_rows_compare_exactly_but_floats_within_summation_error():
    from perfbench.w_query_mix import same_rows

    want = [("MACHINERY", 1344, 249875.045312), ("BUILDING", 1312, 247571.181570)]
    # another summation order: the average lands on the other side of a
    # rounding boundary; rows and columns come in another order
    got = [(247571.181570, "BUILDING", 1312), (249875.045313, "MACHINERY", 1344)]
    cols = ["seg", "n", "avg"]
    assert same_rows(got, ["avg", "seg", "n"], want, cols)
    assert not same_rows(got[:1], ["avg", "seg", "n"], want[:1], cols)  # different rows
    assert not same_rows([(247571.181570, "BUILDING", 1313)], ["avg", "seg", "n"], want[1:], cols)
    assert not same_rows([(247571.2, "BUILDING", 1312)], ["avg", "seg", "n"], want[1:], cols)
    assert not same_rows(got, ["avg", "seg", "x"], want, cols)


def test_benchmark_json_matches_the_metrics_the_code_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [m["name"] for m in spec["end_to_end"]] == ["setup_s", "items_per_s", "op_gmean_s"]
    assert {w["name"] for w in spec["workloads"]} == {"tile_assign", "query_mix"}
