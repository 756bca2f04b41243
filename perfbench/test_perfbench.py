"""Self-tests of the benchmark (not of the program).

    python3 -m pytest perfbench -q

The smoke runs start one Spark session per workload and mode at tiny
sizes, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans as sp  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# -- generator --------------------------------------------------------------


def _make(seed: int, d: str) -> list[dict]:
    gen.write_files(gen.detections(gen.rng_for(seed, 1), 5_000, 0.15, 50),
                    os.path.join(d, "a"), 2)
    gen.write_files(gen.locations(), os.path.join(d, "b"), 1)
    gen.write_files(gen.table_rows(gen.rng_for(seed, 2), 0, 3_000, 10_000,
                                   stride=2), os.path.join(d, "t"), 3)
    return [gen.describe(os.path.join(d, x)) for x in ("a", "b", "t")]


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _make(7, str(tmp_path / "x")) == _make(7, str(tmp_path / "y"))


def test_other_seed_gives_other_inputs(tmp_path):
    a = _make(7, str(tmp_path / "x"))
    b = _make(8, str(tmp_path / "y"))
    assert a[0]["sha256"] != b[0]["sha256"] and a[2]["sha256"] != b[2]["sha256"]
    assert a[1] == b[1]  # dataB is fixed


def test_detections_shape():
    t = gen.detections(gen.rng_for(1, 1), 20_000, 0.15, 50)
    oid = t.column("detection_oid").to_numpy()
    assert t.num_rows == 20_000
    assert len(set(oid.tolist())) == 17_000  # 15% repeat a detection
    loc = t.column("geographical_location_oid").to_numpy()
    counts = [int((loc == i).sum()) for i in range(1, gen.N_LOCATIONS + 1)]
    assert counts[0] > 3 * max(counts[1:])  # location 1 is skewed


# -- span and job arithmetic -------------------------------------------------


def _span(i, parent, name, t0, t1, error=None):
    return sp.Span(i, parent, name, t0, t1, error)


SPANS = [
    _span(1, None, "op", 0.0, 10.0),
    _span(2, 1, "a", 1.0, 3.0),
    _span(3, 1, "b", 2.0, 5.0),
    _span(4, 3, "c", 2.5, 2.7),
]
JOBS = [
    sp.Job(0, 0.5, 1.5, [0]),   # inside op only
    sp.Job(1, 2.1, 4.0, [1]),   # inside op and b (a also spans 2.1): deepest, latest
    sp.Job(2, 2.6, 2.65, [2]),  # inside c
    sp.Job(3, 20.0, 21.0, [3]),  # outside every span
]
STAGES = {
    0: {k: 0 for k in sp.COUNTERS if k != "jobs"} | {"tasks": 2, "spill_bytes": 5},
    1: {k: 0 for k in sp.COUNTERS if k != "jobs"} | {"tasks": 3},
    2: {k: 0 for k in sp.COUNTERS if k != "jobs"} | {"tasks": 1},
}


def test_union_length_merges_overlaps():
    assert sp.union_length([(1, 3), (2, 5), (7, 8)]) == 5
    assert sp.union_length([]) == 0


def test_self_time_is_wall_minus_child_cover():
    st = sp.self_times(SPANS)
    assert st[1] == pytest.approx(10 - 4)  # children cover 1..5
    assert st[3] == pytest.approx(3 - 0.2)
    assert st[4] == pytest.approx(0.2)


def test_jobs_go_to_the_innermost_span():
    own = sp.attribute_jobs(SPANS, JOBS)
    assert [j.id for j in own[1]] == [0]
    assert [j.id for j in own[3]] == [1]
    assert [j.id for j in own[4]] == [2]
    assert 2 not in own


def test_counters_and_driver_gap():
    c = sp.span_counters(SPANS, JOBS, STAGES)
    assert c[1]["jobs"] == 3 and c[1]["tasks"] == 6 and c[1]["spill_bytes"] == 5
    # op: 10 s minus jobs covering 0.5..1.5 and 2.1..4.0
    assert c[1]["driver_gap_s"] == pytest.approx(10 - 1.0 - 1.9)
    assert c[3]["jobs"] == 2
    assert c[3]["driver_gap_s"] == pytest.approx(3 - 1.9)


def test_event_log_parser(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "JVM GC Time": 100,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                     "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Disk Bytes Spilled": 11,
            "Input Metrics": {"Records Read": 13, "Bytes Read": 17},
            "Output Metrics": {"Bytes Written": 19}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = sp.parse_event_log(str(path))
    assert (jobs[0].t0, jobs[0].t1, jobs[0].stages) == (1.0, 3.5, [0])
    assert stages[0] == {
        "stages": 1, "tasks": 1, "executor_run_s": 1.5, "gc_s": 0.1,
        "shuffle_read_bytes": 3, "shuffle_write_bytes": 7, "spill_bytes": 11,
        "input_rows": 13, "output_bytes": 19}


def test_tail_percentile():
    assert run.tail([3.0, 1.0, 2.0]) is None  # too few to have ten above
    assert run.tail(range(11)) == (0, 9)  # eleven: the lowest
    vals = list(range(1, 41))  # 40 samples: 10 above the 30th value
    assert run.tail(vals) == (30, 75)


def test_spec_lists_what_the_runner_emits():
    assert [m["name"] for m in SPEC["per_layer"]] == list(run.PER_LAYER)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.wl.WORKLOADS)


# -- smoke runs --------------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    kind = "per_layer" if trace else "end_to_end"
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC[kind]}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    report = json.loads(out[-2].removeprefix("report: "))
    assert report["workload"] == workload and report["inputs"]
