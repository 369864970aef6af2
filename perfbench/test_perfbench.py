"""Self-tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from perfbench import datagen, run, stats, trace

BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


# --- tail percentile: the highest one with at least ten samples beyond it ---


@pytest.mark.parametrize("n, p", [
    (1, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_ladder(n, p):
    assert stats.tail_percentile(n) == p


@pytest.mark.parametrize("n", [20, 40, 57, 100, 250, 1000, 12_345])
def test_tail_keeps_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    p, value = stats.tail(values)
    assert sum(v > value for v in values) >= stats.MIN_BEYOND
    higher = [q for q in stats.TAIL_LADDER if q > p]
    # no higher ladder percentile would still have ten samples beyond it
    assert all(round(n * (100 - q) / 100, 9) < stats.MIN_BEYOND for q in higher)


def test_quantile_matches_linear_rule():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.quantile([0.0, 10.0], 0.25) == 2.5
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


# --- metric names ------------------------------------------------------------


def test_metric_names_pattern():
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    stats.check_metric_names(names)
    for bad in ("spark jobs", "", ".hidden", "a/b", "x" * 65, "rate%"):
        with pytest.raises(ValueError):
            stats.check_metric_names([bad])


def test_benchmark_json_matches_the_runner():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert {w["name"] for w in BENCHMARK["workloads"]} == {"etl_prism", "llm_ops"}
    assert max(m["bound"] for m in BENCHMARK["end_to_end"]) == next(
        m["bound"] for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")


# --- event-log reducer on a canned log ---------------------------------------


def _task(stage, launch, run_ms, cpu_ns, shuffle, spill):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


CANNED = [
    {"Event": "SparkListenerLogStart"},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0, "time": 1_000, "jobGroupId": "m0:build"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_010, "Stage IDs": [0],
     "Properties": {"spark.jobGroup.id": "m0:build"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1_020}},
    _task(0, 1_030, 200, 100_000_000, 0, 0),
    _task(0, 1_070, 300, 200_000_000, 0, 0),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_200, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "m0:action"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": 1_210}},
    _task(1, 1_210, 100, 50_000_000, 4096, 512),
    # a streaming job: no job group, attributed by time to m1
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2_500, "Stage IDs": [3],
     "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3, "Submission Time": 2_500}},
    _task(3, 2_600, 1_000, 0, 0, 0),
    # outside every window and group: ignored
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 9_000, "Stage IDs": [4],
     "Properties": {}},
    _task(4, 9_000, 1_000, 0, 0, 0),
]


def test_reduce_event_log_canned():
    lines = [json.dumps(e) for e in CANNED]
    rec = trace.reduce_event_log(lines, [("m0", 900, 2_000), ("m1", 2_000, 3_000)])
    assert rec["m0"] == {
        "sql_executions": 1, "jobs": 2, "build_jobs": 1, "stages": 2, "tasks": 3,
        "run_s": pytest.approx(0.6), "cpu_s": pytest.approx(0.35),
        "shuffle_write_bytes": 4096, "spill_bytes": 512,
        "task_wait_s": pytest.approx(0.06),
    }
    assert rec["m1"]["jobs"] == 1 and rec["m1"]["tasks"] == 1
    assert rec["m1"]["task_wait_s"] == pytest.approx(0.1)
    assert set(rec) == {"m0", "m1"}


# --- span recorder -------------------------------------------------------------


def test_span_recorder_counts_outer_span_once():
    rec = trace.SpanRecorder()

    class Layer:
        def work(self, depth):
            return self.work(depth - 1) if depth else "done"

    assert rec.wrap(Layer, "work", "layer.work_s")
    assert not rec.wrap(Layer, "absent", "layer.absent_s")
    rec.op = "m0"
    assert Layer().work(3) == "done"
    rec.add("layer.rows", 7)
    rec.op = None
    totals = rec.totals("m0")
    assert set(totals) == {"layer.work_s", "layer.rows"} and totals["layer.rows"] == 7
    assert sum(1 for s in rec.spans if s[1] == "layer.work_s") == 1
    rec.restore()
    assert not hasattr(Layer.work, "__wrapped__")


# --- seeded inputs ----------------------------------------------------------------


def _digest(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def _build(tmp: Path, seed: int) -> dict[str, str]:
    tables = datagen.permute(datagen.make_tables(0.001), seed)
    out = datagen.write_parquet_dir(tables, tmp / "data")
    db = datagen.write_sqlite(tables, tmp / "prism.sqlite3")
    zipped = datagen.write_zip(db, "prism.sqlite3", tmp / "prism.zip")
    files = sorted(out.iterdir()) + [db, zipped]
    return {p.name: _digest(p) for p in files}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _build(tmp_path / "a", 5)
    b = _build(tmp_path / "b", 5)
    c = _build(tmp_path / "c", 6)
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    assert a["prism.zip"] != c["prism.zip"]
    assert datagen.last_modified_for(5) == datagen.last_modified_for(5)
    assert datagen.last_modified_for(5) != datagen.last_modified_for(6)


def test_seed_permutes_rows_but_keeps_content():
    base = datagen.make_tables(0.001)
    one, two = datagen.permute(base, 1), datagen.permute(base, 2)
    for name in base:
        assert one[name].num_rows == base[name].num_rows
        key = base[name].column_names[0]
        assert sorted(one[name].column(key).to_pylist()) == sorted(two[name].column(key).to_pylist())
    assert one["lineitem"].column(0).to_pylist() != two["lineitem"].column(0).to_pylist()


# --- steal-adjusted timing and process cleanup --------------------------------------


def test_stopwatch_removes_the_stolen_share(monkeypatch):
    ticks = iter([(1000, 50), (1300, 150)])  # 300 busy and 100 stolen ticks
    clock = iter([10.0, 14.0])
    monkeypatch.setattr(run, "cpu_ticks", lambda: next(ticks))
    monkeypatch.setattr(run.time, "perf_counter", lambda: next(clock))
    assert run.Stopwatch().stop() == (4.0, 3.0)


def test_stopwatch_keeps_wall_time_without_cpu_use(monkeypatch):
    ticks = iter([(7, 3), (7, 3)])
    clock = iter([1.0, 3.5])
    monkeypatch.setattr(run, "cpu_ticks", lambda: next(ticks))
    monkeypatch.setattr(run.time, "perf_counter", lambda: next(clock))
    assert run.Stopwatch().stop() == (2.5, 2.5)


def test_descendants_skip_zombies_and_other_trees():
    table = {1: (0, "S"), 10: (1, "S"), 11: (10, "S"), 12: (11, "R"), 13: (10, "Z"), 20: (1, "S")}
    assert sorted(run.descendants(10, table)) == [11, 12]


def test_stop_children_ends_and_reaps_a_child():
    import subprocess
    import sys

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    run.stop_children(grace_s=0.5)
    assert child.poll() is not None
    assert child.pid not in run.descendants(run.os.getpid())
