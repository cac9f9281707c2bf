"""The benchmark's own checks.

    python3 -m pytest perfbench/test_perfbench.py -q

The unit checks take seconds; the smoke runs start Spark once per
workload and trace mode and take a few minutes in all.
"""

from __future__ import annotations

import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

import eventlog
import inputs
import run
from stats import geomean, highest_reportable, percentile

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def test_percentile_matches_inclusive_quartiles():
    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3, 5.8, 9.7]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    assert percentile(values, 25) == pytest.approx(q1)
    assert percentile(values, 50) == pytest.approx(q2) == pytest.approx(statistics.median(values))
    assert percentile(values, 75) == pytest.approx(q3)
    assert percentile([7.0], 90) == 7.0


def test_sample_count_rule_needs_ten_beyond():
    assert highest_reportable(5) == 50  # the median is always reported
    assert highest_reportable(39) == 50
    assert highest_reportable(40) == 75
    assert highest_reportable(99) == 75
    assert highest_reportable(100) == 90
    assert highest_reportable(200) == 95
    assert highest_reportable(1000) == 99


def test_geomean():
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)


def _ev(**kw):
    return json.dumps(kw)


def _task(stage, run_ms, cpu_ns=1000, shuffle=0, records=0, nbytes=0, failed=False):
    return _ev(**{
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Input Metrics": {"Bytes Read": nbytes, "Records Read": records},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    })


def _job(job, group, execution, stages, submit, complete):
    return [
        _ev(**{"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": submit,
               "Stage IDs": stages,
               "Properties": {"spark.jobGroup.id": group, "spark.sql.execution.id": str(execution)}}),
        _ev(**{"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": complete}),
    ]


def _stage(stage, submit, complete):
    return _ev(**{"Event": "SparkListenerStageCompleted",
                  "Stage Info": {"Stage ID": stage, "Submission Time": submit,
                                 "Completion Time": complete}})


def _plan(execution, text):
    return _ev(**{"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                  "executionId": execution, "physicalPlanDescription": text})


RUN_DIR = "/w/store/chunks/run_id=abc"


def _encode_log():
    lines = [
        _plan(1, "Scan parquet\nLocation: InMemoryFileIndex [file:/w/input]"),
        _plan(2, "Execute InsertIntoHadoopFsRelationCommand\n"
                 f"Arguments: file:{RUN_DIR}, false, Parquet"),
        _plan(3, f"Location: InMemoryFileIndex [file:{RUN_DIR}]\n"
                 "Arguments: file:/w/store/lineage/current, false, Parquet"),
        *_job(0, "enc", 1, [0], 1000, 1500),  # driver sample before the write
        _stage(0, 1000, 1500), _task(0, 400, records=7, nbytes=70),
        *_job(1, "enc", 2, [1], 2000, 2300),  # write: scan + shuffle map stage
        _stage(1, 2000, 2300), _task(1, 250, shuffle=900),
        *_job(2, "enc", 2, [1, 2], 2300, 3300),  # write: encode-and-write stage
        _stage(2, 2300, 3300),
        _task(2, 100, cpu_ns=2e9), _task(2, 200), _task(2, 600, failed=True),
        *_job(3, "enc", 3, [3], 3400, 3600),  # lineage commit after the write
        _stage(3, 3400, 3600), _task(3, 150, records=2, nbytes=20),
        *_job(4, "other", 4, [4], 5000, 5100),
        _stage(4, 5000, 5100), _task(4, 50, records=3, nbytes=30),
    ]
    return eventlog.parse(lines)


def test_eventlog_encode_split():
    log = _encode_log()
    split = eventlog.encode_split(log, "enc", RUN_DIR)
    assert split.spark_jobs == 4
    assert split.pre_write_jobs_s == pytest.approx(0.5)
    assert split.post_write_jobs_s == pytest.approx(0.2)
    assert split.scan_stage_s == pytest.approx(0.3)
    assert split.encode_stage_s == pytest.approx(1.0)
    assert split.encode_task_run_s == pytest.approx(0.9)
    assert split.encode_task_cpu_s == pytest.approx(2.000002)
    assert split.encode_task_max_over_median == pytest.approx(3.0)
    assert split.shuffle_write_bytes == 900
    assert split.gc_s == pytest.approx(0.03)  # 6 tasks of the group, 5 ms each
    assert log.failed_tasks() == 1


def test_eventlog_scan_counts_by_group():
    log = _encode_log()
    assert eventlog.scan_counts(log, "other") == (3, 30)
    assert eventlog.scan_counts(log, "enc") == (9, 90)


def test_eventlog_write_needs_insert_target():
    assert eventlog.writes_to(f"Arguments: file:{RUN_DIR}, false", RUN_DIR)
    assert not eventlog.writes_to(f"Location: InMemoryFileIndex [file:{RUN_DIR}]", RUN_DIR)
    with pytest.raises(ValueError):
        eventlog.encode_split(_encode_log(), "other", RUN_DIR)


def test_digest_is_order_independent_and_sees_nulls():
    t = pa.table({"a": pa.array([1, 2, 3], pa.int64()), "s": pa.array(["x", None, "z"])})
    shuffled = t.take([2, 0, 1])
    assert inputs.table_digest(t) == inputs.table_digest(shuffled)
    nulled = pa.table({"a": t["a"], "s": pa.array(["x", "", "z"])})
    assert inputs.table_digest(t) != inputs.table_digest(nulled)
    swapped = pa.table({"a": pa.array([2, 1, 3], pa.int64()), "s": t["s"]})
    assert inputs.table_digest(t)["columns"]["a"] == inputs.table_digest(swapped)["columns"]["a"]
    assert inputs.table_digest(t) != inputs.table_digest(swapped)


def test_inputs_repeat_for_a_seed():
    assert inputs.lineitem_table(3, 500).equals(inputs.lineitem_table(3, 500))
    assert not inputs.lineitem_table(3, 500).equals(inputs.lineitem_table(4, 500))
    assert inputs.conv_id_range(2, 600) == (1200, 1800)


def test_benchmark_json_names_match_the_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "encode_lineitem", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.per_layer_units() if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
