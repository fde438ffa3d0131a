"""Tests for the benchmark itself (not part of the engine's suite).

    python -m pytest perfbench/tests -q

The smoke runs start a Spark session each; the whole file takes a few
minutes on four cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
with open(os.path.join(BENCH, "spec.json")) as _f:
    DETAIL = json.load(_f)

# per-layer metrics that must show work on each workload's traced run
EXERCISED = {
    "battery": ["session.start_s", "queries.construct_s", "queries.construct_jobs",
                "queries.construct_py4j_calls", "spark.plan_s", "spark.execute_s",
                "spark.jobs", "spark.tasks", "spark.executor_run_s", "py4j.calls_per_query",
                "python.rows_to_workers", "python.bytes_to_workers"],
    "refresh": ["session.start_s", "spark.jobs", "py4j.calls_per_op", "mirror.sync_s",
                "mirror.bytes_fetched", "mirror.files_changed", "mirror.files_listed",
                "parse.rows_in", "parse.rows_out", "pipeline.run_s", "pipeline.analytics_s",
                "pipeline.attempts", "delta_log.write_delta_ms", "delta_log.delta_delete_ms",
                "delta_log.delta_update_ms", "delta_log.delta_merge_upsert_ms",
                "delta_log.delta_compact_ms", "delta_log.read_delta_ms",
                "delta_log.read_delta_changes_ms", "delta_log.commit_p50_ms",
                "delta_log.read_p50_ms", "delta_log.write_amp", "delta_log.replay_calls",
                "delta_log.files_added", "delta_log.bytes_written", "dv.bytes_written"],
}


def _run(workload: str, trace: int, cwd: str = ROOT, script: str | None = None):
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_end_to_end_metric(workload):
    res = _result(_run(workload, 0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    res = _result(_run(workload, 1))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    idle = [n for n in EXERCISED[workload] if not res["metrics"][n]["value"] > 0]
    assert not idle, f"{workload}: no work recorded for {idle}"


def test_refresh_inputs_are_a_function_of_the_seed():
    a, b, c = (datagen.refresh_inputs(s, series_per_file=20) for s in (5, 5, 6))
    assert a.files == b.files and a.files_v2 == b.files_v2 and a.ops == b.ops
    assert a.population == b.population and a.rows == b.rows
    assert a.ops != c.ops and a.files != c.files and a.files_v2 != c.files_v2
    assert [op["op"] for op in a.ops] == list(datagen.OP_ROUND)


def test_percentile_is_the_harrell_davis_estimate():
    from tracing import percentile

    assert percentile([0.7], 0.9) == 0.7
    assert percentile([2.0] * 9, 0.9) == pytest.approx(2.0)
    # symmetric samples: the median estimate is the centre
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    # n = 3, q = 0.5: Beta(2, 2) puts 7/27, 13/27 and 7/27 on the thirds;
    # the midpoint rule gets within 1e-4 of it
    assert percentile([0.0, 0.0, 27.0], 0.5) == pytest.approx(7.0, rel=1e-4)
    xs = [0.01, 0.3, 0.35, 0.4, 0.45, 0.5, 0.6, 1.0, 1.2, 4.0]
    assert percentile(xs, 0.5) < percentile(xs, 0.75) < percentile(xs, 0.9) < max(xs)


def test_battery_members_are_read_only_registry_queries():
    sys.path.insert(0, ROOT)
    from rearc_data_engineer_takehome_spark.queries import REGISTRY

    members, excluded = DETAIL["battery"]["members"], DETAIL["excluded"]
    assert members and set(members) <= set(REGISTRY)
    assert not set(members) & set(excluded)


def test_battery_tables_match_their_checksums():
    sums = {k: v for k, v in DETAIL["data"].items() if not k.startswith("_")}
    for sf, files in sums.items():
        folder = os.path.join(BENCH, "data", sf)
        assert sorted(os.listdir(folder)) == sorted(files)
        for name, digest in files.items():
            with open(os.path.join(folder, name), "rb") as f:
                assert hashlib.sha256(f.read()).hexdigest() == digest, (sf, name)


def test_fails_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench")
    proc = _run("battery", 0, cwd=str(tmp_path), script=str(tmp_path / "perfbench" / "run.py"))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
