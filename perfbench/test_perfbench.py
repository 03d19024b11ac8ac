"""Self-tests of the benchmark harness.

    python -m pytest perfbench -q

The last two tests run the benchmark itself with a one-second warm
phase: ``amplab_csv`` untraced and ``catalog_kernels`` traced (about two
minutes together).
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import subprocess
import sys

import pytest

import gen_amplab
import run
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))


def _digest(meta: dict) -> str:
    h = hashlib.sha256()
    for table in ("rankings", "uservisits"):
        for name in sorted(os.listdir(meta[table]["path"])):
            with open(os.path.join(meta[table]["path"], name), "rb") as fh:
                h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_generator_same_seed_same_bytes(tmp_path):
    a = gen_amplab.generate(str(tmp_path / "a"), 7, 40_000, 4)
    b = gen_amplab.generate(str(tmp_path / "b"), 7, 40_000, 4)
    c = gen_amplab.generate(str(tmp_path / "c"), 8, 40_000, 4)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    uv = a["uservisits"]
    assert uv["rows"] == 40_000 and uv["files"] == 4
    assert 0.003 < uv["malformed_share"] < 0.007
    assert 0 < uv["groups_per_row"] <= 1
    # the published AMPLab selectivities of 1a and 1b: 0.037% and 3.7%
    assert 0.0001 < a["rankings"]["share_1a"] < 0.001
    assert 0.03 < a["rankings"]["share_1b"] < 0.045
    lines = 0
    for f in os.listdir(uv["path"]):
        with gzip.open(os.path.join(uv["path"], f), "rt") as fh:
            lines += sum(1 for _ in fh)
    assert lines == uv["rows"]


def test_generator_cache_keeps_recent_seeds(tmp_path):
    cache = str(tmp_path / "cache")
    for seed in (1, 2, 3):
        gen_amplab.cached(cache, seed, 4_000, 2, keep=2)
    kept = sorted(os.listdir(cache))
    assert len(kept) == 2 and not any(k.endswith("-s1") for k in kept)
    again = gen_amplab.cached(cache, 3, 4_000, 2, keep=2)
    assert again["uservisits"]["path"].startswith(cache)


def test_oracle_reads_parts_that_start_malformed(tmp_path):
    import duckdb

    import workloads

    meta = gen_amplab.generate(str(tmp_path / "d"), 3, 8_000, 2)
    with gzip.open(os.path.join(meta["uservisits"]["path"], "part-99999.csv.gz"), "wt") as fh:
        fh.write("1.2.3.4,brokenrow\n5.6.7.8,u,2001-01-01,1.5000,a,USA,US-USA,w,3\n")
    con = duckdb.connect()
    workloads.amplab_duck_setup(con, meta)
    well_formed = meta["uservisits"]["rows"] - meta["uservisits"]["malformed_rows"]
    assert con.sql("SELECT count(*) FROM uservisits").fetchone()[0] == well_formed + 1
    assert con.sql("SELECT count(*) FROM rankings").fetchone()[0] == meta["rankings"]["rows"]


def test_parse_metric_renderings():
    assert tracing.parse_metric("7 ms") == pytest.approx(0.007)
    assert tracing.parse_metric("5,000") == 5000
    assert tracing.parse_metric("580.6 KiB") == pytest.approx(580.6 * 1024)
    multi = "total (min, med, max (stageId: taskId))\n1.2 s (10 ms, 20 ms, 30 ms (stage 3.0: task 5))"
    assert tracing.parse_metric(multi) == pytest.approx(1.2)


def test_union_seconds_clips_and_merges():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 9.0), (10.0, 11.0)]
    assert tracing.union_seconds(spans, 0.5, 8.0) == pytest.approx(2.5 + 3.0)
    assert tracing.union_seconds([], 0.0, 1.0) == 0.0


def test_pass_layers_sum_the_legs():
    leg = {
        "wall_s": 2.0, "build_s": 0.3, "busy_s": 1.5, "build_jobs": 1, "stages": 3,
        "tasks": 9, "executor_run_s": 4.0, "executor_cpu_s": 3.0, "gc_s": 0.1,
        "shuffle_write_b": 2**20, "shuffle_write_records": 10, "fetch_wait_s": 0.0,
        "spill_b": 0, "failed_tasks": 0, "input_b": 2**21, "input_records": 100,
        "task_skew": 1.5, "filter_rows": 95.0, "manifest": {"rows_written": 4},
        "raw_lines": 100, "combine": True, "act_stages": 2, "outside_s": 0.0,
        **{name: 0.0 for name, _, _ in tracing._SQL_COUNTERS},
    }
    legs = [leg, dict(leg, combine=False, raw_lines=0, manifest={})]
    layers = tracing.pass_layers(legs)
    assert layers["trace.pass_s"] == pytest.approx(4.0)
    assert layers["operators.busy_s"] == pytest.approx(3.0)
    assert layers["sources.malformed_rows"] == 5
    assert layers["operators.combine_ratio"] == pytest.approx(0.1)
    assert layers["sinks.rows_written"] == 4
    assert set(layers) | {"session.import_s", "session.start_s", "trace.overhead_s"} == {
        k for k in run.PER_LAYER if not k.startswith("key.")
    }
    assert tracing.pass_checks(legs) == {"outside_s": 0.0, "idle_actions": 0}
    idle = dict(leg, busy_s=0.0, outside_s=0.2)
    assert tracing.pass_checks([leg, idle]) == {"outside_s": 0.2, "idle_actions": 1}


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_untraced_run_prints_every_end_to_end_metric():
    record, result = _run("amplab_csv", 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["env"]["nproc"] == len(os.sched_getaffinity(0))


def test_traced_run_layers_account_for_the_traced_pass_wall():
    record, result = _run("catalog_kernels", 1)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    # build + busy + gap = wall holds by definition (gap is the rest);
    # what can fail is where the REST stage times fall: every action
    # stage inside its timed action (REST times are whole milliseconds),
    # and busy time in every action that ran stages
    assert record["traced_passes"] and len(record["trace_checks"]) == len(record["traced_passes"])
    for layers, checks in zip(record["traced_passes"], record["trace_checks"]):
        assert layers["operators.stages"] > 0 and layers["operators.busy_s"] > 0
        assert checks["outside_s"] <= 0.005
        assert checks["idle_actions"] == 0
    spans = os.path.join(os.path.dirname(HERE), record["spans"])
    with open(spans) as fh:
        names = {s["name"] for s in json.load(fh)}
    assert {"session.get_spark", "build", "action"} <= names
