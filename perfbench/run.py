#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload amplab_csv --seed 1 --seconds 14 --trace 0

Run from the repository root. Each run starts fresh worker processes
(``worker.py``), so the numbers include what a user's own job pays:

- ``setup_s``: spawn of a worker until its session has run a one-row
  job; the median of ``SETUP_SAMPLES`` workers.
- ``cold_pass_s``: the first pass over the workload's queries in that
  session; ``warm_pass_s``: the median of the later passes, run for
  ``--seconds``.
- ``peak_rss_mb``: peak resident memory of the driver's Python process
  plus its JVM (in local mode the executors live in that JVM).
- ``live_heap_mb``: the JVM heap still in use after a full collection
  at the end of the run, once every query has run and been checked.

Every query's output is checked against DuckDB after the timed passes;
a query that raises or disagrees counts as failed. With ``--trace 1``
the run measures the per-layer split instead (see ``README.md``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is
0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import time

from workloads import AMPLAB_KEYS, CATALOG_KEYS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lambda_refarch_mapreduce_spark"

WORKLOADS = ("amplab_csv", "catalog_kernels")
SETUP_SAMPLES = 3
# amplab_csv input size: uservisits rows and part files
AMPLAB_VISITS = 4_000_000
AMPLAB_PARTS = 16
DRIVER_MEM = "4g"
# a run must end within 180 s; workers are stopped at this many
RUN_DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "peak_rss_mb": "MiB",
    "live_heap_mb": "MiB",
}
PER_LAYER = {
    "session.import_s": "s",
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sources.input_mb": "MiB",
    "sources.input_rows": "count",
    "sources.files_read": "count",
    "sources.scan_s": "s",
    "sources.malformed_rows": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.busy_s": "s",
    "operators.stage_gap_s": "s",
    "operators.task_skew": "ratio",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.codegen_s": "s",
    "operators.python_s": "s",
    "operators.python_mb": "MiB",
    "operators.broadcast_s": "s",
    "operators.shuffle_write_mb": "MiB",
    "operators.fetch_wait_s": "s",
    "operators.spill_mb": "MiB",
    "operators.failed_tasks": "count",
    "operators.agg_build_s": "s",
    "operators.combine_ratio": "ratio",
    "sinks.rows_written": "count",
    "sinks.output_mb": "MiB",
    "sinks.files_written": "count",
    "sinks.task_commit_s": "s",
    "sinks.job_commit_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
KEYS = AMPLAB_KEYS + tuple(CATALOG_KEYS)
PER_LAYER.update({f"key.{k}_s": "s" for k in KEYS})


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's group (its JVM and Python
    workers included) and wait until all have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def run_worker(spec: dict, env: dict, log_path: str, timeout: float) -> dict:
    """Run one worker process and return its result record, timing
    ``setup_s`` from the spawn."""
    spec_path = spec["out"] + ".spec.json"
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    if os.path.exists(spec["out"]):
        os.remove(spec["out"])
    with open(log_path, "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=spec["work"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(spec["out"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker failed (exit {code}); log {log_path}:\n{tail}")
    with open(spec["out"]) as fh:
        result = json.load(fh)
    result["setup_s"] = result["ready_at"] - spawned
    return result


def _git_rev() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _check_sf01() -> int:
    """Verify the committed sf0.1 tables against their checksums and
    return their total size in bytes."""
    data = os.path.join(HERE, "data", "sf0.1")
    size = 0
    with open(os.path.join(data, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(data, name), "rb") as f:
                blob = f.read()
            if hashlib.sha256(blob).hexdigest() != digest:
                raise RuntimeError(f"{name} does not match its checksum")
            size += len(blob)
    return size


def _environment(work: str) -> tuple[dict, dict]:
    """Pin the run environment; return the worker env and its stamp."""
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        }
    )
    env.pop("SPARK_MASTER", None)
    for d in ("spark-local", "tmp", "duckdb", "logs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    import pyspark

    stamp = {
        "nproc": cpus,
        "driver_mem": DRIVER_MEM,
        "git_rev": _git_rev(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "load1_before": os.getloadavg()[0],
    }
    return env, stamp


def _quartiles(values: list[float]) -> tuple[float, float]:
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[0], q[2]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM unwind through run_worker's cleanup, which stops the
    # worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: the {PACKAGE} package is not next to {HERE}", file=sys.stderr)
        return 2

    started = time.monotonic()
    work = os.path.join(HERE, ".work")
    env, stamp = _environment(work)
    stamp["seed"] = args.seed
    if args.workload == "amplab_csv":
        import gen_amplab

        meta = gen_amplab.cached(
            os.path.join(HERE, ".cache"), args.seed, AMPLAB_VISITS, AMPLAB_PARTS
        )
        uv = meta["uservisits"]
        inputs = {
            "input_mb": (uv["bytes"] + meta["rankings"]["bytes"]) / 2**20,
            "input_gz_mb": (uv["gz_bytes"] + meta["rankings"]["gz_bytes"]) / 2**20,
            "uservisits_rows": uv["rows"],
            "rankings_rows": meta["rankings"]["rows"],
            "part_files": uv["files"] + meta["rankings"]["files"],
            "malformed_share": uv["malformed_share"],
            "groups_per_row": uv["groups_per_row"],
        }
    else:
        meta = None
        inputs = {"input_mb": _check_sf01() / 2**20}

    # flush this and earlier runs' writes now: on a slow disk, writeback
    # left pending stalls the timed job commits at an arbitrary moment
    os.sync()
    inputs_s = time.monotonic() - started

    def spec(role: str, **kw) -> dict:
        return {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": False, "setup_only": False, "check": True, "meta": meta,
            "cpus": stamp["nproc"], "work": work,
            "out": os.path.join(work, f"result-{role}.json"), **kw,
        }

    def worker(role: str, **kw) -> dict:
        log = os.path.join(work, "logs", f"{args.workload}-{args.seed}-{role}.log")
        return run_worker(spec(role, **kw), env, log, started + RUN_DEADLINE_S - time.monotonic())

    try:
        if args.trace:
            plain = worker("untraced", check=False)
            main_run = worker("traced", trace=True)
            layers = dict(main_run["layers"])
            layers["session.import_s"] = plain["import_s"]
            layers["session.start_s"] = plain["start_s"]
            layers["trace.overhead_s"] = (
                statistics.median(main_run["warm_passes"])
                - statistics.median(plain["warm_passes"])
            )
            for k in KEYS:
                layers[f"key.{k}_s"] = plain["key_s"].get(k, 0.0)
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            setups = [plain["setup_s"]]
        else:
            setups = [
                worker(f"setup{i}", setup_only=True)["setup_s"] for i in range(SETUP_SAMPLES - 1)
            ]
            main_run = worker("main")
            setups.append(main_run["setup_s"])
            values = {
                "setup_s": statistics.median(setups),
                "cold_pass_s": main_run["cold_pass_s"],
                "warm_pass_s": statistics.median(main_run["warm_passes"]),
                "peak_rss_mb": main_run["peak_rss_mb"],
                "live_heap_mb": main_run["live_heap_mb"],
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    except RuntimeError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1

    stamp["load1_after"] = os.getloadavg()[0]
    warm = main_run["warm_passes"]
    q1, q3 = _quartiles(warm)
    attempted, failed = main_run["attempted"], main_run["failed"]
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: "
        f"setup_s={statistics.median(setups):.3f} s (n={len(setups)}) "
        f"cold_pass_s={main_run['cold_pass_s']:.3f} s "
        f"warm_pass_s={statistics.median(warm):.3f} s (q1 {q1:.3f}, q3 {q3:.3f}, n={len(warm)}) "
        f"peak_rss_mb={main_run['peak_rss_mb']:.0f} MiB "
        f"live_heap_mb={main_run['live_heap_mb']:.1f} MiB "
        f"failed_frac={failed}/{attempted}={failed / attempted:.4f} "
        f"input_mb={inputs['input_mb']:.1f} MiB"
    )
    for problem in main_run["problems"]:
        print(f"FAILED {problem}", file=sys.stderr)
    record = {
        "record": "perfbench",
        "workload": args.workload,
        "env": stamp,
        "input": inputs,
        "setup_samples_s": setups,
        "warm_passes_s": warm,
        "key_s": main_run["key_s"],
        "cold_key_s": main_run["cold_key_s"],
        "failed_frac": failed / attempted,
        "check_s": main_run.get("check_s"),
        "inputs_s": inputs_s,
        "run_s": time.monotonic() - started,
    }
    if args.trace:
        record["traced_passes"] = main_run["layers_all"]
        record["trace_checks"] = main_run["trace_checks"]
        record["rest_s"] = main_run["rest_s"]
        record["spans"] = os.path.relpath(main_run["spans"], ROOT)
    print(json.dumps(record))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
