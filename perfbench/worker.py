"""One benchmark process: start a session, run the passes, check outputs.

``run.py`` starts this script once per session it measures, so every
session pays the JVM start the way a user's job does:

    python3 worker.py SPEC.json

``SPEC.json`` names the workload, seed, warm-phase length, whether to
trace, the inputs and where to write the result record. With
``setup_only`` the process stops after its session has run a one-row
job; ``run.py`` takes several of those per run for ``setup_s``.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import sys
import time
import traceback


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` in MiB, from ``/proc``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _live_heap_mb(jvm) -> float:
    """Heap in use after two full collections, in MiB: what the
    session still holds (persisted tables, broadcasts, driver state).
    Objects released through cleaners or finalizers are freed only by
    a collection after those ran; the second collection cut the
    figure's spread over ten seeds of ``amplab_csv`` from 12% to 1.4%."""
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def _session_conf(trace: bool, work: str) -> dict[str, str]:
    # the engine's default session, plus: no console progress bar, JVM
    # temp files inside the work directory, no JVM perf-data file (it
    # goes to the system temp directory, outside the checkout), and the
    # UI only when traced
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap size: G1 then does not resize the heap, whose
        # growth otherwise makes peak RSS vary from run to run; so peak
        # RSS reads the configured heap and live_heap_mb what is used
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    return conf


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    result: dict = {}

    t0 = time.monotonic()
    from lambda_refarch_mapreduce_spark.session import get_spark  # imports pyspark

    result["import_s"] = time.monotonic() - t0
    t0 = time.monotonic()
    result["session_span"] = [time.time()]
    spark = get_spark("perfbench", extra_conf=_session_conf(spec["trace"], spec["work"]))
    spark.range(1).collect()
    result["start_s"] = time.monotonic() - t0
    result["ready_at"] = time.time()
    result["session_span"].append(result["ready_at"])
    try:
        if not spec["setup_only"]:
            spark.sparkContext.setLogLevel("ERROR")
            result.update(run_passes(spark, {**spec, "session_span": result["session_span"]}))
    finally:
        spark.stop()
    with open(spec["out"], "w") as fh:
        json.dump(result, fh)


def run_passes(spark, spec: dict) -> dict:
    import duckdb

    from lambda_refarch_mapreduce_spark.operators.relational import pin_scope

    import workloads

    amplab = spec["workload"] == "amplab_csv"
    if amplab:
        legs = workloads.amplab_legs(spec["meta"], os.path.join(spec["work"], "out"))
    else:
        legs = workloads.catalog_legs(workloads.CATALOG_KEYS)
    sc = spark.sparkContext
    tracer = None
    if spec["trace"]:
        from tracing import RestTracer

        tracer = RestTracer(spark, f"{spec['workload']}-{spec['seed']}")
        tracer.span("session.get_spark", *spec["session_span"], None, kind="call")
    attempted = failed = 0
    problems: list[str] = []
    manifests: dict[str, dict] = {}

    def run_pass(pass_no: int) -> tuple[float, dict[str, float], list[dict]]:
        nonlocal attempted, failed
        walls: dict[str, float] = {}
        records: list[dict] = []
        pass_span = tracer.span(f"pass {pass_no}", time.time(), None, None, kind="pass") if tracer else None
        for leg in workloads.pass_order(legs, spec["seed"], pass_no, shuffle=not amplab):
            attempted += 1
            groups = {"build": f"p{pass_no}:{leg.key}:build", "act": f"p{pass_no}:{leg.key}:act"}
            try:
                if tracer:
                    sc.setJobGroup(groups["build"], leg.key)
                t0 = time.time()
                with pin_scope():
                    df = leg.build(spark)
                    t1 = time.time()
                    if tracer:
                        sc.setJobGroup(groups["act"], leg.key)
                    manifest = leg.act(df)
                t2 = time.time()
            except Exception:  # a failing leg is counted, not fatal
                failed += 1
                problems.append(f"{leg.key} pass {pass_no}: {traceback.format_exc(limit=3)}")
                continue
            walls[leg.key] = t2 - t0
            manifests[leg.key] = manifest
            if tracer:
                rec = tracer.leg(leg.key, pass_span, groups, t0, t1, t2)
                rec.update(
                    wall_s=t2 - t0, build_s=t1 - t0, manifest=manifest,
                    raw_lines=leg.raw_lines, combine=leg.combine,
                )
                records.append(rec)
        if tracer:
            tracer.spans[pass_span]["end"] = time.time()
        return sum(walls.values()), walls, records

    cold_s, cold_walls, _ = run_pass(0)
    warm: list[float] = []
    key_walls: dict[str, list[float]] = {leg.key: [] for leg in legs}
    traced: list[list[dict]] = []
    # warm passes start until --seconds have passed; the last may overrun
    warm_start = time.monotonic()
    pass_no = 1
    while time.monotonic() - warm_start < spec["seconds"]:
        wall, walls, records = run_pass(pass_no)
        warm.append(wall)
        for k, v in walls.items():
            key_walls[k].append(v)
        traced.append(records)
        pass_no += 1

    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = _vm_hwm_mb(int(jvm_pid)) + resource.getrusage(
        resource.RUSAGE_SELF
    ).ru_maxrss / 1024.0

    out = {
        "cold_pass_s": cold_s,
        "cold_key_s": cold_walls,
        "warm_passes": warm,
        "key_s": {k: statistics.median(v) if v else 0.0 for k, v in key_walls.items()},
        "peak_rss_mb": peak_rss_mb,
    }
    if tracer:
        from tracing import median_pass, pass_checks, pass_layers

        complete = [p for p in traced if len(p) == len(legs)]
        passes = [pass_layers(p) for p in complete]
        out["layers"] = median_pass(passes) if passes else {}
        out["layers_all"] = passes
        out["trace_checks"] = [pass_checks(p) for p in complete]
        out["rest_s"] = tracer.rest_s
        out["spans"] = os.path.join(spec["work"], f"spans-{spec['workload']}-{spec['seed']}.json")
        tracer.dump(out["spans"])
    if spec["check"]:
        # oracle checks, untimed, after the timed passes
        check_start = time.monotonic()
        con = duckdb.connect(
            config={"threads": spec["cpus"], "temp_directory": f"{spec['work']}/duckdb"}
        )
        if amplab:
            workloads.amplab_duck_setup(con, spec["meta"])
        else:
            workloads.catalog_duck_setup(con)
        for leg in legs:
            attempted += 1
            try:
                found = leg.check(spark, con, manifests.get(leg.key, {}))
            except Exception:
                found = [traceback.format_exc(limit=3)]
            if found:
                failed += 1
                problems.append(f"{leg.key} oracle: {'; '.join(found)}")
        con.close()
        out["check_s"] = time.monotonic() - check_start
    # taken last, after the queries ran in their declared order (the
    # catalog checks), not in the seed's pass order: what the session
    # holds does not then depend on which query ran last
    out["live_heap_mb"] = _live_heap_mb(sc._jvm)
    return {**out, "attempted": attempted, "failed": failed, "problems": problems}


if __name__ == "__main__":
    main(sys.argv[1])
