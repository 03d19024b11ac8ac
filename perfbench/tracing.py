"""Spans and per-layer counts read from Spark's monitoring REST API.

The traced run starts its session with the UI on, tags the jobs of each
build and each action with a job group, and after every leg reads that
leg's jobs, stages, per-stage task quantiles and SQL node metrics. The
reads happen between legs, outside the timed legs. Spans stay in memory
and are written to one JSON file when the run ends.

The benchmark reads the REST API itself rather than through the
package's ``metrics`` module, so changes to that module cannot change
what the benchmark measures.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime, timezone

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9, "us": 1e-6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """An SQL metric value as Spark renders it, in seconds, bytes or
    a count. Multi-task metrics read ``total (min, med, max ...)\\n<total>
    (<min>, ...)``; the total is the first value after the newline."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def parse_time(stamp: str | None) -> float | None:
    """A REST timestamp such as ``2026-01-02T03:04:05.678GMT`` in
    seconds since the epoch."""
    if not stamp:
        return None
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# SQL node metrics summed per leg: (layer counter, metric name, node
# name prefix or None for any node)
_SQL_COUNTERS = (
    ("files_read", "number of files read", "Scan"),
    ("scan_s", "scan time", "Scan"),
    ("codegen_s", "duration", "WholeStageCodegen"),
    ("python_s", "time to run Python workers", None),
    ("python_sent_b", "data sent to Python workers", None),
    ("python_returned_b", "data returned from Python workers", None),
    ("broadcast_collect_s", "time to collect", "BroadcastExchange"),
    ("broadcast_build_s", "time to build", "BroadcastExchange"),
    ("agg_build_s", "time in aggregation build", None),
    ("files_written", "number of written files", "Execute"),
    ("task_commit_s", "task commit time", "Execute"),
    ("job_commit_s", "job commit time", "Execute"),
)


class RestTracer:
    """Reads one application's monitoring API and records spans."""

    def __init__(self, spark, run_id: str):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("tracing needs the Spark UI (spark.ui.enabled=true)")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.run_id = run_id
        self.spans: list[dict] = []
        self._sql_seen = 0
        self.rest_s = 0.0

    def _get(self, path: str):
        t0 = time.monotonic()
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as resp:
            out = json.load(resp)
        self.rest_s += time.monotonic() - t0
        return out

    def span(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "run_id": self.run_id,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                **attrs,
            }
        )
        return len(self.spans) - 1

    def _group_jobs(self, groups: set[str]) -> list[dict]:
        """The jobs of ``groups`` once the listener has seen all of them
        finish (the status store is fed asynchronously)."""
        deadline = time.monotonic() + 10.0
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def _executions(self, job_ids: set[int]) -> list[dict]:
        """The SQL executions that ran any of ``job_ids``, fetched
        incrementally so each execution is read once."""
        deadline = time.monotonic() + 10.0
        while True:
            new = self._get(
                f"sql?details=true&planDescription=false&offset={self._sql_seen}&length=10000"
            )
            if all(e["status"] != "RUNNING" for e in new) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        self._sql_seen += len(new)
        return [
            e
            for e in new
            if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))
        ]

    def leg(self, key: str, pass_span: int, groups: dict[str, str], t0: float, t1: float, t2: float) -> dict:
        """Read the REST record of one leg: ``groups`` maps phase
        (``build``/``act``) to its job group; ``t0..t1`` is the build,
        ``t1..t2`` the action (wall-clock seconds). Returns its counts."""
        leg_span = self.span(key, t0, t2, pass_span, kind="leg")
        build_span = self.span("build", t0, t1, leg_span, kind="call")
        act_span = self.span("action", t1, t2, leg_span, kind="call")
        phase_of = {g: p for p, g in groups.items()}
        jobs = self._group_jobs(set(groups.values()))
        c: dict[str, float] = {
            "build_jobs": sum(1 for j in jobs if phase_of[j["jobGroup"]] == "build"),
            "stages": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_b": 0, "shuffle_write_records": 0,
            "fetch_wait_s": 0.0, "spill_b": 0, "failed_tasks": 0, "input_b": 0,
            "input_records": 0,
        }
        intervals: list[tuple[float, float]] = []
        skew_num = skew_den = 0.0
        # a stage shared by several jobs is listed (as skipped) by each
        stage_phase: dict[int, int] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            parent = build_span if phase_of[job["jobGroup"]] == "build" else act_span
            for sid in job["stageIds"]:
                stage_phase.setdefault(sid, parent)
        for sid, parent in sorted(stage_phase.items()):
            for st in self._get(f"stages/{sid}"):
                if st["status"] not in ("COMPLETE", "FAILED"):
                    continue
                start = parse_time(st.get("submissionTime"))
                end = parse_time(st.get("completionTime"))
                self.span(
                    f"stage {sid}.{st['attemptId']}", start, end, parent, kind="stage",
                    tasks=st["numCompleteTasks"], run_ms=st["executorRunTime"],
                )
                c["stages"] += 1
                c["tasks"] += st["numCompleteTasks"]
                c["executor_run_s"] += st["executorRunTime"] / 1e3
                c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                c["shuffle_write_b"] += st["shuffleWriteBytes"]
                c["shuffle_write_records"] += st["shuffleWriteRecords"]
                c["fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                c["spill_b"] += st["diskBytesSpilled"]
                c["failed_tasks"] += st["numFailedTasks"]
                c["input_b"] += st["inputBytes"]
                c["input_records"] += st["inputRecords"]
                if parent == act_span and start is not None and end is not None:
                    intervals.append((start, end))
                if st["numCompleteTasks"] >= 2 and st["executorRunTime"] > 0:
                    q = self._get(
                        f"stages/{sid}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0"
                    )["executorRunTime"]
                    skew_num += st["executorRunTime"] * (q[1] / max(q[0], 1.0))
                    skew_den += st["executorRunTime"]
        c["busy_s"] = union_seconds(intervals, t1, t2)
        c["act_stages"] = len(intervals)
        # how far an action stage reached outside the timed action
        # before clipping: 0 unless REST times and the timing disagree
        c["outside_s"] = max(0.0, max((max(t1 - a, b - t2) for a, b in intervals), default=0.0))
        c["task_skew"] = skew_num / skew_den if skew_den else 1.0
        filter_rows = 0.0
        for name, _, _ in _SQL_COUNTERS:
            c[name] = 0.0
        for ex in self._executions({j["jobId"] for j in jobs}):
            for node in ex.get("nodes", []):
                node_name = node["nodeName"]
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                for name, metric, prefix in _SQL_COUNTERS:
                    if metric in metrics and (prefix is None or node_name.startswith(prefix)):
                        c[name] += parse_metric(metrics[metric])
                if node_name == "Filter" and "number of output rows" in metrics:
                    filter_rows = max(filter_rows, parse_metric(metrics["number of output rows"]))
        c["filter_rows"] = filter_rows
        return c

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def pass_layers(legs: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced pass from its legs' records
    (each: ``wall_s``, ``build_s``, the ``RestTracer.leg`` counts, and
    the ``manifest``/``raw_lines``/``combine`` the leg declared)."""
    mb = 1024.0**2

    def total(k: str) -> float:
        return float(sum(leg[k] for leg in legs))

    wall, build, busy = total("wall_s"), total("build_s"), total("busy_s")
    run_s = total("executor_run_s")
    skew = (
        sum(leg["task_skew"] * leg["executor_run_s"] for leg in legs) / run_s if run_s else 1.0
    )
    combine = [leg for leg in legs if leg["combine"]]
    csv_legs = [leg for leg in legs if leg["raw_lines"]]
    manifests = [leg["manifest"] for leg in legs if leg["manifest"]]
    return {
        "plans.build_s": build,
        "plans.build_jobs": total("build_jobs"),
        "sources.input_mb": total("input_b") / mb,
        "sources.input_rows": total("input_records"),
        "sources.files_read": total("files_read"),
        "sources.scan_s": total("scan_s"),
        "sources.malformed_rows": float(
            sum(leg["raw_lines"] - leg["filter_rows"] for leg in csv_legs)
        ),
        "operators.stages": total("stages"),
        "operators.tasks": total("tasks"),
        "operators.busy_s": busy,
        "operators.stage_gap_s": wall - build - busy,
        "operators.task_skew": skew,
        "operators.executor_run_s": run_s,
        "operators.executor_cpu_s": total("executor_cpu_s"),
        "operators.gc_s": total("gc_s"),
        "operators.codegen_s": total("codegen_s"),
        "operators.python_s": total("python_s"),
        "operators.python_mb": (total("python_sent_b") + total("python_returned_b")) / mb,
        "operators.broadcast_s": total("broadcast_collect_s") + total("broadcast_build_s"),
        "operators.shuffle_write_mb": total("shuffle_write_b") / mb,
        "operators.fetch_wait_s": total("fetch_wait_s"),
        "operators.spill_mb": total("spill_b") / mb,
        "operators.failed_tasks": total("failed_tasks"),
        "operators.agg_build_s": total("agg_build_s"),
        "operators.combine_ratio": (
            sum(leg["shuffle_write_records"] for leg in combine)
            / max(1, sum(leg["input_records"] for leg in combine))
            if combine
            else 0.0
        ),
        "sinks.rows_written": float(sum(m.get("rows_written", 0) for m in manifests)),
        "sinks.output_mb": sum(m.get("bytes_written", 0) for m in manifests) / mb,
        "sinks.files_written": total("files_written"),
        "sinks.task_commit_s": total("task_commit_s"),
        "sinks.job_commit_s": total("job_commit_s"),
        "trace.pass_s": wall,
    }


def pass_checks(legs: list[dict]) -> dict[str, float]:
    """What must hold for a traced pass's layers to be right, beyond
    ``build + busy + gap = wall``, which holds by definition: every
    action stage ran inside its timed action (``outside_s`` is about
    0), and every action that ran stages was busy (``idle_actions``
    is 0)."""
    return {
        "outside_s": max((leg["outside_s"] for leg in legs), default=0.0),
        "idle_actions": sum(1 for leg in legs if leg["act_stages"] and leg["busy_s"] <= 0),
    }


def median_pass(passes: list[dict[str, float]]) -> dict[str, float]:
    """The layers of the traced warm pass with the median wall (the
    lower one of an even count), so the reported layers still add up
    to the reported ``trace.pass_s``."""
    ranked = sorted(passes, key=lambda p: p["trace.pass_s"])
    return ranked[(len(ranked) - 1) // 2]
