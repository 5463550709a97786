"""Per-layer metrics, read from outside the package.

Spark's uncompressed event log gives jobs, stages, task metrics and the
streaming progress of every execution. Each execution runs under a local
property ``perfbench.exec`` (set next to a job group of the same value),
which Spark copies into every job and stage it launches, so counts are
keyed exactly and never depend on the status store's retention limit.
Physical plans give the static counters: parquet scans, exchanges,
checkpoint scans and Python nodes.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

EXEC_PROP = "perfbench.exec"
# Counters two runs of the same code must repeat exactly, and counters that
# adaptive query execution may vary between runs (partition coalescing).
EXACT_COUNTERS = (
    "workloads.build_jobs",
    "spark.jobs",
    "spark.stages",
    "plans.parquet_scans",
    "plans.exchanges",
    "sources.files_written",
    "validation.jobs_per_table",
)
NON_EXACT_COUNTERS = ("spark.tasks", "plans.reused_exchanges")

STAGE_METRICS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
# Python/Arrow boundary operators: ArrowEvalPython, ArrowAggregatePython,
# MapInPandas, FlatMapGroupsInArrow, BatchEvalPythonUDTF, ...
PYTHON_NODES = re.compile(r"Python|Pandas|InArrow")
_NODE = re.compile(r"^[\s:|+\-!]*(?:\*\(\d+\)\s+)?(.*)$")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Sum the event log per execution id: jobs, stages, tasks, stage
    metrics, and the streaming progress reports of the queries it ran."""
    per_exec: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    stage_exec: dict[int, str] = {}
    run_exec: dict[str, str] = {}
    progress: list[dict] = []
    # Spark 4 rolls the log into numbered events_<n>_* files in one directory
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    exec_id = (ev.get("Properties") or {}).get(EXEC_PROP)
                    if exec_id:
                        per_exec[exec_id]["jobs"] += 1
                        # streaming jobs run under the query's run id as job group
                        group = ev["Properties"].get("spark.jobGroup.id")
                        if group:
                            run_exec.setdefault(group, exec_id)
                elif kind == "SparkListenerStageSubmitted":
                    exec_id = (ev.get("Properties") or {}).get(EXEC_PROP)
                    if exec_id:
                        stage_exec[ev["Stage Info"]["Stage ID"]] = exec_id
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    exec_id = stage_exec.get(info["Stage ID"])
                    if exec_id is None:
                        continue
                    rec = per_exec[exec_id]
                    rec["stages"] += 1
                    rec["tasks"] += info["Number of Tasks"]
                    for acc in info.get("Accumulables", []):
                        field = STAGE_METRICS.get(acc.get("Name"))
                        if field:
                            rec[field] += int(acc["Value"])
                elif kind == PROGRESS_EVENT:
                    progress.append(ev["progress"])
    for p in progress:
        exec_id = run_exec.get(p.get("runId"))
        if exec_id:
            per_exec[exec_id].setdefault("progress", []).append(p)
    return per_exec


def plan_counters(df) -> dict[str, float]:
    """Catalyst phase times and static operator counts of ``df``'s own
    query execution. Forces its physical plan: a sink write plans a fresh
    copy, so without this the frame's tracker holds only analysis."""
    qe = df._jdf.queryExecution()
    tree = qe.executedPlan().treeString()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[f"{phase}_ms"] = (
            phases.get(phase).get().durationMs() if phases.contains(phase) else 0
        )
    nodes = [_NODE.match(line).group(1) for line in tree.splitlines()]
    out["parquet_scans"] = sum(n.startswith("FileScan parquet") for n in nodes)
    out["exchanges"] = sum(
        n.startswith(("Exchange ", "BroadcastExchange ")) for n in nodes
    )
    out["reused_exchanges"] = sum(n.startswith("ReusedExchange") for n in nodes)
    out["checkpoint_scans"] = sum(n.startswith("Scan ExistingRDD") for n in nodes)
    out["python_nodes"] = sum(bool(PYTHON_NODES.search(n.split(" ")[0])) for n in nodes)
    return out


def streaming_counters(progress: list[dict]) -> dict[str, float]:
    """Per-batch durations and state sizes from streaming progress reports."""
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0)  # noqa: E731
    batches = [p for p in progress if "triggerExecution" in p.get("durationMs", {})]
    last = batches[-1].get("stateOperators", []) if batches else []
    return {
        "batches": len(batches),
        "trigger_ms": [dur(p, "triggerExecution") for p in batches],
        "query_planning_ms": sum(dur(p, "queryPlanning") for p in batches),
        "add_batch_ms": sum(dur(p, "addBatch") for p in batches),
        "wal_commit_ms": sum(dur(p, "walCommit") for p in batches),
        "commit_offsets_ms": sum(dur(p, "commitOffsets") for p in batches),
        "input_rows": sum(
            src.get("numInputRows", 0) for p in batches for src in p.get("sources", [])
        ),
        "state_rows": sum(s.get("numRowsTotal", 0) for s in last),
        "state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in last),
    }


def per_layer(run) -> dict[str, tuple[float, str]]:
    """Per-pass means over the timed passes of a traced run, all of which
    are instrumented."""
    from workloads import INGEST_TABLES

    ev = read_event_log(run.events)
    inst = [p for p in run.passes if p["instrumented"]]

    def mean(f) -> float:
        return sum(f(p) for p in inst) / len(inst)

    def steps(p, *layers):
        return [s for s in p["steps"] if not layers or s["layer"] in layers]

    def timed(p, field, *layers):
        return sum(s[field] for s in steps(p, *layers))

    def counted(p, field, phases=("build", "exec"), layers=()):
        return sum(
            ev.get(f"{s['label']}:{ph}", {}).get(field, 0)
            for s in steps(p, *layers)
            for ph in phases
        )

    def planned(p, field):
        return sum(s.get("plan", {}).get(field, 0) for s in p["steps"])

    def stream(p):
        progress = [
            e
            for s in steps(p, "stream")
            for e in ev.get(f"{s['label']}:build", {}).get("progress", [])
        ]
        return streaming_counters(progress)

    def ingest(p, key):
        return p.get("ingest", {}).get(key, 0)

    streams = [stream(p) for p in inst]
    triggers = [t for s in streams for t in s["trigger_ms"]] or [0]
    rows_written = mean(lambda p: sum(s["rows"] for s in steps(p, "write")))
    ingest_s = mean(
        lambda p: timed(p, "build_s", "write", "register", "validate")
        + timed(p, "exec_s", "write", "register", "validate")
    )
    out = {
        "workloads.build_s": (mean(lambda p: timed(p, "build_s")), "s"),
        "workloads.build_jobs": (mean(lambda p: counted(p, "jobs", ("build",))), "count"),
    }
    for phase in ("analysis", "optimization", "planning"):
        out[f"plans.{phase}_ms"] = (mean(lambda p: planned(p, f"{phase}_ms")), "ms")
    for field in ("parquet_scans", "exchanges", "reused_exchanges", "checkpoint_scans", "python_nodes"):
        out[f"plans.{field}"] = (mean(lambda p: planned(p, field)), "count")
    out["spark.execute_s"] = (mean(lambda p: timed(p, "exec_s")), "s")
    for field, unit in (
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("executor_run_ms", "ms"),
        ("gc_ms", "ms"),
        ("shuffle_read_bytes", "bytes"),
        ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"),
    ):
        out[f"spark.{field}"] = (mean(lambda p: counted(p, field)), unit)
    out["spark.executor_cpu_ms"] = (mean(lambda p: counted(p, "executor_cpu_ns")) / 1e6, "ms")
    out.update({
        "meta.build_ms": (mean(lambda p: timed(p, "build_s", "register")) * 1e3, "ms"),
        "sources.write_s": (mean(lambda p: timed(p, "build_s", "write") + timed(p, "exec_s", "write")), "s"),
        "sources.files_written": (mean(lambda p: ingest(p, "files")), "count"),
        "sources.bytes_per_row": (mean(lambda p: ingest(p, "bytes")) / max(rows_written, 1), "bytes"),
        "engine.register_s": (mean(lambda p: timed(p, "exec_s", "register")), "s"),
        "meta.partitions_found": (mean(lambda p: ingest(p, "partitions")), "count"),
        "validation.validate_s": (mean(lambda p: timed(p, "exec_s", "validate")), "s"),
        "validation.jobs_per_table": (
            mean(lambda p: counted(p, "jobs", ("exec",), ("validate",))) / len(INGEST_TABLES),
            "count",
        ),
        "sources.read_s": (mean(lambda p: timed(p, "build_s", "read") + timed(p, "exec_s", "read")), "s"),
        "jobs.run_job_s": (mean(lambda p: timed(p, "exec_s", "job")), "s"),
        "ingest.rows_per_s": (rows_written / ingest_s if ingest_s else 0.0, "1/s"),
    })
    for field, unit in (
        ("query_planning_ms", "ms"),
        ("add_batch_ms", "ms"),
        ("wal_commit_ms", "ms"),
        ("commit_offsets_ms", "ms"),
        ("batches", "count"),
        ("input_rows", "count"),
        ("state_rows", "count"),
        ("state_memory_bytes", "bytes"),
    ):
        out[f"streaming.{field}"] = (sum(s[field] for s in streams) / len(streams), unit)
    out["streaming.microbatch_p50_ms"] = (float(percentile(triggers, 0.5)), "ms")
    out["streaming.microbatch_p90_ms"] = (float(percentile(triggers, 0.9)), "ms")
    for key in ("session_s", "warm_s", "cold_pass_s"):
        out[f"setup.{key}"] = (run.stats[key], "s")
    out["setup.store_builds"] = (run.stats["store_builds"], "count")
    out["box.cores_probe_s"] = (run.stats["cores_probe_s"], "s")
    out["box.single_probe_s"] = (run.stats["single_probe_s"], "s")
    # The traced run's pass_s against that of the untraced run of the same
    # seed: plan forcing, job properties and the event log together.
    out["trace.overhead_ratio"] = (run.pass_s() / run.reference_pass_s, "ratio")
    return out


def percentile(xs: list[float], q: float) -> float:
    """Linearly interpolated percentile, ``q`` in (0, 1)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]
