#!/usr/bin/env python3
"""Layered benchmark of etl_manager_spark.

One closed-loop client: a single driver thread submits each step only after
the previous one completed, on a fresh ``local[2]`` session per workload.
A run prepares its inputs and expected results, sets up (session, warm-up,
one untimed cold pass), checks the cold pass's results against their
oracles, then runs timed passes until ``--seconds`` have elapsed and at
least a fixed number (``MIN_PASSES``) have run.

    python3 perfbench/run.py --workload catalog_queries --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` it first runs the same command untraced in a child
process as its reference, then runs with the Spark event log on and every
timed pass instrumented, and reports the per-layer metrics. Run it from the
repository root; it reads its inputs from ``perfbench/data`` and writes only
under ``.bench_build/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# Byte copies of the repository's sf0.01 test tables (TESTDATA.md).
FIXTURES = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("catalog_queries", "etl_ingest")
# Two task slots: at this input size a pass is no faster on four, and two
# leave the JIT and GC threads, and other tenants of a shared box, room
# without preempting tasks.
CORES = min(2, os.cpu_count() or 1)
# The whole local-mode engine lives in the driver heap; 2 GB fits a 15 GB
# shared box. Peak RSS follows the heap G1 commits, so G1 sizes it from
# occupancy alone: a fixed young generation, no expansion for pause time
# (GCTimeRatio=1; on a shared box pauses stretch with other tenants' load),
# and a fixed marking threshold instead of the adaptive one, which is timed.
# Regions of 16 MB, with Spark's memory pages at 4 MB (SPARK_PAGE_SIZE),
# keep those pages and the 4 MB sort buffers out of G1's humongous regions:
# at 1 MB regions and the default 32 MB pages they took up to 440 MB and
# their timing decided the heap size. The JIT stops at C1: a run is too
# short for C2 to repay its compile time, and with C2 pass times fall for
# minutes as it compiles and its compiler arenas move peak RSS.
JAVA_OPTIONS = ("-Xmn384m -XX:G1HeapRegionSize=16m -XX:GCTimeRatio=1 "
                "-XX:-G1UseAdaptiveIHOP -XX:TieredStopAtLevel=1")
DRIVER_MEMORY = "2g"
SPARK_PAGE_SIZE = "4m"
STORE_PREFIXES = (
    "neardup_pairs_",
    "minhash_sig_store_",
    "pq_index_store_",
    "bm25_joined_",
    "rollup_partials_store_",
)
# Timed passes per run, at least; more only if they finish before
# --seconds. With the benchmark's --seconds these counts always decide, so
# every run does the same work: a faster box would otherwise run more
# passes, which moves both the median pass and peak RSS.
# The ingest pass is short, so it gets more samples.
MIN_PASSES = {"catalog_queries": 3, "etl_ingest": 5}
END_TO_END = {"setup_s": "s", "pass_s": "s", "jvm_peak_rss_mb": "MB"}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout() -> None:
    for rel in ("etl_manager_spark/__init__.py", "tools/parity_lib.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    import etl_manager_spark

    if not os.path.abspath(etl_manager_spark.__file__).startswith(ROOT + os.sep):
        fail(f"etl_manager_spark imported from outside {ROOT}")


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(BUILD, f"run-{os.getpid()}-{time.time_ns()}")
        self.tmp = os.path.join(self.dir, "tmp")
        self.events = os.path.join(self.dir, "events")
        for d in (self.tmp, os.path.join(self.dir, "local"), self.events):
            os.makedirs(d)
        self.spark = None
        self.attempted = 0
        self.problems: list[str] = []
        self.stats: dict[str, float] = {}  # set-up times, probes, peak RSS
        self.cold: dict = {"steps": []}
        self.passes: list[dict] = []  # {"wall", "instrumented", "steps": [...]}
        self.reference_pass_s = 0.0  # pass_s of the untraced reference run

    # ---------------------------------------------------------------- session

    def start_session(self):
        # Python workers must import the package from this checkout, and
        # every scratch file (tempfile stores, shuffle, JVM temp) must land
        # in this run's own directory so no state survives between runs.
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # Few malloc arenas in the JVM, so its native memory, and with it
        # peak RSS, does not depend on how many threads happened to allocate.
        os.environ["MALLOC_ARENA_MAX"] = "2"
        import tempfile

        tempfile.tempdir = None
        from pyspark.sql import SparkSession

        builder = (
            SparkSession.builder.master(f"local[{CORES}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={self.tmp} {JAVA_OPTIONS}")
            .config("spark.sql.shuffle.partitions", str(CORES))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.catalogImplementation", "in-memory")
            .config("spark.sql.warehouse.dir", os.path.join(self.dir, "catalog"))
            .config("spark.local.dir", os.path.join(self.dir, "local"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.buffer.pageSize", SPARK_PAGE_SIZE)
            # The status store would keep every job, stage and SQL plan of
            # the run and grow the heap pass after pass; the benchmark reads
            # the event log instead.
            .config("spark.ui.retainedJobs", "100")
            .config("spark.ui.retainedStages", "100")
            .config("spark.sql.ui.retainedExecutions", "20")
        )
        if self.trace:
            builder = (
                builder.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.dir", self.events)
            )
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self):
        """Stop the session and the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None

    def warm(self, fixture_dir):
        """The first job's JVM class loading and the fixture's file footers;
        Python workers start in the cold pass, for the workloads that use them."""
        self.spark.read.parquet(f"{fixture_dir}/lineitem.parquet").count()

    # ---------------------------------------------------------------- passes

    def run_step(self, step, label: str | None, collect: bool) -> dict:
        """One execution: build, then execute. With a label, every Spark job
        it launches carries it (build and execute phases separately). With
        ``collect``, the result is kept in the record for a later check."""
        from layers import EXEC_PROP, plan_counters

        sc = self.spark.sparkContext
        rec = {"name": step.name, "layer": step.layer, "rows": step.rows, "label": label}
        self.attempted += 1
        try:
            if label:
                sc.setJobGroup(f"{label}:build", step.name)
                sc.setLocalProperty(EXEC_PROP, f"{label}:build")
            t0 = time.perf_counter()
            built = step.build()
            t1 = time.perf_counter()
            if label:
                sc.setJobGroup(f"{label}:exec", step.name)
                sc.setLocalProperty(EXEC_PROP, f"{label}:exec")
            got = step.execute(built, collect)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1)
            if label:
                sc.setLocalProperty(EXEC_PROP, f"{label}:trace")
                frames = built.values() if isinstance(built, dict) else [built]
                plans = [plan_counters(df) for df in frames if hasattr(df, "_jdf")]
                if plans:
                    rec["plan"] = {k: sum(p[k] for p in plans) for k in plans[0]}
            if collect and step.check:
                rec["got"] = got
        except Exception as exc:  # noqa: BLE001 - a failed step is counted and reported
            self.problems.append(f"{step.name}: {type(exc).__name__}: {str(exc)[:300]}")
            rec.update(failed=True, build_s=0.0, exec_s=0.0)
        finally:
            if label:
                for prop in ("spark.jobGroup.id", "spark.job.description", EXEC_PROP):
                    sc.setLocalProperty(prop, None)
        return rec

    def run_pass(self, steps, idx: int, instrumented: bool, collect=False) -> dict:
        from workloads import pass_order

        t0 = time.perf_counter()
        recs = [
            self.run_step(s, f"p{idx}:{s.name}" if instrumented else None, collect)
            for s in pass_order(steps, self.seed, idx)
        ]
        out = {"wall": time.perf_counter() - t0, "instrumented": instrumented, "steps": recs}
        if instrumented and self.workload == "etl_ingest":
            out["ingest"] = self.ingest_snapshot()
        return out

    def ingest_snapshot(self) -> dict:
        """Files the pass wrote and partitions the catalog found."""
        from workloads import INGEST_DB

        files = size = 0
        for dirpath, _, names in os.walk(os.path.join(self.dir, "warehouse")):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        parts = self.spark.sql(f"SHOW PARTITIONS {INGEST_DB}.orders").count()
        return {"files": files, "bytes": size, "partitions": parts}

    def check_cold(self, steps):
        """Compare the cold pass's collected results with their expected ones."""
        checks = {s.name: s.check for s in steps}
        for rec in self.cold["steps"]:
            if "got" not in rec:
                continue
            for p in checks[rec["name"]](rec.pop("got")):
                self.problems.append(f"{rec['name']}: {p}")
                rec["failed"] = True

    def run_reference(self):
        """The same command untraced, in its own process, before this run's
        session starts: its pass_s is what trace.overhead_ratio compares
        with, so the ratio holds every cost of tracing, the event log's too."""
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", self.workload,
               "--seed", str(self.seed), "--seconds", str(self.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            result = {"correct": False}
        if proc.returncode or not result["correct"]:
            tail = (proc.stdout + proc.stderr)[-500:]
            self.problems.append(f"untraced reference run failed (exit {proc.returncode}): {tail}")
            return
        self.reference_pass_s = result["metrics"]["pass_s"]["value"]

    def execute(self):
        from workloads import Oracles, make_steps, prepare

        if self.trace:
            self.run_reference()
        oracles = Oracles(FIXTURES, os.path.join(BUILD, "oracles"))
        prepared = prepare(self.workload, FIXTURES, self.dir, self.seed, oracles)
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.warm(FIXTURES)
        steps = make_steps(self.workload, self.spark, FIXTURES, self.dir, prepared)
        t2 = time.perf_counter()
        self.cold = self.run_pass(steps, 0, instrumented=False, collect=True)
        t3 = time.perf_counter()
        self.check_cold(steps)
        self.stats = {
            "session_s": t1 - t0,
            "warm_s": t2 - t1,
            "cold_pass_s": t3 - t2,
            "setup_s": t3 - t0,
            "store_builds": sum(n.startswith(STORE_PREFIXES) for n in os.listdir(self.tmp)),
        }
        deadline = time.perf_counter() + self.seconds
        idx = 1
        while idx <= MIN_PASSES[self.workload] or time.perf_counter() < deadline:
            self.passes.append(self.run_pass(steps, idx, instrumented=self.trace))
            idx += 1
        if self.trace:
            from bench import calibration_probe

            probes = calibration_probe(self.spark, str(CORES))
            self.stats.update(cores_probe_s=probes["cores"], single_probe_s=probes["single"])
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            hwm = next(line for line in fh if line.startswith("VmHWM:"))
        self.stats["jvm_peak_rss_mb"] = int(hwm.split()[1]) / 1024

    # ---------------------------------------------------------------- report

    def pass_s(self) -> float:
        """Time of one timed pass, as the sum over steps of each step's
        median time across the timed passes."""
        times: dict[str, list[float]] = {}
        for p in self.passes:
            for s in p["steps"]:
                times.setdefault(s["name"], []).append(s["build_s"] + s["exec_s"])
        return sum(statistics.median(ts) for ts in times.values())

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.stats["setup_s"],
            "pass_s": self.pass_s(),
            "jvm_peak_rss_mb": self.stats["jvm_peak_rss_mb"],
        }

    def latency(self) -> str:
        """Step latency percentiles, printed but not reported as metrics:
        a run has 25–27 executions, too few for a steady 90th percentile."""
        from layers import percentile

        times = [s["build_s"] + s["exec_s"] for p in self.passes for s in p["steps"]]
        return (f"query_n={len(times)} query_p50_s={percentile(times, 0.5):.4f} "
                f"query_p90_s={percentile(times, 0.9):.4f}")



def run_all(args) -> int:
    """Every workload, each in its own process and fresh session."""
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        print(f"== {w}", flush=True)
        rc = max(rc, subprocess.run(cmd, check=False).returncode)
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    check_checkout()
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, HERE)
    from layers import per_layer

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        try:
            run.execute()
        finally:
            run.stop()  # also flushes the event log the per-layer metrics read
        if args.trace:
            metrics = per_layer(run)
        else:
            metrics = {k: (v, END_TO_END[k]) for k, v in run.end_to_end().items()}
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    failed = sum(bool(s.get("failed")) for p in [run.cold, *run.passes] for s in p["steps"])
    for p in run.problems[:20]:
        print(f"MISMATCH {p}")
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(run.passes)} {run.latency()} attempted={run.attempted} "
          f"failed={failed} failed_ratio={failed / run.attempted:.4f}")
    for k, (v, u) in metrics.items():
        print(f"{k:32s} {v:14.6f} {u}")
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if run.problems else 0


if __name__ == "__main__":
    sys.exit(main())
