#!/usr/bin/env python
"""Measure catalog queries: wall time, Spark job/stage/task counts and
physical-plan counters, one JSON record per query.

Usage:
    python tools/measure.py OUT.json [query ...] [--plans-dir DIR]

Each record holds:

* ``wall`` — the bench protocol's median (``bench.run_queries``: one
  untimed pass, median of $SPARK_GRAFT_BENCH_RUNS runs, default 3, and
  the between-query hygiene), so close-in-time A/B pairs between two
  trees carry the same protocol as the full-catalog bench;
* ``jobs``, ``stages``, ``tasks``, ``barrier_jobs`` — counted by
  ``etl_manager_spark.plans.counters.counted_jobs`` around one more run
  made after the timed ones (stores built, codegen warm);
* ``parquet_scans`` (per table), ``existing_rdd_scans`` (reads of
  materialized frames), ``exchanges``, ``reused_exchanges`` — counted in
  that run's formatted physical plan. Streaming queries have no batch
  plan and record ``"skipped": "streaming"`` instead.

Counts are properties of the committed code, not of the box, so
before/after pairs of them are drift-proof evidence; walls ride along.
``--plans-dir DIR`` also writes each formatted plan to ``DIR/<query>.txt``
(e.g. ``plans/r12/before``).

With no query names, re-measures BENCH_DELTA.json's
``outliers_over_1_5x`` in this fresh session and merges the walls into
BENCH_DELTA.json under ``isolated_remeasure``: an isolated wall close to
the previous round's shows the outlier was session debris, one matching
the in-bench wall shows it is real.

Reads $SPARK_GRAFT_SF_DIR (required: a data dir from TESTDATA.md; the
bench uses sf0.1) and $SPARK_GRAFT_CPUS (default 32). A missing data
dir or an unknown query name exits 2 before a session starts; a query
that fails is recorded as ``error`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import build_session, run_queries, warm_batch, warm_streaming  # noqa: E402

from etl_manager_spark.plans.counters import counted_jobs  # noqa: E402
from etl_manager_spark.plans.inspect import explain_formatted  # noqa: E402
from etl_manager_spark.workloads import load_registry  # noqa: E402


def _registry(names):
    registry = load_registry()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise ValueError(f"unknown queries: {', '.join(unknown)}")
    return registry


def _plan_counters(plan: str) -> dict:
    # Each scan node's detail block carries one "Location:" line naming
    # its file (the tree header line does not repeat it), so counting
    # Locations counts scan nodes per table. A table scanned N times is
    # re-read N times per execution: ReuseExchange only dedupes subtrees
    # whose canonical plans match, and per-branch column pruning breaks
    # that match.
    tables = Counter(re.findall(r"Location:[^\n]*?([\w.-]+)\.parquet", plan))
    return {
        "parquet_scans": dict(tables),
        "existing_rdd_scans": plan.count("Scan ExistingRDD"),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "reused_exchanges": plan.count("ReusedExchange"),
    }


def measure(spark, names, sf_dir, n_runs, plans_dir=None) -> dict:
    """One record per name (see the module docstring). Raises
    ``ValueError`` on an unknown name before touching ``spark``."""
    registry = _registry(names)
    walls: dict[str, float] = {}
    failures: dict[str, str] = {}
    run_queries(spark, names, registry, sf_dir, n_runs, walls, failures)
    out: dict[str, dict] = {}
    for name in names:
        if name in failures:
            out[name] = {"error": failures[name]}
            continue
        entry = registry[name]
        try:
            with counted_jobs(spark) as rec:
                df = entry.fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
            if entry.category == "streaming":
                rec["skipped"] = "streaming"
            else:
                plan = explain_formatted(df)
                rec.update(_plan_counters(plan))
                if plans_dir:
                    with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                        fh.write(plan)
        except Exception as exc:  # noqa: BLE001 - record and continue
            rec = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        out[name] = {"wall": walls[name], **rec}
        spark.catalog.clearCache()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", help="JSON file for the records")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--plans-dir")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("set SPARK_GRAFT_SF_DIR to a data dir (TESTDATA.md)", file=sys.stderr)
        return 2
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    delta_path = os.path.join(REPO, "BENCH_DELTA.json")
    names = args.queries
    if not names:
        with open(delta_path) as fh:
            names = sorted(json.load(fh).get("outliers_over_1_5x", {}))
        if not names:
            print("nothing to isolate")
            return 0
    try:
        registry = _registry(names)
    except ValueError as exc:
        print(exc, file=sys.stderr)
        return 2
    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    spark = build_session(cpus, "etl_manager_spark-measure", experiment=True)
    spark.sparkContext.setLogLevel("ERROR")
    warm_batch(spark, sf_dir)
    if any(registry[n].category == "streaming" for n in names):
        warm_streaming(spark)
    out = measure(spark, names, sf_dir, n_runs, args.plans_dir)
    spark.stop()

    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out, sort_keys=True))
    if not args.queries:
        with open(delta_path) as fh:
            delta = json.load(fh)
        delta["isolated_remeasure"] = {
            "protocol": f"fresh_session_median_of_{n_runs}_after_warmup",
            "queries": {n: r["wall"] for n, r in out.items() if "wall" in r},
        }
        with open(delta_path, "w") as fh:
            json.dump(delta, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 1 if any("error" in r for r in out.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
