"""Adversarial edge-data parity sweep: the full oracle catalog over the
hostile tables from tools/edge_data.py.

The driver gate and tests/test_oracle_parity.py prove Spark == DuckDB on
the benign sf* data. This sweep re-proves it on data the sf* generator
never emits — zero rows, NULL keys, duplicate PKs, dangling FKs, empty /
unicode text, zero-norm embeddings, ordering ties everywhere (see
tools/edge_data.py). For each oracle-bearing catalog query it runs the
Spark side and the DuckDB oracle against the SAME edge dataset and applies
the exact driver compare (tools/parity_lib.check_parity). Outcomes per query:

- ``parity``       — identical results. The strong pass.
- ``both_error``   — both engines raised. Consistent behavior (usually an
                     ANSI-vs-ANSI cast error both sides); recorded with
                     both messages so divergent *reasons* stay visible.
- ``spark_error`` / ``duck_error`` — ONE engine raised. Always a finding:
                     either a robustness bug (a 100 TB corpus contains the
                     row that crashed) or an engine-semantics divergence
                     to adjudicate in EDGE_LEDGER.
- ``mismatch``     — both ran, results differ. A correctness finding
                     unless adjudicated in EDGE_LEDGER.

EDGE_LEDGER entries adjudicate *expected* divergences with a reason; the
sweep exits non-zero if any unadjudicated finding remains, so the class
stays enforced the same way the lint ledgers do (tools/lint_catalog.py).

Usage:
    python tools/edge_parity.py --data .edgedata/weird --out EDGE_weird.json
    python tools/edge_parity.py --data .edgedata/empty --out EDGE_empty.json
    (optional) --names q1,q2   limit to specific queries
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, REPO)

from tools.parity_lib import check_parity  # noqa: E402

# name -> reason. Only for divergences that are NOT bugs: engine-level
# semantics differences surfaced by degenerate data, or queries whose
# contract genuinely requires non-degenerate input (documented below).
# Round-10 note: the six streaming pre-epoch-watermark adjudications that
# used to live here (Spark initializes the event-time watermark at epoch
# 0, so pre-1970 rows are late-dropped in the first micro-batch) were
# converted into an ENFORCED contract: read_events_stream filters
# ts < '1970-01-01' (streaming/windows.py) and every streaming oracle
# mirrors the filter (workloads/streams.py:_contract), so the sweeps now
# show plain parity on pre-epoch data instead of per-query carve-outs.

_LEV_BYTES = (
    "DuckDB's levenshtein() counts UTF-8 BYTES (levenshtein('dup','数据') "
    "= 6, levenshtein('étude','etude') = 2) while Spark counts unicode "
    "CODEPOINTS (3 and 1) — verified at the primitive level. The two "
    "engines therefore disagree on any distance-thresholded pair "
    "containing non-ASCII text. Codepoint distance is the operator's "
    "contract (standard edit-distance semantics); divergence is "
    "engine-level and only on non-ASCII names. ASCII-only parity is "
    "covered by the sf* and fuzz1-5 runs, where these queries are green."
)

EDGE_LEDGER: dict[str, str] = {
    "fuzzy_dedup_part_names": _LEV_BYTES,
    "sorted_neighborhood_part_names": _LEV_BYTES,
    "profile_approx_quantiles_orders": (
        "the oracle pins a CALIBRATION ASSERTION (within_tol = TRUE) "
        "about Spark's Greenwald-Khanna sketch, which DuckDB cannot "
        "recompute; on 1-2-row groups the sketch returns a data point "
        "while the exact percentile interpolates, so the 10% tolerance "
        "legitimately fails (and is NULL for all-NULL groups) - the "
        "assertion's domain is realistic group sizes, which sf0.01+ "
        "parity and the driver gate cover"
    ),
}

# Ledger for queries whose *training inputs* make no sense on a given
# dataset (e.g. IVF centroid training on an empty embeddings table):
# name -> (dataset_basename, reason).
EDGE_SKIP: dict[str, tuple[str, str]] = {}


def run_sweep(
    data_dir: str,
    names: list[str] | None = None,
    oracle_timeout: float | None = None,
) -> dict:
    from pyspark.sql import SparkSession

    from etl_manager_spark.workloads import load_registry

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]"
        )
        .appName("edge-parity")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    registry = load_registry()
    targets = sorted(
        n for n, wl in registry.items() if wl.oracle_spec is not None
    )
    if names:
        targets = [n for n in targets if n in set(names)]

    base = os.path.basename(os.path.normpath(data_dir))
    results: dict[str, dict] = {}
    counts = {"parity": 0, "both_error": 0, "spark_error": 0,
              "duck_error": 0, "mismatch": 0, "skipped": 0}
    for qi, name in enumerate(targets):
        print(f"[{qi + 1}/{len(targets)}] {name}", file=sys.stderr, flush=True)
        skip = EDGE_SKIP.get(name)
        if skip and skip[0] == base:
            results[name] = {"status": "skipped", "reason": skip[1]}
            counts["skipped"] += 1
            continue
        entry = check_parity(
            spark, name, registry[name], data_dir, oracle_timeout
        )
        counts[entry["status"]] += 1
        if name in EDGE_LEDGER and entry["status"] in (
            "mismatch", "spark_error", "duck_error"
        ):
            entry["adjudicated"] = EDGE_LEDGER[name]
        results[name] = entry
    spark.stop()
    findings = sorted(
        n
        for n, r in results.items()
        if r["status"] in ("mismatch", "spark_error", "duck_error")
        and "adjudicated" not in r
    )
    return {
        "data_dir": data_dir,
        "dataset": base,
        "total": len(targets),
        "counts": counts,
        "unadjudicated_findings": findings,
        "results": results,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--names", default=None)
    ap.add_argument("--oracle-timeout", type=float, default=None)
    args = ap.parse_args()
    names = args.names.split(",") if args.names else None
    try:
        report = run_sweep(
            os.path.abspath(args.data), names, args.oracle_timeout
        )
    except Exception:
        traceback.print_exc()
        sys.exit(2)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({"dataset": report["dataset"], **report["counts"]}))
    if report["unadjudicated_findings"]:
        print("UNADJUDICATED:", *report["unadjudicated_findings"], sep="\n  ")
        sys.exit(1)


if __name__ == "__main__":
    main()
