"""The lint adjudication ledgers (tools/lint_catalog.py) must stay in
sync with the catalog: every entry names a real registered query (a
rename would silently orphan its adjudication), and every query the
LAST committed lint run flagged in a gated class is adjudicated (so the
committed LINT_CATALOG.json and the ledgers never drift apart — the
lint itself enforces this at run time; this test enforces it at review
time without needing a SparkSession).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import lint_catalog  # noqa: E402

GATED = {
    "filter-not-pushed": lint_catalog.FNP_ALLOWED,
    "nested-loop-join": lint_catalog.NLJ_ALLOWED,
    "many-shuffles": lint_catalog.MS_ALLOWED,
    "unbounded-percentile": lint_catalog.PCT_ALLOWED,
    "single-partition-window": lint_catalog.SP_WINDOW_ALLOWED,
}


@pytest.fixture(scope="module")
def catalog_names():
    from etl_manager_spark.workloads import load_registry

    return set(load_registry())


@pytest.fixture(scope="module")
def lint_report():
    with open(os.path.join(REPO, "LINT_CATALOG.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("code", sorted(GATED))
def test_every_ledger_entry_names_a_catalog_query(code, catalog_names):
    orphans = sorted(set(GATED[code]) - catalog_names)
    assert not orphans, (
        f"{code} ledger entries with no catalog query (renamed/removed?): "
        f"{orphans}"
    )


@pytest.mark.parametrize("code", sorted(GATED))
def test_every_flagged_query_is_adjudicated(code, lint_report):
    flagged = {
        name
        for name, codes in lint_report["warnings"].items()
        if code in codes
    }
    missing = sorted(flagged - set(GATED[code]))
    assert not missing, (
        f"queries flagged {code} in the committed LINT_CATALOG.json but "
        f"absent from the ledger — adjudicate or fix: {missing}"
    )


def _duplicate_literal_keys(module_path, dict_names):
    """Duplicate keys inside a dict LITERAL are legal Python (last wins)
    but in an adjudication ledger they silently discard a recorded
    rationale (VERDICT r8 found exactly this: FNP_ALLOWED listed
    pretrain_pipeline_documents twice and the null-guard adjudication was
    never in effect). Python's runtime dict can't see the shadowed entry,
    so we read the source AST."""
    import ast
    import collections

    with open(module_path) as fh:
        tree = ast.parse(fh.read())
    dupes = {}
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Assign, ast.AnnAssign)):
            continue
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        names = [t.id for t in targets if isinstance(t, ast.Name)]
        if not any(n in dict_names for n in names):
            continue
        value = node.value
        if not isinstance(value, ast.Dict):
            continue
        keys = [
            k.value
            for k in value.keys
            if isinstance(k, ast.Constant) and isinstance(k.value, str)
        ]
        repeated = sorted(
            k for k, c in collections.Counter(keys).items() if c > 1
        )
        if repeated:
            dupes[names[0]] = repeated
    return dupes


def test_no_duplicate_keys_in_ledger_literals():
    dupes = _duplicate_literal_keys(
        os.path.join(REPO, "tools", "lint_catalog.py"),
        {"PCT_ALLOWED", "NLJ_ALLOWED", "MS_ALLOWED", "FNP_ALLOWED"},
    )
    assert dupes == {}, (
        f"duplicate keys in lint ledger dict literals (the earlier "
        f"adjudication is silently dead): {dupes}"
    )


def test_no_duplicate_keys_in_edge_ledger_literals():
    dupes = _duplicate_literal_keys(
        os.path.join(REPO, "tools", "edge_parity.py"),
        {"EDGE_LEDGER", "EDGE_SKIP"},
    )
    assert dupes == {}, (
        f"duplicate keys in edge ledger dict literals: {dupes}"
    )


def test_committed_lint_run_was_clean(lint_report):
    assert lint_report["critical"] == []
    assert lint_report["errors"] == {}
    assert lint_report["oracle_type_errors"] == {}


# --------------------------------------------------------------------- #
# edge-parity ledgers (tools/edge_parity.py) — same discipline as the
# lint ledgers: entries must name real oracle-bearing catalog queries,
# and the committed sweep results must be clean modulo adjudications.


@pytest.fixture(scope="module")
def edge_reports():
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(root, "EDGE_*.json")))
    assert len(paths) >= 5, "edge sweep reports missing from repo root"
    out = {}
    for path in paths:
        with open(path) as fh:
            out[os.path.basename(path)] = json.load(fh)
    return out


def test_edge_ledger_entries_name_oracle_queries(catalog_names):
    from tools.edge_parity import EDGE_LEDGER, EDGE_SKIP

    orphans = sorted(
        (set(EDGE_LEDGER) | set(EDGE_SKIP)) - catalog_names
    )
    assert not orphans, (
        f"EDGE_LEDGER/EDGE_SKIP entries with no catalog query: {orphans}"
    )


def test_committed_edge_sweeps_have_no_unadjudicated_findings(edge_reports):
    for name, report in edge_reports.items():
        assert report["unadjudicated_findings"] == [], (
            f"{name} committed with unadjudicated findings — fix the "
            "divergence or adjudicate it in tools/edge_parity.py"
        )
        # one-engine crashes are never acceptable, adjudicated or not
        assert report["counts"]["spark_error"] == 0, name
        assert report["counts"]["duck_error"] == 0, name


# --------------------------------------------------------------------- #
# NULL-ordering structural gate (round 10): Spark ASC=NULLS FIRST vs
# DuckDB ASC=NULLS LAST produced eight real oracle divergences in round
# 9, so every window ORDER BY item in oracle text must carry an explicit
# NULLS FIRST/LAST qualifier. tools/order_nulls.py is the detector and
# mechanical fixer; this test keeps the catalog at zero.


def test_oracle_window_order_items_all_qualified():
    from etl_manager_spark.workloads import load_registry
    from tools.order_nulls import unqualified_order_items

    bad = unqualified_order_items(load_registry())
    assert not bad, (
        "oracles with unqualified window ORDER BY items (run "
        f"`python tools/order_nulls.py` to fix): {bad}"
    )


def test_order_nulls_detector_and_fixer():
    from tools.order_nulls import find_unqualified, qualify_sql

    # plain OVER spec: each item qualified per the Spark contract, the
    # frame clause untouched
    sql = (
        "SELECT SUM(x) OVER (PARTITION BY g ORDER BY a, b DESC "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t"
    )
    assert find_unqualified(sql) == ["a", "b DESC"]
    fixed = qualify_sql(sql)
    assert "ORDER BY a NULLS FIRST, b DESC NULLS LAST" in fixed
    assert "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW" in fixed
    assert find_unqualified(fixed) == []

    # named WINDOW spec is scanned too; already-qualified items skipped;
    # function-call items (commas at depth>0) stay one item
    sql2 = (
        "SELECT RANK() OVER w FROM t WINDOW w AS "
        "(ORDER BY COALESCE(a, b) ASC, c DESC NULLS FIRST)"
    )
    assert find_unqualified(sql2) == ["COALESCE(a, b) ASC"]
    fixed2 = qualify_sql(sql2)
    assert "COALESCE(a, b) ASC NULLS FIRST" in fixed2
    assert fixed2.count("NULLS FIRST") == 2

    # top-level ORDER BY (no window) is out of scope: the driver compare
    # sorts rows, so only window placement is decisive
    assert find_unqualified("SELECT * FROM t ORDER BY a") == []

    # source-rewrite mode leaves f-string placeholder items alone
    braced = "x OVER (ORDER BY {expr} DESC, y)"
    assert "{expr} DESC," in qualify_sql(braced, skip_braced=True)
    assert "y NULLS FIRST" in qualify_sql(braced, skip_braced=True)
