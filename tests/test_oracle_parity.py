"""The local mirror of the driver's correctness gate: run every registry
query on Spark AND its DuckDB oracle, compare row count, column names, and
values (exact for ints/strings/timestamps; bitwise for floats — our queries
are engineered to be float-deterministic, see functions/exact.py).
"""

from __future__ import annotations

import duckdb
import pytest

import etl_manager_spark  # noqa: F401 (path setup)
from etl_manager_spark.workloads import load_registry
from etl_manager_spark.workloads.tables import TABLE_NAMES

REGISTRY = load_registry()
ORACLE_NAMES = sorted(n for n, wl in REGISTRY.items() if wl.oracle_spec is not None)
ROWS_ONLY_NAMES = sorted(n for n, wl in REGISTRY.items() if wl.oracle_spec is None)


@pytest.fixture(scope="module")
def duck(sf_dir_oracle):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir_oracle}/{t}.parquet')"
        )
    return con


# The compare primitives live in tools/parity_lib.py — ONE implementation
# shared with the adversarial edge-data sweep (tools/edge_parity.py), so a
# sweep pass is exactly as strict as this gate.
from tools.parity_lib import (  # noqa: E402
    DUCK_TO_SPARK as _DUCK_TO_SPARK,
    FORBIDDEN_TOKENS as _FORBIDDEN_TOKENS,
    check_duck_types,
    normalize,
    values_equal,
)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(name, spark, duck, sf_dir_oracle):
    wl = REGISTRY[name]
    sdf = wl.fn(spark, sf_dir_oracle)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(wl.oracle)
    type_problems = check_duck_types(
        name, rel.columns, rel.types, sdf.dtypes
    )
    assert not type_problems, f"{name}: oracle type mismatch: {type_problems}"

    res = duck.execute(wl.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )

    s_norm, cols = normalize(spark_rows, spark_cols)
    d_norm, _ = normalize(duck_rows, duck_cols)
    mismatches = []
    for i, (srow, drow) in enumerate(zip(s_norm, d_norm)):
        for c, (sv, dv) in enumerate(zip(srow, drow)):
            if not values_equal(sv, dv):
                mismatches.append((i, cols[c], sv, dv))
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_type_gate_catches_uncast_sum(duck):
    """An uncast SUM(BIGINT) types as HUGEINT in DuckDB — the gate must
    reject it even though every VALUE would compare equal (round-5 driver
    hash-fail class)."""
    rel = duck.sql("SELECT SUM(x) AS s FROM (SELECT CAST(1 AS BIGINT) AS x)")
    problems = check_duck_types("injected", rel.columns, rel.types, [("s", "bigint")])
    assert problems and "HUGEINT" in problems[0]
    # and the cast fixes it
    rel2 = duck.sql(
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (SELECT CAST(1 AS BIGINT) AS x)"
    )
    assert not check_duck_types("ok", rel2.columns, rel2.types, [("s", "bigint")])


def test_catalog_type_scan_catches_injection(duck):
    """tools.lint_catalog.scan_oracle_types flags a registry entry whose
    oracle emits HUGEINT or BIT — the parity gate's FORBIDDEN_TOKENS."""
    from types import SimpleNamespace

    from tools.lint_catalog import scan_oracle_types

    fake = {
        "bad_q": SimpleNamespace(
            oracle_spec=object(),
            oracle="SELECT SUM(o_custkey) AS s FROM orders",
        ),
        "bit_q": SimpleNamespace(
            oracle_spec=object(),
            oracle="SELECT CAST('101' AS BIT) AS b FROM orders LIMIT 1",
        ),
        "good_q": SimpleNamespace(
            oracle_spec=object(),
            oracle="SELECT CAST(SUM(o_custkey) AS BIGINT) AS s FROM orders",
        ),
    }
    bad = scan_oracle_types(fake)
    assert "bad_q" in bad and "bit_q" in bad and "good_q" not in bad


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_run(name, spark, sf_dir_oracle):
    wl = REGISTRY[name]
    df = wl.fn(spark, sf_dir_oracle)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
