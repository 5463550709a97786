"""The local mirror of the driver's correctness gate: run every registry
query on Spark AND its DuckDB oracle, compare row count, column names, and
values (exact for ints/strings/timestamps; bitwise for floats — our queries
are engineered to be float-deterministic, see functions/exact.py).
"""

from __future__ import annotations

import pytest

import etl_manager_spark  # noqa: F401 (path setup)
from etl_manager_spark.workloads import load_registry
from tools.parity_lib import check_duck_types, check_parity, oracle_db

REGISTRY = load_registry()
ORACLE_NAMES = sorted(n for n, wl in REGISTRY.items() if wl.oracle_spec is not None)
ROWS_ONLY_NAMES = sorted(n for n, wl in REGISTRY.items() if wl.oracle_spec is None)


@pytest.fixture(scope="module")
def duck(sf_dir_oracle):
    return oracle_db(sf_dir_oracle)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(name, spark, sf_dir_oracle):
    record = check_parity(spark, name, REGISTRY[name], sf_dir_oracle)
    assert record["status"] == "parity", f"{name}: {record}"


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


def test_check_parity_records_each_side_and_interrupts_a_slow_oracle(
    sf_dir_oracle,
):
    """Both sides' errors are recorded, not raised, and ``oracle_timeout``
    interrupts an oracle that would run for minutes."""
    import time
    from types import SimpleNamespace

    def spark_side(spark, sf_dir):
        raise RuntimeError("spark side failed")

    slow = SimpleNamespace(
        fn=spark_side,
        oracle_for=lambda sf_dir: (
            "SELECT COUNT(*) AS n FROM range(100000) a, range(100000) b "
            "WHERE a.range * b.range % 7 = 3"
        ),
    )
    t0 = time.monotonic()
    record = check_parity(None, "slow", slow, sf_dir_oracle, oracle_timeout=1)
    assert time.monotonic() - t0 < 30
    assert record["status"] == "both_error", record
    assert "spark side failed" in record["spark"]
    assert "Interrupt" in record["duck"], record


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_run(name, spark, sf_dir_oracle):
    wl = REGISTRY[name]
    df = wl.fn(spark, sf_dir_oracle)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
