"""The one Spark-vs-DuckDB parity path.

``check_parity`` runs a catalog query's Spark side and its DuckDB oracle
over one data dir (the oracle reads ``oracle_db``'s views) and applies
the gate's compare semantics (``compare_results``). Every oracle check
calls it: the oracle-parity pytest gate (tests/test_oracle_parity.py,
real sf data), the adversarial edge-data sweep (tools/edge_parity.py,
empty/hostile tables from tools/edge_data.py), the sf0.1 equi-depth check
(tests/test_prefix.py) and ``python -m etl_manager_spark verify``. So an
edge-sweep pass is exactly as strict as the parity gate: columns sorted
by name, rows sorted, bitwise float equality, cross-type numeric equality
rejected, and DuckDB result types required to have a Spark twin.
"""

from __future__ import annotations

import math
import threading

# DuckDB scalar type → Spark dtype strings the driver's dtype-tagged hash
# treats as the same family. Anything NOT in this map and not a container
# (LIST/STRUCT/MAP) is a type with no Spark twin — HUGEINT being the
# classic: DuckDB types SUM(BIGINT) as int128, Spark emits int64, values
# identical but the driver hash differs (the round-5 failure class).
_INTS = {"tinyint", "smallint", "int", "bigint"}
DUCK_TO_SPARK = {
    "BOOLEAN": {"boolean"},
    # the driver's hash normalizes signed-int WIDTHS (empirically:
    # histogram_events_value went driver-green in r4 with Spark int32 vs
    # DuckDB BIGINT) — only int128 (HUGEINT) breaks it, and that is
    # forbidden outright below
    "TINYINT": _INTS,
    "SMALLINT": _INTS,
    "INTEGER": _INTS,
    "BIGINT": _INTS,
    "FLOAT": {"float"},
    "DOUBLE": {"double"},
    "VARCHAR": {"string"},
    "DATE": {"date"},
    "TIME": {"string"},  # Spark has no TIME; oracles must not emit it
    "TIMESTAMP": {"timestamp", "timestamp_ntz"},
    "TIMESTAMP WITH TIME ZONE": {"timestamp"},
    "BLOB": {"binary"},
}

# Types DuckDB can infer that have NO Spark twin — an oracle emitting one
# of these can never driver-green even when every value matches.
FORBIDDEN_TOKENS = (
    "HUGEINT",
    "UHUGEINT",
    "UTINYINT",
    "USMALLINT",
    "UINTEGER",
    "UBIGINT",
    "INTERVAL",
    "UUID",
    "BIT",
)


def normalize(rows, columns):
    """Sort columns by name (driver semantics), then sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr), [columns[i] for i in order]


def numeric_category(v):
    """int-like vs float-like vs decimal — the driver's canonical hash
    distinguishes dtypes, so ``1234 == 1234.0`` must NOT pass here."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    import decimal

    if isinstance(v, decimal.Decimal):
        return "decimal"
    return "other"


def values_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    # Reject cross-type numeric equality (int64 1234 vs float64 1234.0
    # hashes differently in the driver) — at least as strict as the gate.
    if numeric_category(a) != numeric_category(b):
        return False
    if isinstance(a, float) or isinstance(b, float):
        # bitwise equality required — the whole point of the decimal-exact
        # discipline; tolerate only float32→float64 representation widening
        return a == b or (a == "NaN" and b == "NaN")
    return a == b


def forbidden_token(dtype) -> str | None:
    """The FORBIDDEN_TOKENS entry a DuckDB result type contains, if any."""
    dt = str(dtype).upper()
    return next((tok for tok in FORBIDDEN_TOKENS if tok in dt), None)


def check_duck_types(name, duck_cols, duck_types, spark_dtypes):
    """Fail when an oracle's DECLARED DuckDB result type cannot hash-match
    Spark's output type, regardless of values (see DUCK_TO_SPARK)."""
    spark_by_col = dict(spark_dtypes)
    problems = []
    for col, dtype in zip(duck_cols, duck_types):
        dt = str(dtype).upper()
        tok = forbidden_token(dt)
        if tok:
            problems.append(
                f"{col}: oracle emits {dt} (contains {tok} — no Spark "
                f"twin; CAST the SQL, e.g. CAST(SUM(...) AS BIGINT))"
            )
            continue
        sdt = spark_by_col.get(col, "").lower()
        if dt.startswith("DECIMAL"):
            if not sdt.startswith("decimal"):
                problems.append(f"{col}: oracle DECIMAL vs spark {sdt}")
        elif dt in DUCK_TO_SPARK:
            if sdt not in DUCK_TO_SPARK[dt]:
                problems.append(f"{col}: oracle {dt} vs spark {sdt}")
        # containers (LIST/STRUCT/MAP/ARRAY) pass the twin check once
        # the forbidden-token scan above cleared their element types
    return problems


def compare_results(
    name, spark_cols, spark_rows, spark_dtypes, duck_cols, duck_rows, duck_types
):
    """Full driver-style comparison of already-materialized results.
    Returns a list of problem strings (empty = parity)."""
    problems = check_duck_types(name, duck_cols, duck_types, spark_dtypes)
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"column mismatch {spark_cols} vs {duck_cols}")
        return problems
    if len(spark_rows) != len(duck_rows):
        problems.append(f"row count {len(spark_rows)} vs {len(duck_rows)}")
        return problems
    s_norm, cols = normalize(spark_rows, spark_cols)
    d_norm, _ = normalize(duck_rows, duck_cols)
    mism = []
    for i, (srow, drow) in enumerate(zip(s_norm, d_norm)):
        for c, (sv, dv) in enumerate(zip(srow, drow)):
            if not values_equal(sv, dv):
                mism.append((i, cols[c], sv, dv))
    if mism:
        problems.append(f"value mismatches (first 5): {mism[:5]}")
    return problems


def oracle_db(data_dir):
    """A DuckDB connection with one view per catalog table over
    ``data_dir``'s parquet files — the tables every oracle reads.
    ``perfbench/workloads.Oracles`` keeps its own views: the benchmark's
    files stay fixed so a parent and a change are measured by the same
    harness."""
    import duckdb

    from etl_manager_spark.workloads.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def _error(exc) -> str:
    return f"{type(exc).__name__}: {exc}"[:500]


def check_parity(spark, name, workload, data_dir, oracle_timeout=None) -> dict:
    """Run ``workload``'s Spark side and its oracle (``oracle_for(data_dir)``)
    over ``data_dir`` and compare them with ``compare_results``.

    Returns ``{"status": ...}`` with the status's detail:

    - ``parity``: ``rows``, the row count both sides agree on;
    - ``mismatch``: ``problems``, the compare's problem strings;
    - ``spark_error`` / ``duck_error`` / ``both_error``: the error text
      under ``spark`` / ``duck``. Errors are captured per side, never
      raised, so a sweep keeps going.

    ``oracle_timeout`` (seconds) interrupts the oracle: some are
    deliberately brute-force (recursive transitive closures, all-pairs
    verifies) and can go quadratic on shapes the engine handles fine.
    """
    errors = {}
    try:
        sdf = workload.fn(spark, data_dir)
        s_cols, s_dtypes = sdf.columns, sdf.dtypes
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # noqa: BLE001 - recorded per side
        errors["spark"] = _error(exc)
    try:
        with oracle_db(data_dir) as duck:
            sql = workload.oracle_for(data_dir)
            d_types = duck.sql(sql).types
            timer = threading.Timer(oracle_timeout or 0, duck.interrupt)
            if oracle_timeout is not None:
                timer.start()
            try:
                res = duck.execute(sql)
                d_cols = [d[0] for d in res.description]
                d_rows = res.fetchall()
            finally:
                timer.cancel()
    except Exception as exc:  # noqa: BLE001
        errors["duck"] = _error(exc)
    if errors:
        status = "both_error" if len(errors) == 2 else f"{next(iter(errors))}_error"
        return {"status": status, **errors}
    problems = compare_results(
        name, s_cols, s_rows, s_dtypes, d_cols, d_rows, d_types
    )
    if problems:
        return {"status": "mismatch", "problems": problems}
    return {"status": "parity", "rows": len(s_rows)}
