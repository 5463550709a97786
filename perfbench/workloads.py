"""The benchmark's workloads, each a list of steps run once per pass.

A step is one execution the closed-loop client submits: ``build`` makes the
DataFrame (or does the step's whole work when there is no frame to run),
``execute`` runs it. Timed passes execute frames into the ``noop`` sink;
the cold pass collects them instead, and ``check`` compares what it
collected with the expected result. Every step calls the package only
through its public functions.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow as pa
import pyarrow.parquet as pq

TPCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_change",
    "q21_sole_return_supplier",
]
BARRIER_QUERIES = [
    "conformal_interval_events",
    "incremental_rollup_events",
    "udaf_weighted_mean_events",
]
STREAM_QUERIES = ["streaming_static_enrichment"]


@dataclass
class Step:
    name: str
    layer: str  # "query", "write", "register", "validate", "read", "job", "stream"
    build: Callable[[], Any]
    execute: Callable[[Any, bool], Any]
    check: Callable[[Any], list[str]] | None = None
    rows: int = 0  # rows written or validated, for ingest throughput


def noop_or_collect(df, collect: bool):
    if collect:
        return df.columns, df.dtypes, [tuple(r) for r in df.collect()]
    df.write.mode("overwrite").format("noop").save()
    return None


# --------------------------------------------------------------------------
# catalog queries and their DuckDB oracles


class Oracles:
    """Expected results of catalog queries, computed by DuckDB from the
    query's oracle SQL over the fixture parquet and cached on disk by the
    SQL text, so an edited oracle is recomputed."""

    def __init__(self, fixture_dir: str, cache_dir: str):
        self.fixture_dir = fixture_dir
        self.cache_dir = cache_dir
        self._con = None

    def expected(self, name: str, sql: str):
        key = hashlib.sha256(f"{self.fixture_dir}\0{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        if self._con is None:
            import duckdb

            from etl_manager_spark.workloads.tables import TABLE_NAMES

            self._con = duckdb.connect()
            for t in TABLE_NAMES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.fixture_dir}/{t}.parquet')"
                )
        rel = self._con.sql(sql)
        types = [str(t) for t in rel.types]
        res = self._con.execute(sql)
        out = ([d[0] for d in res.description], res.fetchall(), types)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(out, fh)
        os.replace(tmp, path)
        return out


def catalog_inputs(names, oracles: Oracles, layer="query"):
    """Each query's registry entry and its expected result, computed before
    the session starts so set-up time holds no oracle work."""
    from etl_manager_spark.workloads import load_registry

    registry = load_registry()
    return [(name, layer, registry[name].fn, oracles.expected(name, registry[name].oracle))
            for name in names]


def catalog_steps(spark, fixture_dir, queries):
    from tools.parity_lib import compare_results

    steps = []
    for name, layer, fn, (dcols, drows, dtypes_duck) in queries:

        def check(got, name=name, dcols=dcols, drows=drows, dtypes_duck=dtypes_duck):
            cols, dtypes, rows = got
            return compare_results(name, cols, rows, dtypes, dcols, drows, dtypes_duck)

        steps.append(
            Step(
                name=name,
                layer=layer,
                build=lambda fn=fn: fn(spark, fixture_dir),
                execute=noop_or_collect,
                check=check,
            )
        )
    return steps


# --------------------------------------------------------------------------
# ETL ingest: metadata -> write -> register -> validate -> read -> job

INGEST_DB = "perfbench_ingest"
# table -> (format, columns, partitions, primary key); rows come from the
# fixture table of the same name
INGEST_TABLES = {
    "orders": (
        "parquet",
        [
            {"name": "o_orderkey", "type": "long"},
            {"name": "o_custkey", "type": "long", "nullable": False},
            {"name": "o_totalprice", "type": "double"},
            {"name": "o_orderdate", "type": "date"},
            {
                "name": "o_orderpriority",
                "type": "character",
                "enum": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            },
            {"name": "o_orderstatus", "type": "character"},
        ],
        ["o_orderstatus"],
        ["o_orderkey"],
    ),
    "lineitem": (
        "csv",
        [
            {"name": "l_orderkey", "type": "long", "nullable": False},
            {"name": "l_partkey", "type": "long"},
            {"name": "l_linenumber", "type": "int"},
            {"name": "l_quantity", "type": "double"},
            {"name": "l_extendedprice", "type": "double"},
            {"name": "l_returnflag", "type": "character", "enum": ["A", "N", "R"]},
            {"name": "l_linestatus", "type": "character", "pattern": "[FO]"},
        ],
        [],
        [],
    ),
    "events": (
        "json",
        [
            {"name": "event_id", "type": "long"},
            {"name": "user_id", "type": "long", "nullable": False},
            {
                "name": "event_type",
                "type": "character",
                "enum": ["click", "error", "purchase", "signup", "view"],
            },
            {"name": "value", "type": "double"},
            {"name": "props", "type": "character", "pattern": r'\{"k": \d+\}'},
        ],
        [],
        ["event_id"],
    ),
    "customer": (
        "orc",
        [
            {"name": "c_custkey", "type": "long"},
            {"name": "c_name", "type": "character", "pattern": r"Customer#\d{9}"},
            {"name": "c_nationkey", "type": "int", "nullable": False},
            {"name": "c_acctbal", "type": "double"},
            {
                "name": "c_mktsegment",
                "type": "character",
                "enum": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            },
        ],
        [],
        ["c_custkey"],
    ),
}
BAD_VALUE = {"enum": "BOGUS", "pattern": "x-bad"}


def ingest_rows(fixture_dir: str, seed: int):
    """Input rows per ingest table: the fixture rows plus, per declared
    constraint, a seeded number of rows that violate it. Returns
    ``{table: (rows, expected_violations)}``; violating rows other than the
    primary-key duplicates get fresh keys, so each injection counts once."""
    rng = random.Random(seed)
    out = {}
    for table, (_, columns, _, pk) in INGEST_TABLES.items():
        names = [c["name"] for c in columns]
        data = pq.read_table(os.path.join(fixture_dir, f"{table}.parquet")).select(names)
        if "o_orderdate" in names:
            data = data.set_column(
                names.index("o_orderdate"),
                "o_orderdate",
                data.column("o_orderdate").cast(pa.date32()),
            )
        rows = [tuple(r.values()) for r in data.to_pylist()]
        base = rows[:]
        key = names.index(columns[0]["name"])
        next_key = max(r[key] for r in rows) + 1
        expected: dict[str, int] = {}
        for col in columns:
            for kind in ("nullable", "enum", "pattern"):
                if kind not in col:
                    continue
                n = rng.randint(1, 20)
                expected[f"{col['name']}.{kind}"] = n
                i = names.index(col["name"])
                for _ in range(n):
                    row = list(rng.choice(base))
                    row[key] = next_key
                    next_key += 1
                    row[i] = None if kind == "nullable" else BAD_VALUE[kind]
                    rows.append(tuple(row))
        if pk:
            n = rng.randint(1, 20)
            expected["primary_key"] = n
            rows.extend(rng.choice(base) for _ in range(n))
        out[table] = (rows, expected)
    return out


def make_db(base: str):
    from etl_manager_spark.meta.database import DatabaseMeta
    from etl_manager_spark.meta.table import TableMeta

    db = DatabaseMeta(name=INGEST_DB, bucket=base, description="ingest benchmark")
    for table, (fmt, columns, partitions, pk) in INGEST_TABLES.items():
        db.add_table(
            TableMeta(
                name=table,
                location=table,
                columns=[dict(c) for c in columns],
                data_format=fmt,
                partitions=partitions or None,
                primary_key=pk or None,
            )
        )
    return db


@dataclass
class IngestInputs:
    staged: dict[str, str]  # table -> staging parquet of its input rows
    rows: dict[str, int]
    violations: dict[str, dict[str, int]]  # table -> seeded violation counts
    multisets: dict[str, Counter]  # table -> expected read-back rows
    job: Counter  # expected run_job totals


def ingest_inputs(fixture_dir, run_dir, seed) -> IngestInputs:
    """The ingest workload's input files and expected results, made before
    the session starts so set-up time holds none of the harness's work."""
    inputs = ingest_rows(fixture_dir, seed)
    staging = os.path.join(run_dir, "staging")
    os.makedirs(staging, exist_ok=True)
    db = make_db(os.path.join(run_dir, "warehouse"))
    staged = {}
    for table, (rows, _) in inputs.items():
        fields = db.table(table).spark_schema.fields
        schema = pa.schema([(f.name, _arrow_type(f.dataType.simpleString())) for f in fields])
        staged[table] = os.path.join(staging, f"{table}.parquet")
        pq.write_table(
            pa.table([pa.array(c, t.type) for c, t in zip(zip(*rows), schema)], schema=schema),
            staged[table],
        )
    job = Counter()
    for r in inputs["orders"][0]:
        job[(r[-1], "n")] += 1
        job[(r[-1], "cents")] += round(r[2] * 100)
    return IngestInputs(
        staged=staged,
        rows={t: len(rows) for t, (rows, _) in inputs.items()},
        violations={t: expected for t, (_, expected) in inputs.items()},
        multisets={t: Counter(rows) for t, (rows, _) in inputs.items()},
        job=job,
    )


def ingest_steps(spark, run_dir, inputs: IngestInputs):
    from etl_manager_spark.engine import Engine
    from etl_manager_spark.validation import ConstraintReport

    engine = Engine(spark)
    base = os.path.join(run_dir, "warehouse")
    state: dict[str, Any] = {"db": make_db(base)}
    total_rows = sum(inputs.rows.values())

    def write(frames, collect):
        for table, df in frames.items():
            state["db"].table(table).write(df, mode="overwrite")

    steps = [
        Step(
            name="write",
            layer="write",
            build=lambda: {t: spark.read.parquet(path) for t, path in inputs.staged.items()},
            execute=write,
            rows=total_rows,
        )
    ]

    def register():
        state["db"] = make_db(base)
        return state["db"]

    steps.append(
        Step(
            name="register",
            layer="register",
            build=register,
            execute=lambda db, collect: engine.register(db, replace=True),
        )
    )

    def check_validate(reports: dict[str, ConstraintReport]):
        problems = []
        for table, expected in inputs.violations.items():
            rep = reports[table]
            got = {k: v for k, v in rep.violations.items() if v}
            if rep.row_count != inputs.rows[table] or got != expected:
                problems.append(
                    f"validate {table}: rows {rep.row_count} vs {inputs.rows[table]}, "
                    f"violations {got} vs {expected}"
                )
        return problems

    steps.append(
        Step(
            name="validate",
            layer="validate",
            build=lambda: state["db"],
            execute=lambda db, collect: engine.validate(db),
            check=check_validate,
            rows=total_rows,
        )
    )

    def read(frames, collect):
        return {t: noop_or_collect(df, collect) for t, df in frames.items()}

    def check_read(got):
        return [
            f"read-back {table}: multiset differs "
            f"({len(got[table][2])} vs {inputs.rows[table]} rows)"
            for table, expected in inputs.multisets.items()
            if Counter(got[table][2]) != expected
        ]

    steps.append(
        Step(
            name="read",
            layer="read",
            build=lambda: {
                t: engine.sql(
                    f"SELECT {', '.join(c['name'] for c in INGEST_TABLES[t][1])} "
                    f"FROM {INGEST_DB}.{t}"
                )
                for t in INGEST_TABLES
            },
            execute=read,
            check=check_read,
        )
    )

    job_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "etl_job")
    job_out = os.path.join(run_dir, "job_out")

    def run_job(_, collect):
        engine.run_job(
            job_dir,
            job_arguments={"--database": INGEST_DB, "--out": job_out},
        )
        if collect:
            return pq.read_table(job_out).to_pylist()
        return None

    def check_job(got):
        seen = Counter()
        for r in got:
            seen[(r["o_orderstatus"], "n")] += r["n"]
            seen[(r["o_orderstatus"], "cents")] += r["cents"]
        return [] if seen == inputs.job else [f"run_job: {dict(seen)} vs {dict(inputs.job)}"]

    steps.append(Step(name="run_job", layer="job", build=lambda: None, execute=run_job, check=check_job))
    return steps


def _arrow_type(simple: str) -> pa.DataType:
    return {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "string": pa.string(),
        "date": pa.date32(),
    }[simple]


def prepare(workload, fixture_dir, run_dir, seed, oracles):
    """Everything a workload needs that is not the program's own work:
    input files and expected results. Runs before set-up is timed."""
    if workload == "catalog_queries":
        return catalog_inputs(TPCH_QUERIES + BARRIER_QUERIES, oracles) + catalog_inputs(
            STREAM_QUERIES, oracles, layer="stream"
        )
    if workload == "etl_ingest":
        return ingest_inputs(fixture_dir, run_dir, seed)
    raise ValueError(f"unknown workload {workload!r}")


def make_steps(workload, spark, fixture_dir, run_dir, prepared):
    if workload == "catalog_queries":
        return catalog_steps(spark, fixture_dir, prepared)
    return ingest_steps(spark, run_dir, prepared)


def pass_order(steps, seed: int, pass_idx: int):
    """The pass's step order: catalog workloads shuffle their timed passes
    by the seed; the cold pass (0) and the ingest pipeline keep their order."""
    if pass_idx == 0 or steps[0].layer != "query":
        return list(steps)
    order = list(steps)
    random.Random(seed * 1_000_003 + pass_idx).shuffle(order)
    return order
