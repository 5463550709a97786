"""Engine facade: register → SQL → validate, end-to-end on a tempdir
warehouse."""

import pathlib
import threading

import pytest
from pyspark.sql import Row

import etl_manager_spark
from etl_manager_spark import DatabaseMeta, TableMeta
from etl_manager_spark.engine import Engine


def test_register_sql_validate(spark, tmp_path):
    db = DatabaseMeta(name="wh_test", bucket=str(tmp_path), base_folder="db")
    t = TableMeta(
        name="teams",
        location="teams",
        data_format="parquet",
        columns=[
            {"name": "team_id", "type": "int", "nullable": False},
            {"name": "members", "type": "int"},
            {"name": "snapshot_year", "type": "int"},
        ],
        partitions=["snapshot_year"],
        primary_key=["team_id"],
    )
    db.add_table(t)
    t.write(
        spark.createDataFrame(
            [
                Row(team_id=1, members=5, snapshot_year=2023),
                Row(team_id=2, members=8, snapshot_year=2024),
            ]
        ),
        mode="overwrite",
    )

    engine = Engine(spark)
    engine.register(db)
    try:
        out = engine.sql(
            "SELECT team_id, members FROM wh_test.teams WHERE snapshot_year = 2024"
        ).collect()
        assert out == [Row(team_id=2, members=8)]

        reports = engine.validate(db)
        assert reports["teams"].ok

        # re-register with replace is idempotent
        engine.register(db, replace=True)
        assert engine.table("wh_test.teams").count() == 2
    finally:
        db.delete_database(spark)


def test_analyze_collects_stats(spark, tmp_path):
    db = DatabaseMeta(name="wh_stats", bucket=str(tmp_path), base_folder="db")
    t = TableMeta(
        name="m",
        location="m",
        data_format="parquet",
        columns=[{"name": "k", "type": "int"}, {"name": "v", "type": "double"}],
    )
    db.add_table(t)
    t.write(
        spark.createDataFrame([Row(k=1, v=1.5), Row(k=2, v=2.5)]), mode="overwrite"
    )
    engine = Engine(spark)
    engine.register(db)
    try:
        engine.analyze(db, columns=True)
        detail = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED wh_stats.m").collect()
        }
        stats = detail.get("Statistics", "")
        assert "rows" in stats, detail  # rowCount recorded for the optimizer
    finally:
        db.delete_database(spark)


def test_cli_list_oracle_and_verify(capsys):
    from etl_manager_spark.__main__ import main

    assert main(["list", "--category", "formats"]) == 0
    out = capsys.readouterr().out
    assert "fixedwidth_scan_orders" in out and "sql-oracle" in out

    assert main(["oracle", "q1_pricing_summary"]) == 0
    assert "l_returnflag" in capsys.readouterr().out

    assert main(["oracle", "nonexistent_query"]) == 2
    assert main(["verify", "l_diversity_audit_events"]) == 0
    assert "match the DuckDB oracle" in capsys.readouterr().out


def test_cli_verify_reports_mismatch(monkeypatch, capsys):
    # sabotage one oracle: the CLI must exit 1 and print the first diff
    from etl_manager_spark import workloads
    from etl_manager_spark.__main__ import main

    reg = workloads.load_registry()
    real = reg["l_diversity_audit_events"]
    import dataclasses

    bad = dataclasses.replace(
        real, oracle_spec=real.oracle.replace("l < 3", "l < 2")
    )
    monkeypatch.setitem(reg, "l_diversity_audit_events", bad)
    monkeypatch.setattr(workloads, "load_registry", lambda: reg)
    import etl_manager_spark.__main__ as cli

    monkeypatch.setattr(cli, "_registry", lambda: reg)
    assert main(["verify", "l_diversity_audit_events"]) == 1
    assert "MISMATCH" in capsys.readouterr().out


def test_cli_verify_rejects_double_for_bigint(monkeypatch, capsys):
    # equal values, wrong type: an oracle column typed DOUBLE where Spark
    # emits bigint fails the gate's comparison, so verify must fail too
    from etl_manager_spark import workloads
    from etl_manager_spark.__main__ import main

    reg = workloads.load_registry()
    real = reg["l_diversity_audit_events"]
    import dataclasses

    bad = dataclasses.replace(
        real,
        oracle_spec=(
            f"SELECT * REPLACE (CAST(n AS DOUBLE) AS n) FROM ({real.oracle})"
        ),
    )
    import etl_manager_spark.__main__ as cli

    monkeypatch.setattr(
        cli, "_registry", lambda: {**reg, "l_diversity_audit_events": bad}
    )
    assert main(["verify", "l_diversity_audit_events"]) == 1
    assert "DOUBLE" in capsys.readouterr().out


def test_cli_verify_trains_the_oracle_on_its_sf_dir(capsys, sf_dir):
    # the IVF oracle embeds centroids trained from the data; verify must
    # train them on the dir it compares at, whatever the oracle scale is
    # and whether or not that oracle was built earlier in the process
    from etl_manager_spark.__main__ import main

    args = ["verify", "similarity_topk_ivf", "--sf-dir", sf_dir]
    assert main(args) == 0, capsys.readouterr().out


def test_only_parity_lib_creates_oracle_views():
    """DuckDB oracle views are made in one place, parity_lib.oracle_db;
    the statement is split below so this file does not match itself."""
    repo = pathlib.Path(__file__).resolve().parent.parent
    owner = repo / "tools" / "parity_lib.py"
    statement = "CREATE" + " VIEW"
    offenders = [
        str(path.relative_to(repo))
        for top in ("etl_manager_spark", "tools", "tests")
        for path in sorted((repo / top).rglob("*.py"))
        if path != owner and statement in path.read_text()
    ]
    assert offenders == []


def test_update_database_ignores_temp_views(spark, tmp_path):
    """A session temp view sharing a table's name must not make
    update_database skip creating the real catalog table."""
    from etl_manager_spark import DatabaseMeta, TableMeta

    t = TableMeta(
        name="tv_clash", location="tv_clash", data_format="parquet",
        columns=[{"name": "id", "type": "int"}],
    )
    db = DatabaseMeta(name="tvdb", bucket=str(tmp_path), base_folder="", description="x")
    db.add_table(t)
    spark.sql("DROP DATABASE IF EXISTS tvdb CASCADE")
    df = spark.range(3).selectExpr("cast(id as int) as id")
    t.write(df, mode="overwrite")
    df.createOrReplaceTempView("tv_clash")  # the clash
    try:
        db.update_database(spark)
        tables = {
            (x.name, x.isTemporary)
            for x in spark.catalog.listTables("tvdb")
        }
        assert ("tv_clash", False) in tables  # the REAL table exists
        assert spark.sql("SELECT COUNT(*) c FROM tvdb.tv_clash").collect()[0].c == 3
    finally:
        spark.catalog.dropTempView("tv_clash")
        spark.sql("DROP DATABASE IF EXISTS tvdb CASCADE")


def test_database_from_catalog_skips_temp_views_and_reads_provider(spark, tmp_path):
    from etl_manager_spark import DatabaseMeta, TableMeta
    from etl_manager_spark.meta.database import database_from_catalog

    t = TableMeta(
        name="introspect_me", location="introspect_me", data_format="parquet",
        columns=[{"name": "id", "type": "int"}],
    )
    db = DatabaseMeta(name="introdb", bucket=str(tmp_path), base_folder="", description="x")
    db.add_table(t)
    spark.sql("DROP DATABASE IF EXISTS introdb CASCADE")
    t_df = spark.range(2).selectExpr("cast(id as int) as id")
    t.write(t_df, mode="overwrite")
    db.create_database(spark)
    spark.range(1).createOrReplaceTempView("some_random_tempview")
    try:
        back = database_from_catalog(spark, "introdb")
        assert back.table_names == ["introspect_me"]  # temp view not present
        assert back.table("introspect_me").data_format == "parquet"
    finally:
        spark.catalog.dropTempView("some_random_tempview")
        spark.sql("DROP DATABASE IF EXISTS introdb CASCADE")


@pytest.fixture(scope="module")
def three_table_db(spark, tmp_path_factory):
    """A partitioned table with a primary key, a table without a key and a
    csv table, each with a seeded violation; written once per module."""
    db = DatabaseMeta(
        name="wh_validate", bucket=str(tmp_path_factory.mktemp("wh")), base_folder="db"
    )
    tables = [
        TableMeta(
            name="teams",
            location="teams",
            columns=[
                {"name": "team_id", "type": "int", "nullable": False},
                {"name": "grade", "type": "int", "enum": [1, 2]},
                {"name": "snapshot_year", "type": "int"},
            ],
            partitions=["snapshot_year"],
            primary_key=["team_id"],
        ),
        TableMeta(
            name="events",
            location="events",
            columns=[
                {"name": "kind", "type": "character", "pattern": "[a-z]+"},
                {"name": "n", "type": "int", "nullable": False},
            ],
        ),
        TableMeta(
            name="codes",
            location="codes",
            data_format="csv",
            columns=[
                {"name": "code", "type": "character", "enum": ["a", "b"]},
                {"name": "v", "type": "int"},
            ],
        ),
    ]
    rows = [
        ([(1, 1, 2023), (1, 3, 2024), (2, 2, 2024)], "team_id int, grade int, snapshot_year int"),
        ([("ok", 1), ("BAD", None)], "kind string, n int"),
        ([("a", 1), ("z", 2), (None, 3)], "code string, v int"),
    ]
    for t, (data, schema) in zip(tables, rows):
        db.add_table(t)
        t.write(spark.createDataFrame(data, schema), mode="overwrite")
    return db


def test_validate_matches_per_table_reports(spark, three_table_db):
    from etl_manager_spark.validation import validate

    db = three_table_db
    reports = Engine(spark).validate(db)
    assert list(reports) == db.table_names
    assert reports == {t.name: validate(t.read(spark), t) for t in db.tables}
    assert reports["teams"].violations == {
        "team_id.nullable": 0, "grade.enum": 1, "primary_key": 1,
    }
    assert reports["events"].violations == {"kind.pattern": 1, "n.nullable": 1}
    assert reports["codes"].violations == {"code.enum": 1}


def test_validate_jobs_inherit_the_callers_local_properties(spark, three_table_db):
    """Every job the concurrent checks launch joins the caller's job group
    and carries its scheduler pool; plain worker threads would start with
    empty local properties, and their jobs would be ungrouped."""
    from etl_manager_spark.plans.counters import counted_jobs

    db = three_table_db
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = "validate-inherits-props"
    sc.setJobGroup(group, "validate under a caller group")
    sc.setLocalProperty("spark.scheduler.pool", "etl")
    try:
        with counted_jobs(spark) as ungrouped:
            Engine(spark).validate(db)
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert ungrouped["jobs"] == 0
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) >= len(db.tables)
    store = jsc.statusStore()
    pools = set()
    for j in jobs:
        stage_ids = store.job(j).stageIds()
        for i in range(stage_ids.size()):
            stage = store.lastStageAttempt(stage_ids.apply(i))
            if stage.status().toString() == "COMPLETE":
                pools.add(stage.schedulingPool())
    assert pools == {"etl"}


def test_validate_raises_the_first_failing_table_and_joins_its_threads(
    spark, three_table_db
):
    from pyspark.errors import AnalysisException

    db = three_table_db
    gone = ("gone_a", "gone_b")
    for name in gone:
        db.add_table(
            TableMeta(name=name, location=name, columns=[{"name": "k", "type": "int"}])
        )
    before = threading.active_count()
    try:
        with pytest.raises(AnalysisException) as err:
            Engine(spark).validate(db)
    finally:
        for name in gone:
            db.remove_table(name)
    assert "gone_a" in str(err.value) and "gone_b" not in str(err.value)
    assert threading.active_count() == before


def test_only_engine_and_runner_start_threads():
    """A thread that runs Spark work must inherit the caller's local
    properties, so threads are started only in engine.py and
    jobs/runner.py, and both wrap their targets in
    ``inheritable_thread_target``."""
    pkg = pathlib.Path(etl_manager_spark.__file__).parent
    owners = {pkg / "engine.py", pkg / "jobs" / "runner.py"}
    starters = ("Thread(", "ThreadPoolExecutor(")
    offenders = [
        str(path.relative_to(pkg))
        for path in sorted(pkg.rglob("*.py"))
        if path not in owners and any(s in path.read_text() for s in starters)
    ]
    assert offenders == []
    for path in owners:
        assert "inheritable_thread_target(" in path.read_text(), path
