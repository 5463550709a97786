"""Engine facade: register → SQL → validate, end-to-end on a tempdir
warehouse."""

import pathlib

from pyspark.sql import Row

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
