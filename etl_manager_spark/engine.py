"""Engine facade: one object tying metadata, catalog, query surface, jobs,
and validation together — the user-facing replacement for the reference's
"metadata + Athena + Glue job" triad.

Typical use::

    from etl_manager_spark import read_database_folder
    from etl_manager_spark.engine import Engine

    engine = Engine(spark)
    db = read_database_folder("meta/db1/")
    engine.register(db)                       # catalog DDL + MSCK
    engine.sql("SELECT * FROM workforce.teams WHERE snapshot_year = 2024")
    engine.validate(db)                       # constraint reports
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

    from etl_manager_spark.meta.database import DatabaseMeta
    from etl_manager_spark.validation import ConstraintReport

# bounds py4j connections and JVM threads; Spark's scheduler queues the tasks
VALIDATE_THREADS = 8


class Engine:
    def __init__(self, spark: "SparkSession"):
        self.spark = spark

    def register(
        self,
        db: "DatabaseMeta",
        replace: bool = False,
        refresh_partitions: bool = True,
    ) -> None:
        """Create the database + external tables on the Spark catalog and
        discover on-disk partitions (the reference's create_glue_database +
        refresh_all_table_partitions, without the Athena round-trips)."""
        if replace:
            db.delete_database(self.spark)
        db.update_database(self.spark, update_tables_if_exist=replace)
        if refresh_partitions:
            db.refresh_all_table_partitions(self.spark)

    def sql(self, query: str) -> "DataFrame":
        """Full Spark SQL over registered tables — the capability the
        reference delegates to Athena (reference README.md:55)."""
        return self.spark.sql(query)

    def table(self, qualified_name: str) -> "DataFrame":
        return self.spark.table(qualified_name)

    def analyze(self, db: "DatabaseMeta", columns: bool = False) -> None:
        """Collect table (and optionally column) statistics for every table
        in the database — row counts and sizes for the optimizer, min/max/
        ndv per column when ``columns`` is set. At scale this is what turns
        Catalyst's cost-based join reordering and broadcast-threshold
        decisions from guesses into informed choices; re-run after large
        loads (the reference has no equivalent — Glue crawlers fill this
        role in its stack)."""
        for t in db.tables:
            suffix = " FOR ALL COLUMNS" if columns else ""
            self.spark.sql(
                f"ANALYZE TABLE {db.name}.{t.name} COMPUTE STATISTICS{suffix}"
            )

    def validate(self, db: "DatabaseMeta") -> dict[str, "ConstraintReport"]:
        """Constraint report per table (declared → enforced on demand), in
        ``db.tables`` order.

        Tables are checked concurrently, on at most ``VALIDATE_THREADS``
        threads. Each table's check is a few small Spark jobs whose wall time
        is mostly driver-side latency (py4j, Catalyst, stage boundaries,
        scheduling), not task time, so running the tables side by side
        overlaps that latency; the jobs and plans are the same as one table
        at a time. Each table's check is wrapped on its own by
        ``inheritable_thread_target``, so its jobs carry the caller's local
        properties (job group, description, scheduler pool) in a copy of
        their own: one shared copy would receive every thread's SQL
        execution id. Every check has finished before this returns or
        raises; when tables fail, the error of the first failing table in
        ``db.tables`` order is raised unchanged."""
        from pyspark.util import inheritable_thread_target

        from etl_manager_spark.validation import validate

        def check(t):
            return validate(t.read(self.spark), t)

        tables = list(db.tables)
        if not tables:
            return {}
        with ThreadPoolExecutor(min(len(tables), VALIDATE_THREADS)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(check), t)
                for t in tables
            ]
        return {t.name: f.result() for t, f in zip(tables, futures)}

    def run_job(self, job_folder: str, **kwargs):
        """Execute a folder-convention job with this engine's session.

        The job's scratch dir (``job_temp_path`` inside job.py) lives only
        for the run: it is removed when the run returns or raises. Use
        :class:`~etl_manager_spark.jobs.SparkJob` directly to keep it."""
        from etl_manager_spark.jobs import SparkJob

        run_kwargs = {}
        if "timeout_minutes" in kwargs:
            run_kwargs["timeout_minutes"] = kwargs.pop("timeout_minutes")
        job = SparkJob(job_folder, **kwargs)
        try:
            return job.run(self.spark, **run_kwargs)
        finally:
            job.cleanup()
