"""ETL job run by the ingest workload through ``Engine.run_job``: totals of
the registered orders table per order status, written as parquet.

Job arguments: ``--database`` names the registered database, ``--out`` the
output directory. Prices are summed as whole cents so the totals are exact.
"""

database = job_arguments["--database"]  # noqa: F821 - injected by SparkJob.run
out = job_arguments["--out"]  # noqa: F821

spark.sql(  # noqa: F821
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
    FROM {database}.orders
    GROUP BY o_orderstatus
    """
).write.mode("overwrite").parquet(out)
