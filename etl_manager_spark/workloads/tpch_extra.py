"""TPC-H analog batch 4: the remaining query shapes adaptable to the
driver testdata (no partsupp table; lineitem has no commit/receipt dates —
see TESTDATA.md), closing out the classic decision-support shapes:
correlated scalar subqueries, distribution histograms, window-max
"argmax" selection, relation-derived semi-joins, and anti-join + scalar
subquery combinations.

Scale notes per query inline. Decimal-exact money discipline per
functions/exact.py (SURVEY §5: DuckDB-oracle hash parity).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_manager_spark.functions.exact import dec, dec_sum
from etl_manager_spark.operators.materialize import materialize
from etl_manager_spark.workloads import workload
from etl_manager_spark.workloads.tables import load_tables

_REVENUE_SPARK = (
    lambda: F.sum(
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    ).cast("double")
)
_REVENUE_SQL = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
)


@workload(
    "q9_profit_by_nation_year",
    f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
           {_REVENUE_SQL} AS profit
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%ivory%'
    GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
    """,
    category="join",
)
def q9_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape (sans partsupp supplycost): five-way join, profit by
    supplier nation and order year. Scale: part/supplier/nation broadcast;
    the two fact-side joins (lineitem→orders) shuffle on orderkey once —
    Catalyst keeps lineitem as the streamed side throughout."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_name").like("%ivory%"))),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_REVENUE_SPARK().alias("profit"))
    )


@workload(
    "q13_customer_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    category="join",
)
def q13_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: customer-order-count histogram via left outer join
    with a join-side predicate, double aggregation. Scale: first groupBy
    shuffles on custkey (same key as the join — Catalyst reuses the
    exchange); second aggregate is tiny (distinct counts)."""
    t = load_tables(spark, sf_dir)
    per_cust = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@workload(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, {_REVENUE_SQL} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    category="subquery",
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: argmax over an aggregated view. The scalar
    subquery becomes a 1-row global max joined back by equality — the
    supplier aggregate is computed once (eagerly checkpointed: the r10
    plan audit showed ReuseExchange does NOT dedupe the two consumers —
    per-branch column pruning breaks the canonical-plan match and the
    fact table was scanned twice) and never funnels through a
    single-partition window. The revenue doubles are decimal-exact so
    the equality comparison is portable across engines; supplier side
    broadcasts."""
    t = load_tables(spark, sf_dir)
    revenue = materialize(
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_REVENUE_SPARK().alias("total_revenue"))
    )
    max_rev = revenue.groupBy().agg(F.max("total_revenue").alias("_max_rev"))
    best = revenue.join(
        F.broadcast(max_rev), F.col("total_revenue") == F.col("_max_rev")
    ).drop("_max_rev")
    return (
        F.broadcast(t["supplier"])
        .join(best, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@workload(
    "q16_supplier_count_by_part",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type NOT LIKE 'SMALL%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    """,
    category="aggregation",
)
def q16_supplier_count_by_part(spark, sf_dir):
    """TPC-H Q16 shape with lineitem standing in for partsupp as the
    part↔supplier relation: distinct-supplier counts per part attribute
    triple under negated/IN predicates. Scale: the part filter broadcasts;
    countDistinct expands to a two-stage aggregate (partial distinct
    map-side), so the shuffle carries deduped (attrs, suppkey) pairs."""
    t = load_tables(spark, sf_dir)
    part = t["part"].filter(
        (F.col("p_brand") != "Brand#3")
        & ~F.col("p_type").like("SMALL%")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@workload(
    "q17_small_quantity_revenue",
    """
    WITH flagged AS (
        SELECT l_extendedprice, l_quantity,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey) AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#2'
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM flagged
    WHERE CAST(l_quantity AS DOUBLE) < 0.2 * avg_qty
    """,
    category="subquery",
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated per-part average decorrelated into a
    window (one scan instead of the naive rescan-per-row). The threshold is
    computed decimal-sum / count → double in both engines so the filter
    boundary is bitwise-portable. Scale: window partitions by partkey —
    same shuffle key as the join output; no extra exchange."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("l_partkey")
    flagged = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].filter(F.col("p_brand") == "Brand#2")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .withColumn(
            "avg_qty",
            F.sum(dec("l_quantity")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
        )
    )
    return (
        flagged.filter(F.col("l_quantity").cast("double") < 0.2 * F.col("avg_qty"))
        .agg((dec_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@workload(
    "q20_heavy_shippers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'aqua%'
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50
    )
    """,
    category="subquery",
)
def q20_heavy_shippers(spark, sf_dir):
    """TPC-H Q20 shape (lineitem standing in for partsupp availability):
    suppliers who shipped > threshold quantity of matching parts in a
    year — IN-subquery with HAVING → aggregate + left-semi join. Scale:
    the aggregate output (distinct suppliers) is tiny → broadcast the
    semi-join side; supplier table never shuffles."""
    t = load_tables(spark, sf_dir)
    heavy = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .join(
            F.broadcast(t["part"].filter(F.col("p_name").like("aqua%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(dec_sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    return (
        t["supplier"]
        .join(F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


@workload(
    "unpivot_part_measures",
    """
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value FROM part
    """,
    category="setop",
)
def unpivot_part_measures(spark, sf_dir):
    """Wide→long unpivot (melt): one scan, a Generate (explode) node —
    no shuffle, no join; the oracle is the equivalent UNION ALL. Scale:
    the single-scan Expand beats k self-scans by k×."""
    t = load_tables(spark, sf_dir)
    return t["part"].select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@workload(
    "window_range_30d_spend",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY DATEDIFF('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) NULLS FIRST
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_30d
    FROM orders
    """,
    category="window",
)
def window_range_30d_spend(spark, sf_dir):
    """RANGE-frame window: per-customer trailing-30-day spend. The frame
    key is epoch-days (int) so both engines use an identical numeric
    RANGE frame; ties (same-day orders) are summed together, which
    row-frames can't express. Scale: one hash exchange on custkey + sort;
    decimal-exact running sums."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")))
        .rangeBetween(-30, Window.currentRow)
    )
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("spend_30d"),
    )


@workload(
    "q22_global_sales_opportunity",
    """
    WITH rich AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
          AND CAST(c_acctbal AS DOUBLE) > (
              SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
              FROM customer
              WHERE c_acctbal > 0.0
                AND c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
          )
    )
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM rich
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
    """,
    category="subquery",
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape (market segment standing in for phone country
    code): above-average-balance customers with no orders. Scalar subquery
    → single-row aggregate broadcast-cross-joined into the filter (one
    Spark job, whole plan visible to Catalyst — no driver-side collect);
    NOT IN (no nulls in o_custkey) → left-anti join. Scale: anti join
    shuffles on custkey; the rich-customer side is already small
    post-filter."""
    t = load_tables(spark, sf_dir)
    segs = ("AUTOMOBILE", "BUILDING", "MACHINERY")
    seg_cust = t["customer"].filter(F.col("c_mktsegment").isin(*segs))
    avg_df = seg_cust.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("_avg_bal")
    )
    # NULL-AWARE anti join: NOT IN over a list containing NULL is never
    # true (three-valued logic), so one NULL o_custkey must empty the
    # result - a plain left_anti would silently ignore it. The guard is
    # a 1-row aggregate broadcast like the average.
    null_free = t["orders"].agg(
        (~F.coalesce(F.max(F.col("o_custkey").isNull()), F.lit(False))).alias(
            "_no_null_keys"
        )
    )
    return (
        seg_cust.crossJoin(F.broadcast(avg_df))
        .crossJoin(F.broadcast(null_free))
        .filter(
            (F.col("c_acctbal").cast("double") > F.col("_avg_bal"))
            & F.col("_no_null_keys")
        )
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_sum("c_acctbal").alias("totacctbal"),
        )
    )


@workload(
    "q2_min_cost_supplier",
    """
    WITH eur AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    pair AS (
        SELECT p_partkey, p_brand, p_size,
               s_name, s_acctbal, n_name,
               MIN(l_extendedprice) AS cost
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN eur ON l_suppkey = s_suppkey
        WHERE p_size < 10 AND p_type = 'STANDARD'
        GROUP BY p_partkey, p_brand, p_size, s_name, s_acctbal, n_name
    )
    SELECT p_partkey, p_brand, p_size, s_name, s_acctbal, n_name, cost
    FROM (
        SELECT *, MIN(cost) OVER (PARTITION BY p_partkey) AS _mc FROM pair
    )
    WHERE cost = _mc
    """,
    category="subquery",
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (lineitem standing in for partsupp as the
    part↔supplier offer relation, min extendedprice as supplycost): for
    each STANDARD small part, the EUROPE supplier(s) offering it at the
    region-wide minimum price, with supplier account details. The
    correlated MIN subquery is decorrelated into a window over the
    per-(part, supplier) aggregate — one scan, no rescan-per-row.

    Scale: part filter and the region-pruned supplier⋈nation⋈region dim
    both broadcast; the fact side shuffles once on the composite group
    key, and the window partitions by p_partkey — a subset of the
    grouping key, so AQE plans no extra exchange beyond the agg's own.
    MIN over doubles is order-free (no decimal discipline needed)."""
    t = load_tables(spark, sf_dir)
    eur = (
        t["supplier"]
        .join(
            t["nation"],
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            t["region"].filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pair = (
        t["lineitem"]
        .join(
            F.broadcast(
                t["part"].filter(
                    (F.col("p_size") < 10) & (F.col("p_type") == "STANDARD")
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            "p_partkey", "p_brand", "p_size", "s_name", "s_acctbal", "n_name"
        )
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        pair.withColumn("_mc", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("_mc"))
        .drop("_mc")
    )


@workload(
    "q11_important_part_value",
    """
    WITH nat_value AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   CAST(l_quantity AS DECIMAL(18,2))) AS value_dec
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_nationkey = 7
        GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM nat_value
    WHERE CAST(value_dec AS DOUBLE) >
          0.001 * (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM nat_value)
    """,
    category="subquery",
)
def q11_important_part_value(spark, sf_dir):
    """TPC-H Q11 shape (lineitem⋈supplier standing in for partsupp):
    per-part traded value from one nation's suppliers, keeping parts
    whose value exceeds a fixed fraction of the nation-wide total — a
    HAVING against a scalar subquery over the same aggregate.

    Scale: the nation-pruned supplier dim broadcasts; ONE shuffle on
    l_partkey builds the per-part values, and the global total is a
    1-row re-aggregate of that (tiny) table, broadcast back for the
    filter — the fact table is scanned once (the per-part table is
    eagerly checkpointed: lazily, the r10 plan audit showed the total
    branch re-scanned the fact table, column pruning having broken
    exchange reuse). Decimal product-sums make
    both the per-part values and the 0.001·total threshold bitwise
    identical across engines (one IEEE multiply of identical doubles)."""
    t = load_tables(spark, sf_dir)
    nat_value = materialize(
        t["lineitem"]
        .join(
            F.broadcast(t["supplier"].filter(F.col("s_nationkey") == 7)),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice") * dec("l_quantity")).alias("value_dec"))
    )
    total = nat_value.agg(
        F.sum("value_dec").cast("double").alias("_total")
    )
    return (
        nat_value.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > 0.001 * F.col("_total"))
        .select(
            "l_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
    )


@workload(
    "q21_sole_return_supplier",
    """
    WITH ord AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
                 AS n_r_supp
        FROM lineitem
        GROUP BY l_orderkey
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM (
        SELECT DISTINCT l_orderkey, l_suppkey
        FROM lineitem WHERE l_returnflag = 'R'
    ) r
    JOIN ord ON r.l_orderkey = ord.l_orderkey
    JOIN supplier ON r.l_suppkey = s_suppkey
    WHERE n_supp > 1 AND n_r_supp = 1
    GROUP BY s_name
    """,
    category="subquery",
)
def q21_sole_return_supplier(spark, sf_dir):
    """TPC-H Q21 shape (returnflag standing in for the late-delivery
    predicate): suppliers who were the ONLY supplier with a returned
    line in a multi-supplier order — EXISTS (another supplier in the
    order) + NOT EXISTS (another supplier who also returned),
    decorrelated into one per-order distinct-supplier aggregate instead
    of two correlated self-joins (the naive plan rescans lineitem twice
    per probe row; this shape scans it twice total, and both passes
    shuffle on the same l_orderkey key).

    Scale: ord and the distinct R-pairs hash on l_orderkey — the join
    between them reuses that partitioning (zero extra exchange under
    AQE); supplier broadcasts; the final rollup keys on the small
    supplier name domain."""
    t = load_tables(spark, sf_dir)
    ord_stats = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).alias("n_r_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_r_supp") == 1))
    )
    r_pairs = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        r_pairs.join(ord_stats, on="l_orderkey")
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@workload(
    "correlated_scalar_projection",
    """
    SELECT n_nationkey, n_name,
           (SELECT MAX(s_acctbal) FROM supplier
            WHERE s_nationkey = n_nationkey) AS max_supplier_bal,
           CAST((SELECT COUNT(*) FROM supplier
                 WHERE s_nationkey = n_nationkey
                   AND s_acctbal > 5000.0) AS BIGINT) AS n_rich_suppliers
    FROM nation
    """,
    category="subquery",
)
def correlated_scalar_projection(spark, sf_dir):
    """Correlated scalar subqueries in the PROJECTION list — including
    the classic COUNT-bug shape: a nation with no qualifying suppliers
    must get count 0 (not NULL), while the MAX stays NULL. Catalyst
    decorrelates both into left-outer aggregate joins; the COUNT branch
    adds the coalesce the decorrelation rule is famous for. Scale: the
    per-nation aggregates are dimension-sized and broadcast back —
    supplier is scanned twice (once per subquery), each a partial-agg
    pass on s_nationkey."""
    t = load_tables(spark, sf_dir)
    t["nation"].createOrReplaceTempView("_csp_nation")
    t["supplier"].createOrReplaceTempView("_csp_supplier")
    return spark.sql(
        """
        SELECT n_nationkey, n_name,
               (SELECT MAX(s_acctbal) FROM _csp_supplier
                WHERE s_nationkey = n_nationkey) AS max_supplier_bal,
               CAST((SELECT COUNT(*) FROM _csp_supplier
                     WHERE s_nationkey = n_nationkey
                       AND s_acctbal > 5000.0) AS BIGINT) AS n_rich_suppliers
        FROM _csp_nation
        """
    )
