"""Aggregation / sort / set-op / DQ-shaped analytics queries.

Parity targets: SURVEY §2.4 (A1 group-by multi-aggregate, A2/A3 conditional
aggregation, A4 global scalar aggregates, A6 DISTINCT, A7 frequency
distribution, A8 composite-key duplicate detection), §2.6 (O1 order-by,
O3 top-k by aggregate with HAVING — `governance/audit_queries.sql:28-38`),
§2.7 (set ops — engine built-ins the reference lacks but our SCD2 needs),
§2.2 P6/P7 (accepted-values and orphan checks as queries,
`silver/utils/data_quality_checks.py:43-79`,
`legacy_dbt_project/tests/assert_policy_has_property.sql:5-12`).

Scale notes: every aggregate here is a map-side-combinable hash aggregate
(one shuffle on the group keys); top-k does a partial per-partition take
under AQE before the single-partition final sort; anti-joins broadcast the
small side. No driver-side loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (count_if, d2d_sql, davg, davg_sql, dsum, dsum_sql,
                         sum_if)
from ..tables import load


def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the classic pricing-summary shape (groupBy two flags, 8 measures)
    — the engine twin of `int_premium_summary.sql:9-23` at lineitem grain."""
    # filter + pruned projection BEFORE the spread so pushdown reaches the
    # scan; spread parallelizes the decimal partial aggregates off the
    # single-row-group local file (guide §2.5; measured at sf0.1:
    # 1.43 s → 1.09 s median). No-op at cluster scale.
    from ..tables import spread
    li = load(spark, sf_dir, "lineitem")
    # exact decimal products: the raw doubles carry 2-decimal values, so
    # cast-then-multiply is exact in BOTH engines; a double product
    # rounded to decimal(,8) hits engine-dependent half-way cases
    disc = (F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    charged = disc * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))
    return (
        spread(li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
               .select("l_returnflag", "l_linestatus", "l_quantity",
                       "l_extendedprice", "l_discount", "l_tax"), spark)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc, scale=4, precision=30).alias("sum_disc_price"),
            dsum(charged, scale=6, precision=30).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg(F.col("l_discount"), scale=4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def order_status_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/O1: categorical frequency distribution
    (`migration_validation/reconciliation.py:104-105`)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderstatus").alias("order_status"))
        .agg(F.count("*").alias("n"))
        .orderBy("order_status")
    )


def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 top-k: revenue per customer with HAVING + deterministic tie-break
    (`governance/audit_queries.sql:28-38` shape)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .groupBy("o_custkey")
        .agg(
            dsum(F.col("l_extendedprice").cast("decimal(18,2)")
                 * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")),
                 scale=4, precision=30).alias("revenue"),
            F.countDistinct("o_orderkey").alias("order_count"),
        )
        .filter(F.col("order_count") >= 3)
    )
    return (
        rev.join(c, F.col("o_custkey") == F.col("c_custkey"), "inner")
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.trim("c_name").alias("customer_name"),
            F.col("revenue"),
            F.col("order_count"),
        )
        .orderBy(F.col("revenue").desc(), F.col("customer_id"))
        .limit(25)
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left-anti: parents with no children (orphan detection idiom,
    `silver/utils/data_quality_checks.py:67-79`)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select(F.col("c_custkey").alias("customer_id"),
                F.trim("c_name").alias("customer_name"))
    )


def dq_orphan_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/J4 referential-integrity check: child rows with no parent, expected
    empty (`assert_policy_has_property.sql:5-12`)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .select(F.col("l_orderkey").alias("order_id"),
                F.col("l_linenumber").alias("line_number"))
    )


def dq_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 composite-key duplicate detection
    (`silver/utils/data_quality_checks.py:94-105`)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("order_id"),
                   F.col("l_linenumber").alias("line_number"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 accepted-values check: rows outside the vocabulary, expected empty
    (`silver/utils/data_quality_checks.py:43-64`)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(~F.col("o_orderstatus").isin("O", "F", "P"))
        .select(F.col("o_orderkey").alias("order_id"),
                F.col("o_orderstatus").alias("order_status"))
    )


def recon_global_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5/A6 reconciliation scalars: one row of SUM/AVG/MIN/MAX/COUNT/
    COUNT DISTINCT per measure (`migration_validation/reconciliation.py:58-92`)."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("row_count"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
        dsum("l_extendedprice").alias("sum_extended_price"),
        dsum("l_quantity").alias("sum_quantity"),
        davg("l_discount", scale=4).alias("avg_discount"),
        F.min("l_shipdate").cast("date").alias("min_ship_date"),
        F.max("l_shipdate").cast("date").alias("max_ship_date"),
    )


def returned_or_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set ops: UNION(distinct) ∪ then EXCEPT — order keys with returns
    or still-open status, minus high-value orders."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    returned = (li.filter(F.col("l_returnflag") == "R")
                .select(F.col("l_orderkey").alias("order_id")))
    open_ = (o.filter(F.col("o_orderstatus") == "O")
             .select(F.col("o_orderkey").alias("order_id")))
    high_value = (o.filter(F.col("o_totalprice") > 400000)
                  .select(F.col("o_orderkey").alias("order_id")))
    return returned.union(open_).distinct().exceptAll(high_value.distinct())


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(nation, segment) — grouping-set aggregate over the star join
    (engine capability beyond the reference; SURVEY §2.4 notes absence)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    joined = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.rollup(F.col("n_name").alias("nation_name"),
                      F.col("c_mktsegment").alias("market_segment"))
        .agg(dsum("o_totalprice").alias("total_revenue"),
             F.count("*").alias("order_count"))
    )


def premium_payment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1–A3 direct twin of `int_premium_summary.sql:10-22`: per parent key —
    COUNT, MIN/MAX dates, conditional SUM per status, conditional late count,
    AVG datediff."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
    ship_lag = F.datediff(F.col("l_shipdate").cast("date"),
                          F.col("o_orderdate").cast("date"))
    return (
        j.groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(
            F.count("*").alias("line_count"),
            F.min(F.col("l_shipdate").cast("date")).alias("first_ship_date"),
            F.max(F.col("l_shipdate").cast("date")).alias("last_ship_date"),
            sum_if(F.col("l_returnflag") == "R", "l_extendedprice")
                .alias("returned_amount"),
            sum_if(F.col("l_returnflag") == "A", "l_extendedprice")
                .alias("accepted_amount"),
            sum_if(F.col("l_returnflag") == "N", "l_extendedprice")
                .alias("neutral_amount"),
            count_if(ship_lag > 90).alias("late_ship_count"),
            F.avg(ship_lag).alias("avg_ship_lag_days"),
        )
    )


QUERIES = {
    "agg_pricing_summary": agg_pricing_summary,
    "order_status_histogram": order_status_histogram,
    "top_customers_by_revenue": top_customers_by_revenue,
    "customers_without_orders": customers_without_orders,
    "dq_orphan_lineitems": dq_orphan_lineitems,
    "dq_duplicate_keys": dq_duplicate_keys,
    "dq_accepted_values": dq_accepted_values,
    "recon_global_aggregates": recon_global_aggregates,
    "returned_or_open_orders": returned_or_open_orders,
    "revenue_rollup": revenue_rollup,
    "premium_payment_summary": premium_payment_summary,
}

_DISC = ("(CAST(l_extendedprice AS DECIMAL(18,2)) "
         "* (1 - CAST(l_discount AS DECIMAL(4,2))))")
_CHARGED = f"({_DISC} * (1 + CAST(l_tax AS DECIMAL(4,2))))"

ORACLES = {
    "agg_pricing_summary": f"""
        SELECT
            l_returnflag, l_linestatus,
            {dsum_sql("l_quantity")} AS sum_qty,
            {dsum_sql("l_extendedprice")} AS sum_base_price,
            {dsum_sql(_DISC, 4, 30)} AS sum_disc_price,
            {dsum_sql(_CHARGED, 6, 30)} AS sum_charge,
            {davg_sql("l_quantity")} AS avg_qty,
            {davg_sql("l_extendedprice")} AS avg_price,
            {davg_sql("l_discount", 4)} AS avg_disc,
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "order_status_histogram": """
        SELECT o_orderstatus AS order_status, COUNT(*) AS n
        FROM orders GROUP BY o_orderstatus ORDER BY order_status
    """,
    "top_customers_by_revenue": f"""
        WITH rev AS (
            SELECT o.o_custkey,
                   {dsum_sql(_DISC, 4, 30)} AS revenue,
                   COUNT(DISTINCT o.o_orderkey) AS order_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_custkey
            HAVING COUNT(DISTINCT o.o_orderkey) >= 3
        )
        SELECT r.o_custkey AS customer_id, trim(c.c_name, ' ') AS customer_name,
               r.revenue, r.order_count
        FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
        ORDER BY r.revenue DESC, customer_id
        LIMIT 25
    """,
    "customers_without_orders": """
        SELECT c_custkey AS customer_id, trim(c_name, ' ') AS customer_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
    """,
    "dq_orphan_lineitems": """
        SELECT l_orderkey AS order_id, l_linenumber AS line_number
        FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
    """,
    "dq_duplicate_keys": """
        SELECT l_orderkey AS order_id, l_linenumber AS line_number,
               COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1
    """,
    "dq_accepted_values": """
        SELECT o_orderkey AS order_id, o_orderstatus AS order_status
        FROM orders WHERE o_orderstatus NOT IN ('O','F','P')
    """,
    "recon_global_aggregates": f"""
        SELECT
            COUNT(*) AS row_count,
            COUNT(DISTINCT l_orderkey) AS distinct_orders,
            {dsum_sql("l_extendedprice")} AS sum_extended_price,
            {dsum_sql("l_quantity")} AS sum_quantity,
            {davg_sql("l_discount", 4)} AS avg_discount,
            CAST(MIN(l_shipdate) AS DATE) AS min_ship_date,
            CAST(MAX(l_shipdate) AS DATE) AS max_ship_date
        FROM lineitem
    """,
    "returned_or_open_orders": """
        SELECT order_id FROM (
            SELECT l_orderkey AS order_id FROM lineitem
            WHERE l_returnflag = 'R'
            UNION
            SELECT o_orderkey AS order_id FROM orders
            WHERE o_orderstatus = 'O'
        )
        EXCEPT ALL
        SELECT DISTINCT o_orderkey AS order_id FROM orders
        WHERE o_totalprice > 400000
    """,
    "revenue_rollup": f"""
        SELECT n.n_name AS nation_name, c.c_mktsegment AS market_segment,
               {dsum_sql("o.o_totalprice")} AS total_revenue,
               COUNT(*) AS order_count
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    """,
    "premium_payment_summary": f"""
        SELECT
            o.o_custkey AS customer_id,
            COUNT(*) AS line_count,
            MIN(CAST(l.l_shipdate AS DATE)) AS first_ship_date,
            MAX(CAST(l.l_shipdate AS DATE)) AS last_ship_date,
            {dsum_sql("CASE WHEN l.l_returnflag='R' THEN l.l_extendedprice ELSE 0 END")}
                AS returned_amount,
            {dsum_sql("CASE WHEN l.l_returnflag='A' THEN l.l_extendedprice ELSE 0 END")}
                AS accepted_amount,
            {dsum_sql("CASE WHEN l.l_returnflag='N' THEN l.l_extendedprice ELSE 0 END")}
                AS neutral_amount,
            CAST(SUM(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                         CAST(l.l_shipdate AS DATE)) > 90
                          THEN 1 ELSE 0 END) AS BIGINT) AS late_ship_count,
            AVG(date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE))) AS avg_ship_lag_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    """,
}


def masked_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-masked projection (SURVEY §2.10: `governance/access_controls.sql:
    57-105`): mask_name/mask_email expressions over the customer dim, with a
    synthesized email column (driver data carries none)."""
    from ..masking import mask_email, mask_name
    c = load(spark, sf_dir, "customer")
    email = F.concat(F.lower(F.regexp_replace(F.trim("c_name"), r"\s+", ".")),
                     F.lit("@example.com"))
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        mask_name(F.trim(F.col("c_name"))).alias("masked_name"),
        mask_email(email).alias("masked_email"),
        F.col("c_mktsegment").alias("market_segment"),
    )


def segment_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (A2 as a first-class operator): revenue by segment × status
    with explicit pivot values (deterministic output schema)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    return (
        j.groupBy(F.col("c_mktsegment").alias("market_segment"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(dsum("o_totalprice"))
        .select(
            "market_segment",
            F.coalesce("O", F.lit(0.0)).alias("open_total"),
            F.coalesce("F", F.lit(0.0)).alias("fulfilled_total"),
            F.coalesce("P", F.lit(0.0)).alias("pending_total"),
        )
    )


QUERIES["masked_customers"] = masked_customers
QUERIES["segment_status_pivot"] = segment_status_pivot

ORACLES["masked_customers"] = """
    SELECT
        customer_id,
        CASE WHEN name IS NULL OR length(name) = 0 THEN NULL
             ELSE concat(substr(name, 1, 1),
                         repeat('*', greatest(length(name) - 1, 0)))
        END AS masked_name,
        -- email synthesis via || (NULL-propagating like Spark concat;
        -- DuckDB's concat() SKIPS NULLs and would mask a ghost address
        -- for a NULL name), then the full mask_email guard
        CASE WHEN email IS NULL OR NOT contains(email, '@') THEN '***'
             ELSE concat(substr(email, 1, 2), '***@', 'example.com')
        END AS masked_email,
        market_segment
    FROM (
        SELECT
            c_custkey AS customer_id,
            trim(c_name, ' ') AS name,
            lower(regexp_replace(trim(c_name, ' '), '\\s+', '.', 'g'))
                || '@example.com' AS email,
            c_mktsegment AS market_segment
        FROM customer
    )
"""

ORACLES["segment_status_pivot"] = f"""
    SELECT
        c.c_mktsegment AS market_segment,
        COALESCE({dsum_sql("CASE WHEN o.o_orderstatus='O' THEN o.o_totalprice END")}, 0.0)
            AS open_total,
        COALESCE({dsum_sql("CASE WHEN o.o_orderstatus='F' THEN o.o_totalprice END")}, 0.0)
            AS fulfilled_total,
        COALESCE({dsum_sql("CASE WHEN o.o_orderstatus='P' THEN o.o_totalprice END")}, 0.0)
            AS pending_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
"""


def supplier_region_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensional chain supplier → nation → region (both dims broadcast)
    with decimal-exact balance aggregates per region — completes the
    driver-table coverage (supplier/region were otherwise untouched)."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count("*").alias("n_suppliers"),
             F.countDistinct("n_nationkey").alias("n_nations"),
             dsum("s_acctbal").alias("total_acctbal"),
             davg("s_acctbal").alias("avg_acctbal"),
             F.min("s_acctbal").alias("min_acctbal"),
             F.max("s_acctbal").alias("max_acctbal"))
        .orderBy("region_name")
    )


QUERIES["supplier_region_summary"] = supplier_region_summary

ORACLES["supplier_region_summary"] = f"""
    SELECT r.r_name AS region_name,
           COUNT(*) AS n_suppliers,
           COUNT(DISTINCT n.n_nationkey) AS n_nations,
           {dsum_sql("s_acctbal")} AS total_acctbal,
           {davg_sql("s_acctbal")} AS avg_acctbal,
           MIN(s_acctbal) AS min_acctbal,
           MAX(s_acctbal) AS max_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
"""


def part_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join on the part dimension (broadcast) with discounted
    revenue per brand — covers the remaining fact⋈part join axis."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    disc = (F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))) \
        .cast("decimal(30,4)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count("*").alias("n_lines"),
             F.countDistinct("p_partkey").alias("n_parts"),
             F.sum(disc).cast("double").alias("revenue"),
             dsum("l_quantity").alias("total_qty"))
        .orderBy("brand")
    )


QUERIES["part_brand_revenue"] = part_brand_revenue

_DISC_REV_SUM = ("SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
                 "* (1 - CAST(l_discount AS DECIMAL(4,2))) "
                 "AS DECIMAL(30,4)))")

ORACLES["part_brand_revenue"] = f"""
    SELECT p.p_brand AS brand,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT p.p_partkey) AS n_parts,
           {d2d_sql(_DISC_REV_SUM)} AS revenue,
           {dsum_sql("l_quantity")} AS total_qty
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
"""


def status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority): all four grouping sets in one pass —
    completes the grouping-set family next to revenue_rollup's ROLLUP.
    GROUPING() flags distinguish real NULLs from subtotal rows."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_orderpriority").alias("order_priority"),
        "o_totalprice")
    return (
        o.cube("order_status", "order_priority")
        .agg(F.count("*").alias("n_orders"),
             dsum("o_totalprice").alias("total_price"),
             F.grouping("order_status").cast("long")
             .alias("is_status_subtotal"),
             F.grouping("order_priority").cast("long")
             .alias("is_priority_subtotal"))
        .orderBy("order_status", "order_priority")
    )


QUERIES["status_priority_cube"] = status_priority_cube

ORACLES["status_priority_cube"] = f"""
    SELECT o_orderstatus AS order_status,
           o_orderpriority AS order_priority,
           COUNT(*) AS n_orders,
           {dsum_sql("o_totalprice")} AS total_price,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS is_status_subtotal,
           CAST(GROUPING(o_orderpriority) AS BIGINT)
               AS is_priority_subtotal
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY order_status, order_priority
"""


def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holistic aggregates: exact interpolated percentiles per return flag
    (Spark `percentile` ≡ ANSI `quantile_cont` bit-for-bit on doubles).
    Exact percentile sorts within groups; at 100 TB switch to
    `approx_percentile` (t-digest, mergeable) and bound the error instead."""
    li = load(spark, sf_dir, "lineitem")
    # ONE percentile buffer for the three l_extendedprice quantiles (array
    # percentages) instead of three: `percentile` is holistic — each
    # aggregate expression keeps its own value->count map and sorts it
    # independently, so the 3-way split paid the 583k-distinct price
    # buffer three times. Same Percentile codepath, same interpolation
    # per requested percentage → bit-identical doubles (measured at
    # sf0.1: 2.17 s → 1.76 s median, values identical; guide §1.2 step 2).
    price_pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.75), F.lit(0.95)))
    return (
        li.groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(F.percentile("l_quantity", 0.5).alias("median_qty"),
             price_pcts.alias("__price_pcts"),
             F.count("*").alias("n_lines"))
        .select("return_flag", "median_qty",
                F.col("__price_pcts")[0].alias("price_q1"),
                F.col("__price_pcts")[1].alias("price_q3"),
                F.col("__price_pcts")[2].alias("price_p95"),
                "n_lines")
        .orderBy("return_flag")
    )


QUERIES["price_percentiles"] = price_percentiles


def price_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for `price_percentiles`: `approx_percentile` (a mergeable
    quantile sketch — partial aggregation per partition, merge at the
    reducer) instead of the exact holistic `percentile`, which buffers and
    sorts every group value and cannot map-side combine. At 100 TB the
    exact form is a scale-killer; the sketch is one ordinary two-stage
    aggregate. accuracy=10000 bounds rank error at 1/10000 of the group;
    `tests/test_queries_oracle.py` bounds the value error vs the exact twin
    (reference tolerance pattern:
    `migration_validation/reconciliation.py:58-92`). Rows-only driver
    check: sketch outputs are engine-specific, so no DuckDB oracle."""
    li = load(spark, sf_dir, "lineitem")
    acc = F.lit(10000)
    # one sketch for the three price quantiles (array percentages) — same
    # consolidation as the exact twin: identical sketch contents, identical
    # per-percentage interpolation, one buffer instead of three
    price_pcts = F.approx_percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.75), F.lit(0.95)),
        acc)
    return (
        li.groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(F.approx_percentile("l_quantity", F.lit(0.5), acc)
             .alias("median_qty"),
             price_pcts.alias("__price_pcts"),
             F.count("*").alias("n_lines"))
        .select("return_flag", "median_qty",
                F.col("__price_pcts")[0].alias("price_q1"),
                F.col("__price_pcts")[1].alias("price_q3"),
                F.col("__price_pcts")[2].alias("price_p95"),
                "n_lines")
        .orderBy("return_flag")
    )


QUERIES["price_percentiles_approx"] = price_percentiles_approx

ORACLES["price_percentiles"] = """
    SELECT l_returnflag AS return_flag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.25) AS price_q1,
           quantile_cont(l_extendedprice, 0.75) AS price_q3,
           quantile_cont(l_extendedprice, 0.95) AS price_p95,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY return_flag
"""


def fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching (the migration-domain dedup problem:
    the same customer keyed differently across legacy systems). Candidate
    pairs come from a 16-char name-prefix block-equality self-join —
    never all-pairs — then exact Levenshtein ≤ 1 inside blocks. Identical
    edit-distance semantics in DuckDB, so fully oracle-checked."""
    from ..tables import spread
    c = load(spark, sf_dir, "customer") \
        .select("c_custkey", "c_name",
                F.substring("c_name", 1, 16).alias("block"))
    # the pairwise Levenshtein work inside blocks is CPU-bound: make sure
    # the probe side isn't a single scan partition (no-op at scale)
    a, b = spread(c, spark).alias("a"), c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(b, (F.col("a.block") == F.col("b.block"))
               & (F.col("a.c_custkey") < F.col("b.c_custkey")))
        .filter(dist <= 1)
        .select(F.col("a.c_custkey").alias("customer_id_1"),
                F.col("b.c_custkey").alias("customer_id_2"),
                F.col("a.c_name").alias("name_1"),
                F.col("b.c_name").alias("name_2"),
                dist.cast("int").alias("edit_distance"))
        .orderBy("customer_id_1", "customer_id_2")
    )


QUERIES["fuzzy_customer_pairs"] = fuzzy_customer_pairs

ORACLES["fuzzy_customer_pairs"] = """
    SELECT a.c_custkey AS customer_id_1,
           b.c_custkey AS customer_id_2,
           a.c_name AS name_1,
           b.c_name AS name_2,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER)
               AS edit_distance
    FROM customer a
    JOIN customer b
      ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY customer_id_1, customer_id_2
"""


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top-25 part pairs co-occurring in orders.
    The self-join is keyed on the ORDER (baskets are small — bounded
    fan-out per key), never on parts; support counts come from one hash
    aggregate on the pair. The classic affinity query, deterministically
    tie-broken."""
    li = load(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("part_id_1"),
                 F.col("b.l_partkey").alias("part_id_2"))
        .agg(F.count("*").alias("orders_together"))
        .orderBy(F.col("orders_together").desc(),
                 F.col("part_id_1"), F.col("part_id_2"))
        .limit(25)
    )


QUERIES["market_basket_pairs"] = market_basket_pairs

ORACLES["market_basket_pairs"] = """
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_id_1,
           b.l_partkey AS part_id_2,
           COUNT(*) AS orders_together
    FROM li a
    JOIN li b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY orders_together DESC, part_id_1, part_id_2
    LIMIT 25
"""


def segment_priority_pivot_dynamic(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """True relational PIVOT (`.pivot()` with an explicit value list —
    at 100 TB you always pin the columns; letting Spark scan for distinct
    pivot values costs an extra pass). One shuffle; each cell an
    order count. Oracle spells the same table as conditional aggregates."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("o_orderpriority", pris)
        .agg(F.count(F.lit(1)))
        .select(
            "segment",
            *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long")
              .alias(f"p{i + 1}_orders") for i, p in enumerate(pris)])
        .orderBy("segment")
    )


QUERIES["segment_priority_pivot_dynamic"] = segment_priority_pivot_dynamic

ORACLES["segment_priority_pivot_dynamic"] = """
    SELECT c_mktsegment AS segment,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p1_orders,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p2_orders,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p3_orders,
           CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p4_orders,
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p5_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY segment
"""


def recon_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: the one-row reconciliation scalars become
    (metric, value) rows — the shape reconciliation reports and metric
    stores ingest. `stack` runs map-side on the single aggregated row."""
    wide = recon_global_aggregates(spark, sf_dir).select(
        F.col("row_count").cast("double").alias("row_count"),
        F.col("distinct_orders").cast("double").alias("distinct_orders"),
        F.col("sum_extended_price"),
        F.col("sum_quantity"),
        F.col("avg_discount"),
    )
    cols = wide.columns
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    return (
        wide.selectExpr(
            f"stack({len(cols)}, {stack}) AS (metric, value)")
        .orderBy("metric")
    )


QUERIES["recon_metrics_unpivot"] = recon_metrics_unpivot

ORACLES["recon_metrics_unpivot"] = f"""
    WITH wide AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS row_count,
               CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE)
                   AS distinct_orders,
               {dsum_sql("l_extendedprice")} AS sum_extended_price,
               {dsum_sql("l_quantity")} AS sum_quantity,
               {davg_sql("l_discount", scale=4)} AS avg_discount
        FROM lineitem
    )
    SELECT metric, value FROM (
        SELECT 'row_count' AS metric, row_count AS value FROM wide
        UNION ALL SELECT 'distinct_orders', distinct_orders FROM wide
        UNION ALL SELECT 'sum_extended_price', sum_extended_price FROM wide
        UNION ALL SELECT 'sum_quantity', sum_quantity FROM wide
        UNION ALL SELECT 'avg_discount', avg_discount FROM wide
    )
    ORDER BY metric
"""


def orders_above_customer_average(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders exceeding 1.5x their OWN
    customer's average) — expressed as the decorrelated join Catalyst
    would produce anyway: per-customer averages (one hash aggregate)
    joined back. The comparison uses exact decimal sums / counts so the
    boundary rows agree across engines."""
    o = load(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        F.count("*").alias("n"))
    return (
        o.join(per_cust, "o_custkey")
        # o_totalprice > 1.5 * (s / n)  ⇔  price * n * 2 > 3 * s  (exact)
        .filter(F.col("o_totalprice").cast("decimal(18,2)")
                * F.col("n") * 2 > 3 * F.col("s"))
        .select(F.col("o_orderkey").alias("order_id"),
                F.col("o_custkey").alias("customer_id"),
                F.col("o_totalprice").alias("total_price"))
        .orderBy("order_id")
    )


QUERIES["orders_above_customer_average"] = orders_above_customer_average

ORACLES["orders_above_customer_average"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
               COUNT(*) AS n
        FROM orders GROUP BY o_custkey
    )
    SELECT o_orderkey AS order_id,
           o.o_custkey AS customer_id,
           o_totalprice AS total_price
    FROM orders o JOIN per_cust p ON o.o_custkey = p.o_custkey
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n * 2 > 3 * s
    ORDER BY order_id
"""


def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-based gap analysis: days between consecutive orders per
    customer, plus each customer's min/max/avg gap — the churn-signal
    query. One window (customer partition) + one hash aggregate."""
    from pyspark.sql import Window as W
    o = load(spark, sf_dir, "orders") \
        .select("o_custkey", "o_orderkey", "o_orderdate")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lag(F.col("o_orderdate").cast("date")).over(w))
        .alias("gap_days"))
    return (
        gaps.filter(F.col("gap_days").isNotNull())
        .groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(F.count("*").alias("n_gaps"),
             F.min("gap_days").alias("min_gap_days"),
             F.max("gap_days").alias("max_gap_days"),
             # integer-exact mean in basis points of a day
             F.expr("sum(gap_days) * 10000 div count(*)")
             .alias("avg_gap_day_bps"))
        .orderBy("customer_id")
    )


QUERIES["customer_order_gaps"] = customer_order_gaps

ORACLES["customer_order_gaps"] = """
    WITH gaps AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE)
                   - LAG(CAST(o_orderdate AS DATE)) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                     ) AS gap_days
        FROM orders
    )
    SELECT o_custkey AS customer_id,
           COUNT(*) AS n_gaps,
           CAST(MIN(gap_days) AS INTEGER) AS min_gap_days,
           CAST(MAX(gap_days) AS INTEGER) AS max_gap_days,
           CAST(SUM(gap_days) * 10000 // COUNT(*) AS BIGINT)
               AS avg_gap_day_bps
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    ORDER BY customer_id
"""


def sql_api_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL entry point (S12): the same pricing-summary logic
    expressed as `spark.sql` text over registered views — proving both
    front doors (DataFrame API and SQL) hit the identical Catalyst plans.
    Views registered via `tables.register_views`."""
    from ..tables import register_views
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql("""
        SELECT l_returnflag AS return_flag,
               l_linestatus AS line_status,
               CAST(SUM(CAST(l_quantity AS DECIMAL(24,2))) AS DOUBLE)
                   AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,2))) AS DOUBLE)
                   AS sum_base_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY return_flag, line_status
    """)


QUERIES["sql_api_pricing_summary"] = sql_api_pricing_summary

ORACLES["sql_api_pricing_summary"] = f"""
    SELECT l_returnflag AS return_flag,
           l_linestatus AS line_status,
           {dsum_sql("l_quantity")} AS sum_qty,
           {dsum_sql("l_extendedprice")} AS sum_base_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY return_flag, line_status
"""


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent analytics: each nation's share of its region's
    revenue — a window over an aggregate (the OLAP ratio-to-report
    shape). Revenue sums are exact decimals; the share is one double
    division over a window-summed exact total, emitted in floor bps.

    ``try_divide``, not ``/``: a region whose revenue nets to exactly
    zero (refund-canceling totals at scale) makes the share undefined —
    DuckDB, Spark 3, and ``try_divide`` all say NULL, while a plain ANSI
    division would abort the whole query on that one region. Same
    engine-unifying guard as ``llm.similarity.cosine`` (CHANGES_r6 §14);
    bit-identical wherever the denominator is nonzero."""
    from pyspark.sql import Window as W
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    per_nation = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"),
                 F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .alias("rev"))
    )
    w = W.partitionBy("region")
    return (
        per_nation
        .withColumn("region_rev", F.sum("rev").over(w))
        .select("region", "nation",
                F.col("rev").cast("double").alias("nation_revenue"),
                F.col("region_rev").cast("double").alias("region_revenue"),
                # divide as IEEE doubles: decimal/decimal result scale is
                # engine-specific and could flip a floor boundary
                F.floor(F.try_divide(
                    F.col("rev").cast("double") * 10000,
                    F.col("region_rev").cast("double")))
                .cast("long").alias("share_bps"))
        .orderBy("region", "nation")
    )


QUERIES["nation_market_share"] = nation_market_share

_REGION_REV = d2d_sql("SUM(rev) OVER (PARTITION BY region)")

ORACLES["nation_market_share"] = f"""
    WITH per_nation AS (
        SELECT r_name AS region, n_name AS nation,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    )
    SELECT region, nation,
           {d2d_sql("rev")} AS nation_revenue,
           {_REGION_REV} AS region_revenue,
           -- NULLIF: the Spark side uses try_divide (NULL share for a
           -- zero-revenue region).  duckdb 1.0.0 happens to return NULL
           -- for double x/0, but >=1.1 defaults ieee_floating_point_ops
           -- = true (x/0.0 = inf), so pin the NULL semantics explicitly
           -- rather than rely on the engine version (ADVICE r6).
           CAST(FLOOR({d2d_sql("rev")} * 10000
                      / NULLIF({_REGION_REV}, 0))
                AS BIGINT) AS share_bps
    FROM per_nation
    ORDER BY region, nation
"""
