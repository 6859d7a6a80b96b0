"""Scalar-function queries (SURVEY §2.8)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.functions.text import to_date_multi
from lsdm_motogp_data_integration_spark.queries.registry import query
from lsdm_motogp_data_integration_spark.sources import read_table


@query(
    oracle="""
            SELECT c_custkey AS key, 'segment_upper' AS op,
                   UPPER(TRIM(c_mktsegment)) AS value FROM customer
            UNION ALL
            SELECT c_custkey, 'name_lower', LOWER(c_name) FROM customer
            UNION ALL
            SELECT c_custkey, 'name_replaced',
                   REGEXP_REPLACE(c_name, 'Customer', 'Rider')
            FROM customer
            UNION ALL
            SELECT c_custkey, 'name_number',
                   string_split(c_name, '#')[2] FROM customer
            UNION ALL
            SELECT c_custkey, 'segment_code',
                   c_mktsegment || '-' || string_split(c_name, '#')[2]
            FROM customer
            UNION ALL
            SELECT CAST(-1 AS BIGINT), 'month:' || order_month,
                   CAST(n_orders AS VARCHAR)
            FROM (
                WITH as_text AS (
                    SELECT o_orderkey,
                           CASE WHEN o_orderkey % 2 = 0
                                THEN strftime(o_orderdate, '%Y/%m/%d')
                                ELSE strftime(o_orderdate, '%d-%m-%Y')
                           END AS date_text
                    FROM orders
                ), parsed AS (
                    SELECT COALESCE(
                               CAST(try_strptime(date_text, '%Y/%m/%d') AS DATE),
                               CAST(try_strptime(date_text, '%d-%m-%Y') AS DATE)
                           ) AS parsed_date
                    FROM as_text
                )
                SELECT strftime(parsed_date, '%Y-%m') AS order_month,
                       COUNT(*) AS n_orders
                FROM parsed GROUP BY 1
            )
        """,
    tag="op",
)
def q14_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function suite, one row per (input, function):
    StringOperations / ReplaceString / ConcatFields / FieldSplitter
    (``motogp.ktr:8265-8720``, ``:4809-4886``, ``:1677``, ``:8085``)
    unpivoted over customers, plus the multi-format date parser
    (``race_coord.py:50-79`` strptime attempts →
    ``coalesce(try_to_timestamp...)``) as tagged per-month counts.
    (Merged from round-1 q14/q15 so the §2.8 scalar layer shares one
    driver row.)"""
    c = read_table(spark, sf_dir, "customer")
    name_parts = F.split(F.col("c_name"), "#")
    ops = c.select(
        F.col("c_custkey").alias("key"),
        F.upper(F.trim(F.col("c_mktsegment"))).alias("segment_upper"),
        F.lower(F.col("c_name")).alias("name_lower"),
        F.regexp_replace(F.col("c_name"), "Customer", "Rider").alias(
            "name_replaced"
        ),
        name_parts.getItem(1).alias("name_number"),
        F.concat_ws(
            "-", F.col("c_mktsegment"), name_parts.getItem(1)
        ).alias("segment_code"),
    ).unpivot(
        ["key"],
        [
            "segment_upper",
            "name_lower",
            "name_replaced",
            "name_number",
            "segment_code",
        ],
        "op",
        "value",
    )
    o = read_table(spark, sf_dir, "orders")
    as_text = o.withColumn(
        "date_text",
        F.when(
            F.col("o_orderkey") % 2 == 0,
            F.date_format("o_orderdate", "yyyy/MM/dd"),
        ).otherwise(F.date_format("o_orderdate", "dd-MM-yyyy")),
    )
    parsed = as_text.withColumn(
        "parsed_date", to_date_multi("date_text", ["yyyy/MM/dd", "dd-MM-yyyy"])
    )
    months = parsed.groupBy(
        F.date_format("parsed_date", "yyyy-MM").alias("order_month")
    ).agg(F.count(F.lit(1)).alias("n_orders")).select(
        F.lit(-1).cast("bigint").alias("key"),
        F.concat(F.lit("month:"), F.col("order_month")).alias("op"),
        F.col("n_orders").cast("string").alias("value"),
    )
    return ops.unionByName(months)


@query(
    oracle="""
            SELECT o_orderkey, 'open' AS branch FROM orders WHERE o_orderstatus = 'O'
            UNION ALL
            SELECT o_orderkey, 'finished' AS branch FROM orders WHERE o_orderstatus = 'F'
        """,
)
def q16_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append streams = UNION ALL (``motogp.ktr:1378-1404``), with a
    lineage tag per branch."""
    o = read_table(spark, sf_dir, "orders")
    open_o = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.lit("open").alias("branch")
    )
    done_o = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.lit("finished").alias("branch")
    )
    return open_o.unionByName(done_o)
