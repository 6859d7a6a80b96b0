"""Scan / project / filter queries (SURVEY §2.1, §2.2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.queries.registry import _dec_sum, query
from lsdm_motogp_data_integration_spark.sources import read_table


@query(
    oracle="""
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1997-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
    headline=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan+filter+group+multi-agg — the CsvInput →
    SelectValues → GroupBy spine of the reference (``motogp.ktr:1405``,
    ``:3542``) on the lineitem fact."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1997-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            _dec_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
            _dec_sum(
                "l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    oracle="""
            SELECT p_partkey AS part_id,
                   p_name AS part_name,
                   CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS retail_dec,
                   CAST(p_size AS BIGINT) AS size_long
            FROM part
        """,
)
def q02_select_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SelectValues: ordered projection + rename + metadata re-type
    (``motogp.ktr:2145`` et al. — 30 instances)."""
    part = read_table(spark, sf_dir, "part")
    # The DECIMAL(12,2) re-type is the SelectValues semantic; the final
    # cast back to DOUBLE makes the serialized representation stable
    # across engines (Spark Decimal vs DuckDB decimal rendering differ
    # even when values are equal — driver hash r01 proved it).
    return part.select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_name"),
        F.col("p_retailprice").cast("decimal(12,2)").cast("double").alias(
            "retail_dec"
        ),
        F.col("p_size").cast("bigint").alias("size_long"),
    )


@query(
    oracle="""
            SELECT o_orderkey, o_orderstatus, o_totalprice, 'true' AS route
            FROM orders
            WHERE o_orderstatus = 'O' AND o_totalprice > 100000.0
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_totalprice, 'false' AS route
            FROM orders
            WHERE NOT (o_orderstatus = 'O' AND o_totalprice > 100000.0)
        """,
)
def q03_filter_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FilterRows with true/false routing — BOTH output hops of one
    AND-conjunction predicate (``motogp.ktr:2650-2693``; true consumer
    ``:2891``, false consumer ``:2956``), tagged per route. The Kettle
    step sends every row to exactly one consumer; the union of the two
    tagged streams is the complete routing behavior in one result.
    (Merged from round-1 q03/q04 so both branches share one driver
    correctness row.)"""
    o = read_table(spark, sf_dir, "orders")
    pred = (F.col("o_orderstatus") == "O") & (
        F.col("o_totalprice") > 100000.0
    )
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    return (
        base.filter(pred)
        .withColumn("route", F.lit("true"))
        .unionByName(base.filter(~pred).withColumn("route", F.lit("false")))
    )
