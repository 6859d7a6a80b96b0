"""Aggregation + window rank (SURVEY §2.4, §2.5) — the flagship."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.operators.keys import (
    add_surrogate_key_distributed,
)
from lsdm_motogp_data_integration_spark.queries.registry import _dec_sum, query
from lsdm_motogp_data_integration_spark.sources import read_table


@query(
    oracle="""
            WITH standings AS (
                SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS season,
                       c_mktsegment,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_points
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2
            )
            SELECT season, c_mktsegment, total_points,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY season
                       ORDER BY total_points DESC, c_mktsegment ASC
                   ) AS BIGINT) AS final_position
            FROM standings
        """,
    headline=True,
)
def q11_standings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the team-standings pipeline shape (``motogp.ktr:2021 →
    8426``) — join, SUM per (year, group), rank within year via
    ``row_number`` (the reference hand-rolls this rank in stateful
    JavaScript, ``motogp.ktr:4029-4108``; row_number-not-dense_rank
    semantics preserved)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    standings = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .withColumn("season", F.year("o_orderdate").cast("bigint"))
        .groupBy("season", "c_mktsegment")
        .agg(_dec_sum("o_totalprice", "total_points"))
    )
    w = Window.partitionBy("season").orderBy(
        F.col("total_points").desc(), F.col("c_mktsegment").asc()
    )
    return standings.withColumn(
        "final_position", F.row_number().over(w).cast("bigint")
    )


@query(
    oracle="""
            SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        """,
)
def q12_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupBy-with-no-aggregates deduplication (``Group by 3``,
    ``motogp.ktr:3481-3540``) → ``dropDuplicates``."""
    o = read_table(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").dropDuplicates()


@query(
    oracle="""
            SELECT c_custkey, c_name,
                   CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS cust_seq
            FROM customer
        """,
    headline=True,
)
def q13_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kettle Sequence steps (``motogp.ktr:1203-1343``) as deterministic
    dense keys — the distributed two-phase variant (operators/keys.py),
    equal to ``row_number() OVER (ORDER BY c_custkey)``."""
    c = read_table(spark, sf_dir, "customer")
    return add_surrogate_key_distributed(
        c.select("c_custkey", "c_name"), "cust_seq", ["c_custkey"]
    )
