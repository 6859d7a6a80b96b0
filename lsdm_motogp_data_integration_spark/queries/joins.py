"""Join queries (SURVEY §2.3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.queries.registry import query
from lsdm_motogp_data_integration_spark.sources import read_table


@query(
    oracle="""
            SELECT 'inner' AS join_kind, c_custkey, o_orderkey,
                   c_mktsegment AS detail, o_totalprice AS metric
            FROM orders JOIN customer ON o_custkey = c_custkey
            UNION ALL
            SELECT 'left', c_custkey, o_orderkey, c_name, o_totalprice
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            UNION ALL
            SELECT 'right', c_custkey, o_orderkey, c_name, o_totalprice
            FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
            UNION ALL
            SELECT 'multikey', o.o_custkey, o.o_orderkey, o.o_orderstatus,
                   CAST(agg.n_same_status AS DOUBLE)
            FROM orders o JOIN (
                SELECT o_custkey, o_orderstatus, COUNT(*) AS n_same_status
                FROM orders GROUP BY o_custkey, o_orderstatus
            ) agg
              ON o.o_custkey = agg.o_custkey
             AND o.o_orderstatus = agg.o_orderstatus
        """,
    tag="join_kind",
    scopes=("inner", "left", "multikey", "right"),
    headline=True,
)
def q05_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join suite in one tagged union — INNER (``motogp.ktr:
    3619-3652``), LEFT OUTER (``:3653-3690``), RIGHT OUTER
    (``:3825-3858``), and multi-key (``Merge join 7`` on (year,
    category), ``:3925-3960``). Catalyst broadcasts the dim side — no
    user pre-sort, unlike the reference's 20 SortRows join
    prerequisites. (Merged from round-1/2 q05/q06/q07/q08 so all four
    join shapes share one driver correctness row, freeing window slots
    for new operators.) Aligned schema: the ``detail`` column carries
    the joined dim attribute (mktsegment / name / status) proving the
    non-key payload survived the join."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    inner = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        F.lit("inner").alias("join_kind"),
        "c_custkey",
        "o_orderkey",
        F.col("c_mktsegment").alias("detail"),
        F.col("o_totalprice").alias("metric"),
    )
    left = c.join(o, c.c_custkey == o.o_custkey, "left").select(
        F.lit("left").alias("join_kind"),
        "c_custkey",
        "o_orderkey",
        F.col("c_name").alias("detail"),
        F.col("o_totalprice").alias("metric"),
    )
    right = o.join(c, o.o_custkey == c.c_custkey, "right").select(
        F.lit("right").alias("join_kind"),
        "c_custkey",
        "o_orderkey",
        F.col("c_name").alias("detail"),
        F.col("o_totalprice").alias("metric"),
    )
    agg = o.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_same_status")
    )
    multikey = o.join(agg, ["o_custkey", "o_orderstatus"], "inner").select(
        F.lit("multikey").alias("join_kind"),
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        F.col("o_orderstatus").alias("detail"),
        F.col("n_same_status").cast("double").alias("metric"),
    )
    return inner.unionByName(left).unionByName(right).unionByName(multikey)


@query(
    oracle="""
            WITH pos1 AS (
                SELECT l_suppkey AS s_suppkey, COUNT(*) AS pos1
                FROM lineitem WHERE l_linenumber = 1 GROUP BY 1
            ), pos2 AS (
                SELECT l_suppkey AS s_suppkey, COUNT(*) AS pos2
                FROM lineitem WHERE l_linenumber = 2 GROUP BY 1
            ), pos3 AS (
                SELECT l_suppkey AS s_suppkey, COUNT(*) AS pos3
                FROM lineitem WHERE l_linenumber = 3 GROUP BY 1
            ), other_p AS (
                SELECT l_suppkey AS s_suppkey, COUNT(*) AS other_pos
                FROM lineitem WHERE l_linenumber NOT IN (1, 2, 3) GROUP BY 1
            )
            SELECT s.s_suppkey, s.s_name, pos1.pos1, pos2.pos2, pos3.pos3, other_p.other_pos
            FROM supplier s
            JOIN pos1 USING (s_suppkey)
            JOIN pos2 USING (s_suppkey)
            JOIN pos3 USING (s_suppkey)
            JOIN other_p USING (s_suppkey)
        """,
    headline=True,
)
def q09_position_counts_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal reference shape: FilterRows cascade (position = 1 / 2
    / 3 / other, ``motogp.ktr:2694-2890``) → 4 GroupBy COUNTs
    (``:3297-3480``) → 5-way MultiwayMergeJoin on the key
    (``:4109-4148``), with l_linenumber standing in for position and
    supplier for rider."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")

    def counted(pred, alias: str) -> DataFrame:
        return (
            li.filter(pred)
            .groupBy(F.col("l_suppkey").alias("s_suppkey"))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    out = s.select("s_suppkey", "s_name")
    branches = [
        counted(F.col("l_linenumber") == 1, "pos1"),
        counted(F.col("l_linenumber") == 2, "pos2"),
        counted(F.col("l_linenumber") == 3, "pos3"),
        counted(~F.col("l_linenumber").isin(1, 2, 3), "other_pos"),
    ]
    for branch in branches:
        out = out.join(branch, "s_suppkey", "inner")
    return out
