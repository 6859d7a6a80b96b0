"""Spark-for-free capabilities beyond the reference (SURVEY §2.12) — the
reference has none of these; the engine exposes them as first-class."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.queries.registry import (
    _dec_sum,
    _suite_union,
    query,
)
from lsdm_motogp_data_integration_spark.sources import read_table


@query(
    oracle="""
            SELECT c_custkey, 'active' AS status FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            UNION ALL
            SELECT c_custkey, 'inactive' AS status FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
)
def q32_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (EXISTS / NOT EXISTS): tag each customer by
    whether they have orders — one pass each, no row duplication."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", F.lit("active").alias("status")
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", F.lit("inactive").alias("status")
    )
    return with_orders.unionByName(without)


@query(
    oracle="""
            WITH base AS (
                SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)
                           AS order_year,
                       o_orderstatus, o_totalprice, o_custkey,
                       o_orderpriority
                FROM orders
            )
            SELECT 'rollup' AS agg_kind, order_year, o_orderstatus,
                   CAST(GROUPING_ID(order_year, o_orderstatus) AS BIGINT)
                       AS gid,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                       AS total_price,
                   COUNT(DISTINCT o_custkey) AS n_customers,
                   COUNT(DISTINCT o_orderpriority) AS n_priorities
            FROM base GROUP BY ROLLUP (order_year, o_orderstatus)
            UNION ALL
            SELECT 'cube', order_year, o_orderstatus,
                   CAST(GROUPING_ID(order_year, o_orderstatus) AS BIGINT),
                   COUNT(*),
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE),
                   COUNT(DISTINCT o_custkey),
                   COUNT(DISTINCT o_orderpriority)
            FROM base GROUP BY CUBE (order_year, o_orderstatus)
            UNION ALL
            SELECT 'sets', CAST(NULL AS BIGINT), o_orderstatus,
                   -- order_year is aggregated in every set -> its MSB
                   -- is always 1: gid = 2 + GROUPING(o_orderstatus)
                   CAST(2 + GROUPING(o_orderstatus) AS BIGINT),
                   COUNT(*),
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE),
                   COUNT(DISTINCT o_custkey),
                   COUNT(DISTINCT o_orderpriority)
            FROM base GROUP BY GROUPING SETS ((o_orderstatus), ())
        """,
)
def q33_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregation suite + exact multi-distinct
    aggregates (none exist in the reference): ROLLUP, CUBE, and
    explicit GROUPING SETS over (year, status) in one tagged union,
    each row carrying its ``grouping_id`` so subtotal levels are
    machine-distinguishable. Merged from round-1 q33_rollup +
    q35_count_distinct; round-2 adds the cube / grouping-sets /
    grouping_id surface. All three compile to a single Expand +
    hash-agg — one shuffle each, map-side partials intact."""
    o = read_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("bigint")
    )
    aggs = [
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum("o_totalprice", "total_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    ]
    rollup = o.rollup("order_year", "o_orderstatus").agg(*aggs).select(
        F.lit("rollup").alias("agg_kind"), "*"
    )
    cube = o.cube("order_year", "o_orderstatus").agg(*aggs).select(
        F.lit("cube").alias("agg_kind"), "*"
    )
    # explicit GROUPING SETS: the two "interesting" slices only —
    # per-status totals and the grand total (neither is a rollup level)
    sets_ = o.groupingSets(
        [["o_orderstatus"], []], "order_year", "o_orderstatus"
    ).agg(*aggs).select(F.lit("sets").alias("agg_kind"), "*")
    return rollup.unionByName(cube).unionByName(sets_)


@query(
    oracle="""
            SELECT o_orderkey, o_custkey,
                   CAST(date_diff('day',
                       LAG(o_orderdate) OVER w, o_orderdate) AS BIGINT
                   ) AS days_since_prev,
                   LEAD(o_orderkey) OVER w AS next_orderkey,
                   ROUND(SUM(o_totalprice) OVER (
                       w ROWS UNBOUNDED PRECEDING
                   ), 6) AS running_total,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate ASC
                       RANGE UNBOUNDED PRECEDING
                   ) AS DOUBLE) AS running_total_range,
                   CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
                   PERCENT_RANK() OVER w AS pct_rank,
                   CUME_DIST() OVER w AS cume,
                   FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
                   LAST_VALUE(o_orderkey) OVER (
                       w ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING
                   ) AS last_orderkey
            FROM orders
            WINDOW w AS (
                PARTITION BY o_custkey
                ORDER BY o_orderdate ASC, o_orderkey ASC
            )
        """,
)
def q34_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag + running window frame (rowsBetween) in one pass: days
    since each customer's previous order, the next order key, and the
    customer's running spend. Merged from round-1 q34_lead_lag +
    q54_running_total (window-economics: both are §2.5 window-function
    demos). Cumulative float addition is order-dependent; the fully
    specified (o_orderdate, o_orderkey) ordering makes both engines
    add in the same sequence."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, 0)
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # RANGE frame over the date ordering alone: same-day orders are
    # peers, so the running sum jumps by the whole peer group —
    # demonstrates ROWS-vs-RANGE semantics. Decimal-exact inside the
    # frame sum (set-sum, order-independent).
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("bigint").alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.round(F.sum("o_totalprice").over(wf), 6).alias("running_total"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(wr)
        .cast("double")
        .alias("running_total_range"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.last("o_orderkey").over(wfull).alias("last_orderkey"),
    )


@query(
    oracle="""
            WITH ranked AS (
                SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.event_id
                           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                       ) AS rn
                FROM events e JOIN orders o
                  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
            )
            SELECT event_id, user_id, o_orderkey, o_orderdate
            FROM ranked WHERE rn = 1
        """,
    headline=True,
)
def q36_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no Spark built-in): for each event, the latest order
    of the same key with o_orderdate <= event time. Round 2 switched
    from join + per-event window top-1 (fans out |events × orders per
    user| before ranking) to the union-sort formulation
    (operators/asof.asof_join): one shuffle on the key, zero fan-out —
    the plan that survives fact-to-fact lookups at scale. DuckDB's
    native ASOF JOIN is the oracle; equivalence with the join+window
    form is pinned in tests."""
    from lsdm_motogp_data_integration_spark.operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    return asof_join(ev, o, "user_id", "ts", "o_orderdate").select(
        "event_id", "user_id", "o_orderkey", "o_orderdate"
    )


@query(
    oracle="""
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
            FROM orders GROUP BY 1
        """,
)
def q37_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation): order counts per year ×
    status as columns."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate").cast("bigint"))
        .groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "order_year",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_finished"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
    )


@query(
    oracle="""
            WITH stats AS (
                SELECT event_id, user_id, value,
                       AVG(value) OVER (PARTITION BY user_id) AS mu,
                       stddev_pop(value) OVER (PARTITION BY user_id) AS sigma
                FROM events
            )
            SELECT event_id, user_id,
                   CASE WHEN sigma > 0
                        THEN ROUND((value - mu) / sigma, 6)
                        ELSE NULL END AS zscore
            FROM stats
        """,
    headline=True,
)
def q38_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF surface (applyInPandas): per-user z-score of
    event values — the custom-aggregation escape hatch the reference's
    scripted-JS step approximates (``motogp.ktr:4029``). Population
    std; zero-variance groups emit null.

    Shape note: Python emits ONE row per group (the custom statistics);
    the per-event arithmetic stays JVM-side via a broadcast join back —
    Arrow traffic is O(groups) out instead of O(rows), the pattern for
    custom aggregations at scale. When the statistic IS expressible in
    SQL (as z-score is), ``sessions.grouped_zscore_window`` computes
    the identical result all-JVM with no Python round trip (equivalence
    pinned in tests) — this query keeps the grouped-map form because
    the SURFACE is what it demonstrates.

    Parallelism note (the r2→r1 bench regression's root cause): the
    grouped-map shuffle writes only a few MB here, so AQE's partition
    coalescing — which sees BYTES, not the per-group Python dispatch
    cost that actually dominates a grouped-map stage — collapsed it to
    ONE partition, serializing every group through a single Python
    worker. The explicit fixed-width repartition below is exempt from
    AQE coalescing and satisfies FlatMapGroupsInPandas' required
    distribution (no extra shuffle), so the Python stage keeps full
    parallelism. Same rule at cluster scale: size grouped-map input
    partitions by GROUP COUNT, not bytes."""
    import pandas as pd

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "mu": [pdf["value"].mean()],
                "sigma": [pdf["value"].std(ddof=0)],
            }
        )

    # NB not dedup._compute_width: the grouped-map operator REQUIRES a
    # hash distribution on the group key, so the widening must be the
    # keyed repartition itself (an unkeyed round-robin widen would
    # just add a second shuffle in front of the required one)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    per_user = (
        ev.repartition(n_shuffle, "user_id")
        .groupBy("user_id")
        .applyInPandas(stats, schema="user_id long, mu double, sigma double")
    )
    return (
        ev.join(F.broadcast(per_user), "user_id")
        .select(
            "event_id",
            "user_id",
            F.when(
                F.col("sigma") > 0,
                F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6),
            ).alias("zscore"),
        )
    )


@query(
    oracle="""
            SELECT 'csv' AS fmt,
                   CAST(n_regionkey AS BIGINT) AS group_key,
                   COUNT(*) AS n_rows,
                   MIN(n_name) AS val_str,
                   CAST(NULL AS DOUBLE) AS val_num
            FROM nation GROUP BY n_regionkey
            UNION ALL
            SELECT 'json' AS fmt,
                   CAST(s_nationkey AS BIGINT) AS group_key,
                   COUNT(*) AS n_rows,
                   CAST(NULL AS VARCHAR) AS val_str,
                   CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                       AS val_num
            FROM supplier GROUP BY s_nationkey
            UNION ALL
            SELECT 'orc' AS fmt,
                   CAST(regexp_replace(p_brand, '[^0-9]', '', 'g')
                        AS BIGINT) AS group_key,
                   COUNT(*) AS n_rows,
                   CAST(NULL AS VARCHAR) AS val_str,
                   CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
                       AS val_num
            FROM part GROUP BY p_brand
            UNION ALL
            SELECT 'parquet' AS fmt,
                   CAST(c_nationkey AS BIGINT) AS group_key,
                   COUNT(*) AS n_rows,
                   MIN(c_mktsegment) AS val_str,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                       AS val_num
            FROM customer GROUP BY c_nationkey
            UNION ALL
            SELECT 'text' AS fmt,
                   CAST(length(text) % 10 AS BIGINT) AS group_key,
                   COUNT(*) AS n_rows,
                   MIN(text) AS val_str,
                   CAST(SUM(CAST(length(text) AS DECIMAL(18,6))) AS DOUBLE)
                       AS val_num
            FROM documents GROUP BY length(text) % 10
        """,
    tag="fmt",
    scopes=("csv", "json", "orc", "parquet", "text"),
)
def q39_file_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source surfaces in one tagged union: CsvInput
    (``motogp.ktr:1405``) — nation written out as CSV and read back with
    a declared schema (header, quote, UTF-8, no inference) — and
    JsonInput (``motogp.ktr:4281``) — supplier written as JSON-lines
    and read back with a declared schema mirroring the reference's
    JSONPath field lists. Each side aggregates after the round trip, so
    a read error on either connector fails the row. (Merged from
    round-1 q39/q51.) Round 3 adds the two columnar sinks a Spark
    lakehouse actually ships curated data in: ``orc`` — part written
    as ORC (built-in vectorized reader, predicate pushdown) and read
    back — and ``parquet`` — customer written as snappy parquet and
    read back; both aggregate decimal-exactly after the round trip, so
    type fidelity (DECIMAL survives ORC/parquet logical types intact)
    is what the oracle hash checks, not just row counts. This round
    adds ``text`` — the line-oriented reader/writer raw corpora ship
    as (one document per line): documents written with ``write.text``
    and read back with ``read.text``, aggregated by line-length
    bucket so any line split/merge/truncation on the round trip
    fails the hash."""
    import tempfile

    from pyspark.sql import types as T

    from lsdm_motogp_data_integration_spark.sources import read_csv

    n = read_table(spark, sf_dir, "nation")
    tmp_csv = tempfile.mkdtemp(prefix="csv_roundtrip_")
    n.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp_csv)
    csv_schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    csv_side = (
        read_csv(spark, tmp_csv, csv_schema)
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("n_name").alias("val_str"),
        )
        .select(
            F.lit("csv").alias("fmt"),
            F.col("n_regionkey").cast("bigint").alias("group_key"),
            "n_rows",
            "val_str",
            F.lit(None).cast("double").alias("val_num"),
        )
    )

    s = read_table(spark, sf_dir, "supplier")
    tmp_json = tempfile.mkdtemp(prefix="json_roundtrip_")
    s.coalesce(1).write.mode("overwrite").json(tmp_json)
    json_schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    json_side = (
        spark.read.schema(json_schema)
        .json(tmp_json)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dec_sum("s_acctbal", "val_num"),
        )
        .select(
            F.lit("json").alias("fmt"),
            F.col("s_nationkey").cast("bigint").alias("group_key"),
            "n_rows",
            F.lit(None).cast("string").alias("val_str"),
            "val_num",
        )
    )

    p = read_table(spark, sf_dir, "part")
    tmp_orc = tempfile.mkdtemp(prefix="orc_roundtrip_")
    p.write.mode("overwrite").orc(tmp_orc)
    orc_side = (
        spark.read.orc(tmp_orc)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dec_sum("p_retailprice", "val_num"),
        )
        .select(
            F.lit("orc").alias("fmt"),
            # brand digits as the numeric group key so all four sides
            # share one (fmt, group_key) shape
            F.regexp_replace("p_brand", "[^0-9]", "")
            .cast("bigint")
            .alias("group_key"),
            "n_rows",
            F.lit(None).cast("string").alias("val_str"),
            "val_num",
        )
    )

    c = read_table(spark, sf_dir, "customer")
    tmp_parq = tempfile.mkdtemp(prefix="parquet_roundtrip_")
    c.write.mode("overwrite").parquet(tmp_parq)
    parquet_side = (
        spark.read.parquet(tmp_parq)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dec_sum("c_acctbal", "val_num"),
            F.min("c_mktsegment").alias("val_str"),
        )
        .select(
            F.lit("parquet").alias("fmt"),
            F.col("c_nationkey").cast("bigint").alias("group_key"),
            "n_rows",
            "val_str",
            "val_num",
        )
    )
    d = read_table(spark, sf_dir, "documents").select("text")
    tmp_txt = tempfile.mkdtemp(prefix="text_roundtrip_")
    d.coalesce(1).write.mode("overwrite").text(tmp_txt)
    text_side = (
        spark.read.text(tmp_txt)
        .groupBy((F.length("value") % 10).cast("bigint").alias("group_key"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("val_str"),
            F.sum(F.length("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("val_num"),
        )
        .select(
            F.lit("text").alias("fmt"),
            "group_key",
            "n_rows",
            "val_str",
            "val_num",
        )
    )
    return (
        csv_side.unionByName(json_side)
        .unionByName(orc_side)
        .unionByName(parquet_side)
        .unionByName(text_side)
    )


@query(
    oracle="""
            SELECT event_id,
                   CAST(props->>'$.k' AS BIGINT) AS k_value
            FROM events
        """,
)
def q42_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (beyond the reference's flat JSONPath
    scans): pull props.k out of the events' JSON string column."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


def _q43_oracle() -> str:
    # HLL oracle snippets generated by the SAME helpers the Spark
    # operator uses (sketches.hll_*_sql) — the two engines share one
    # definition of the rank CASE chain, the power table, and the
    # estimate expression (m=64, matching q43's build call)
    from lsdm_motogp_data_integration_spark.operators.sketches import (
        hll_est_sql,
        hll_pow_sql,
        hll_rho_sql,
    )

    _hll_rho_sql_expr = hll_rho_sql("h", 64)
    _hll_pow_sql_expr = hll_pow_sql("reg", 64)
    _hll_est_sql_expr = hll_est_sql(64)[1]
    return f"""
            WITH g AS (
                SELECT event_type,
                       ROUND(quantile_cont(value, 0.5), 6) AS p50,
                       ROUND(quantile_cont(value, 0.9), 6) AS p90,
                       COUNT(*) AS n,
                       MIN(value) AS vmin,
                       MAX(value) AS vmax,
                       CAST(SUM(CAST(value AS DECIMAL(38,6)))
                            AS DOUBLE) AS s1,
                       CAST(SUM(CAST(value * value AS DECIMAL(38,6)))
                            AS DOUBLE) AS s2
                FROM events GROUP BY event_type
            )
            SELECT 'exact' AS scope, event_type, p50, p90, n, vmin, vmax,
                   s1 / CAST(n AS DOUBLE) AS mean,
                   SQRT((s2 - s1 * s1 / CAST(n AS DOUBLE))
                        / (CAST(n AS DOUBLE) - 1.0)) AS stddev,
                   NULL::BOOLEAN AS hll_ok,
                   NULL::DOUBLE AS approx_median,
                   NULL::BIGINT AS hll_v, NULL::BIGINT AS hll_s,
                   NULL::BIGINT AS hll_reg_sum, NULL::DOUBLE AS hll_est,
                   NULL::DOUBLE AS q, NULL::DOUBLE AS qvalue
            FROM g
            UNION ALL
            -- the sketch contracts: the HLL estimate must sit within
            -- its documented bound of the exact count DuckDB
            -- recomputes (asserted TRUE); percentile_approx in its
            -- exact regime (n <= accuracy) must EQUAL quantile_disc —
            -- a direct value comparison, not a boolean
            SELECT 'approx' AS scope, event_type,
                   NULL::DOUBLE, NULL::DOUBLE, COUNT(*) AS n,
                   NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
                   TRUE AS hll_ok,
                   quantile_disc(value, 0.5) AS approx_median,
                   NULL::BIGINT AS hll_v, NULL::BIGINT AS hll_s,
                   NULL::BIGINT AS hll_reg_sum, NULL::DOUBLE AS hll_est,
                   NULL::DOUBLE AS q, NULL::DOUBLE AS qvalue
            FROM events GROUP BY event_type
            UNION ALL
            -- the repo's OWN portable HLL (sketches.hll_sketch, m=64):
            -- registers, the exact scaled harmonic sum, the register
            -- checksum AND the rounded estimate replayed bit-exactly
            -- (same md5-60 hash, same indicator-sum rank, same IEEE
            -- estimate expression — snippets generated by the SAME
            -- Python helpers the Spark side uses)
            SELECT 'hll_sketch' AS scope, event_type,
                   NULL::DOUBLE AS p50, NULL::DOUBLE AS p90,
                   NULL::BIGINT AS n, NULL::DOUBLE AS vmin,
                   NULL::DOUBLE AS vmax, NULL::DOUBLE AS mean,
                   NULL::DOUBLE AS stddev, NULL::BOOLEAN AS hll_ok,
                   NULL::DOUBLE AS approx_median,
                   hll_v, hll_s, hll_reg_sum,
                   {_hll_est_sql_expr} AS hll_est,
                   NULL::DOUBLE AS q, NULL::DOUBLE AS qvalue
            FROM (
                WITH hashes AS (
                    SELECT event_type,
                           CAST(('0x' || substr(md5('hll|' ||
                               CAST(user_id AS VARCHAR)), 1, 15))
                               AS BIGINT) AS h
                    FROM events WHERE user_id IS NOT NULL
                ), regs AS (
                    SELECT event_type, CAST(h % 64 AS INT) AS idx,
                           {_hll_rho_sql_expr} AS rho
                    FROM hashes
                ), sk AS (
                    SELECT event_type, idx, MAX(rho) AS reg
                    FROM regs GROUP BY 1, 2
                )
                SELECT event_type,
                       CAST(64 - COUNT(*) AS BIGINT) AS hll_v,
                       CAST(SUM({_hll_pow_sql_expr})
                            + (64 - COUNT(*)) * {1 << 55}
                            AS BIGINT) AS hll_s,
                       CAST(SUM((idx + 1) * reg) AS BIGINT)
                           AS hll_reg_sum
                FROM sk GROUP BY 1
            )
            UNION ALL
            -- EXACT global quantiles: value at 1-based rank ceil(q*n)
            -- of the sorted non-null column (the distributed
            -- two-phase operator's contract, replayed transparently)
            SELECT 'global_q' AS scope, NULL::VARCHAR AS event_type,
                   NULL::DOUBLE AS p50, NULL::DOUBLE AS p90,
                   n, NULL::DOUBLE AS vmin, NULL::DOUBLE AS vmax,
                   NULL::DOUBLE AS mean, NULL::DOUBLE AS stddev,
                   NULL::BOOLEAN AS hll_ok,
                   NULL::DOUBLE AS approx_median,
                   NULL::BIGINT AS hll_v, NULL::BIGINT AS hll_s,
                   NULL::BIGINT AS hll_reg_sum, NULL::DOUBLE AS hll_est,
                   q, qvalue
            FROM (
                WITH s AS (
                    SELECT value,
                           ROW_NUMBER() OVER (ORDER BY value) AS rn,
                           COUNT(*) OVER () AS nn
                    FROM events WHERE value IS NOT NULL
                )
                SELECT qv.q, MIN(s.value) AS qvalue,
                       CAST(MIN(s.nn) AS BIGINT) AS n
                FROM s, (VALUES (0.25), (0.5), (0.9), (0.99)) qv(q)
                WHERE s.rn >= CEIL(CAST(qv.q AS DECIMAL(18,9)) * s.nn)
                GROUP BY qv.q
            )
            UNION ALL
            -- hist_q: fixed-grid histogram sketch (100 bins over
            -- [0, 500)) — estimate = upper edge of the first bin whose
            -- cumulative count reaches rank ceil(q*n)
            SELECT 'hist_q' AS scope, NULL::VARCHAR AS event_type,
                   NULL::DOUBLE AS p50, NULL::DOUBLE AS p90,
                   n, NULL::DOUBLE AS vmin, NULL::DOUBLE AS vmax,
                   NULL::DOUBLE AS mean, NULL::DOUBLE AS stddev,
                   NULL::BOOLEAN AS hll_ok,
                   NULL::DOUBLE AS approx_median,
                   NULL::BIGINT AS hll_v, NULL::BIGINT AS hll_s,
                   NULL::BIGINT AS hll_reg_sum, NULL::DOUBLE AS hll_est,
                   q, qvalue
            FROM (
                WITH hb AS (
                    SELECT GREATEST(CAST(0 AS BIGINT), LEAST(
                               CAST(99 AS BIGINT),
                               CAST(FLOOR((value - 0.0) / 5.0) AS BIGINT)
                           )) AS bin,
                           COUNT(*) AS cnt
                    FROM events WHERE value IS NOT NULL GROUP BY 1
                ), cum AS (
                    SELECT bin,
                           SUM(cnt) OVER (ORDER BY bin) AS c,
                           SUM(cnt) OVER () AS nn
                    FROM hb
                )
                SELECT qv.q,
                       0.0 + CAST(MIN(cum.bin) + 1 AS DOUBLE) * 5.0
                           AS qvalue,
                       CAST(MIN(cum.nn) AS BIGINT) AS n
                FROM cum, (VALUES (0.5), (0.9), (0.99)) qv(q)
                WHERE cum.c >= CEIL(CAST(qv.q AS DECIMAL(18,9)) * cum.nn)
                GROUP BY qv.q
            )
            UNION ALL
            -- winsor: clip at the exact global [0.01, 0.99] quantile
            -- values (rank = ceil(q*n), same rule as global_q), then
            -- per event type: clipped-row count + winsorized min/max
            SELECT 'winsor' AS scope, event_type,
                   NULL::DOUBLE AS p50, NULL::DOUBLE AS p90,
                   n, vmin, vmax,
                   NULL::DOUBLE AS mean, NULL::DOUBLE AS stddev,
                   NULL::BOOLEAN AS hll_ok,
                   NULL::DOUBLE AS approx_median,
                   NULL::BIGINT AS hll_v, NULL::BIGINT AS hll_s,
                   NULL::BIGINT AS hll_reg_sum, NULL::DOUBLE AS hll_est,
                   NULL::DOUBLE AS q, NULL::DOUBLE AS qvalue
            FROM (
                WITH ws AS (
                    SELECT value,
                           ROW_NUMBER() OVER (ORDER BY value) AS rn,
                           COUNT(*) OVER () AS nn
                    FROM events WHERE value IS NOT NULL
                ), bounds AS (
                    SELECT
                        (SELECT MIN(value) FROM ws
                         WHERE rn >= CEIL(CAST(0.01 AS DECIMAL(18,9)) * nn))
                            AS lo,
                        (SELECT MIN(value) FROM ws
                         WHERE rn >= CEIL(CAST(0.99 AS DECIMAL(18,9)) * nn))
                            AS hi
                )
                SELECT e.event_type,
                       CAST(SUM(CASE WHEN e.value IS NOT NULL
                                AND (e.value < b.lo OR e.value > b.hi)
                                THEN 1 ELSE 0 END) AS BIGINT) AS n,
                       MIN(CASE WHEN e.value IS NULL THEN NULL
                           ELSE LEAST(GREATEST(e.value, b.lo), b.hi)
                           END) AS vmin,
                       MAX(CASE WHEN e.value IS NULL THEN NULL
                           ELSE LEAST(GREATEST(e.value, b.lo), b.hi)
                           END) AS vmax
                FROM events e CROSS JOIN bounds b
                GROUP BY e.event_type
            )
        """


@query(
    oracle=_q43_oracle,
    tag="scope",
    scopes=("approx", "exact", "global_q", "hist_q", "hll_sketch", "winsor"),
)
def q43_statistics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary-statistics suite per event type (the reference has no
    quantile/statistics capability at all), tagged by ``scope``:

    - ``exact``: percentiles (linear interpolation), min/max, and
      mean/stddev derived from decimal-exact moments — per-row doubles
      are cast to DECIMAL(18,6) before summation so the moment sums
      are order-independent, then mean/variance are computed as
      identical double scalar expressions in both engines (the repo's
      float-determinism convention; a native streaming
      ``stddev_samp`` would drift in the last ulps with partition
      order).
    - ``approx``: the sketch surface, graded two ways. HyperLogLog
      (``approx_count_distinct``) internals are engine-specific, so
      its contract is the ACCURACY CLAIM: a within-bounds boolean (15%
      relative — 3× the default 5% rsd — or ±2 absolute) the oracle
      asserts TRUE after recomputing the exact count; drift past the
      bound fails the driver's hash. ``percentile_approx`` runs in its
      EXACT regime (accuracy=1e6 ≥ group sizes), where it provably
      equals DuckDB's ``quantile_disc`` — compared as a direct VALUE,
      the strongest possible cross-engine check of the sketch's exact
      mode. (Absorbs round-1 q59_approx_aggs, previously rows-only.)
    - ``hll_sketch`` (r3): the repo's OWN portable HyperLogLog
      (``operators/sketches.hll_sketch`` — md5-60 registers, mergeable
      and persistable, unlike ``approx_count_distinct``'s opaque
      result). Per event type over user_id: untouched-register count,
      the exact scaled harmonic sum, an order-free register checksum,
      and the final estimate — ALL replayed bit-exactly by the DuckDB
      oracle (registers are pure integer arithmetic; the estimate is
      an identical IEEE expression + portable positive 6dp rounding).
    - ``global_q`` (r3): EXACT corpus-wide quantiles with NO global
      sort (``operators/profile.exact_quantiles`` — distinct-value
      collapse, range partitions, O(#partitions) offsets; the 100 TB
      path where ``F.percentile``'s per-group sort and
      ``percentile_approx``'s sketch both fall short). Value at rank
      ceil(q·n), oracle-replayed by a transparent ROW_NUMBER scan.
    - ``hist_q`` (r3): the MERGEABLE quantile path
      (sketches.histogram_sketch/histogram_quantile — ≤ n_bins counter
      rows, counter-addition merge like the CMS): estimates are the
      upper edge of the first bin reaching rank ceil(q·n), within one
      bin width of the exact value by construction; the oracle replays
      bins, cumulative counts, and edges exactly.
    - ``winsor`` (r3): outlier clipping at the exact global
      [0.01, 0.99] quantiles (profile.winsorize — bounds from the
      two-phase quantile job as literals, clip fused into the scan):
      per event type the clipped-row count and the winsorized
      min/max, oracle-replayed via the same rank rule."""
    from lsdm_motogp_data_integration_spark.operators.profile import (
        exact_quantiles,
        winsorize,
    )
    from lsdm_motogp_data_integration_spark.operators.sketches import (
        histogram_quantile,
        histogram_sketch,
        hll_estimate,
        hll_sketch,
    )

    ev = read_table(spark, sf_dir, "events")
    hl = hll_estimate(
        hll_sketch(ev, "user_id", m=64, group_cols=("event_type",)),
        m=64,
        group_cols=("event_type",),
    )
    gq = exact_quantiles(ev, "value", [0.25, 0.5, 0.9, 0.99])
    hq = histogram_quantile(
        histogram_sketch(ev, "value", lo=0.0, hi=500.0, n_bins=100),
        [0.5, 0.9, 0.99],
        lo=0.0,
        hi=500.0,
        n_bins=100,
    )
    wz = winsorize(ev, "value", lo_q=0.01, hi_q=0.99).groupBy(
        "event_type"
    ).agg(
        F.sum(F.col("value_clipped").cast("bigint")).alias("n"),
        F.min("value_winsor").alias("vmin"),
        F.max("value_winsor").alias("vmax"),
    )
    g = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("__s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("__s2"),
    )
    nd = F.col("n").cast("double")
    exact = g.select(
        "event_type",
        "p50",
        "p90",
        "n",
        "vmin",
        "vmax",
        (F.col("__s1") / nd).alias("mean"),
        F.sqrt(
            (F.col("__s2") - F.col("__s1") * F.col("__s1") / nd)
            / (nd - F.lit(1.0))
        ).alias("stddev"),
    )
    abs_err = F.abs(
        F.col("__ap_users").cast("double")
        - F.col("__ex_users").cast("double")
    )
    ap = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("__ex_users"),
        F.approx_count_distinct("user_id").alias("__ap_users"),
        # accuracy=1e6: percentile_approx's GK sketch is EXACT below
        # accuracy rows per group, where it provably equals DuckDB's
        # quantile_disc (discrete median; verified incl. tied and
        # 2-value groups) — a direct cross-engine VALUE check, far
        # stronger than the previous 'inside the exact IQR' boolean,
        # which was unsound for n<=2 groups
        F.percentile_approx(
            "value", F.lit(0.5), F.lit(1_000_000)
        ).alias("approx_median"),
    ).select(
        "event_type",
        "n",
        # HLL bound: 15% relative (3x the default 5% rsd) or +/-2
        # absolute for tiny groups; greatest(.,1) keeps an all-NULL
        # user_id group (exact distinct 0, estimate 0) NULL-free
        (
            (
                abs_err
                / F.greatest(
                    F.col("__ex_users").cast("double"), F.lit(1.0)
                )
                <= F.lit(0.15)
            )
            | (abs_err <= F.lit(2.0))
        ).alias("hll_ok"),
        "approx_median",
    )
    return _suite_union(
        [
            ("event_type", "string"),
            ("p50", "double"),
            ("p90", "double"),
            ("n", "bigint"),
            ("vmin", "double"),
            ("vmax", "double"),
            ("mean", "double"),
            ("stddev", "double"),
            ("hll_ok", "boolean"),
            ("approx_median", "double"),
            ("hll_v", "bigint"),
            ("hll_s", "bigint"),
            ("hll_reg_sum", "bigint"),
            ("hll_est", "double"),
            ("q", "double"),
            ("qvalue", "double"),
        ],
        ("exact", exact),
        ("approx", ap),
        ("hll_sketch", hl),
        ("global_q", gq),
        ("hist_q", hq),
        ("winsor", wz),
    )


@query(
    oracle="""
            SELECT key, 'both' AS which FROM (
                SELECT c_custkey AS key FROM customer
                INTERSECT
                SELECT user_id AS key FROM events
            )
            UNION ALL
            SELECT key, 'customer_only' AS which FROM (
                SELECT c_custkey AS key FROM customer
                EXCEPT
                SELECT user_id AS key FROM events
            )
            UNION ALL
            SELECT key, 'diff_' || status AS which FROM (
                WITH oldc AS (SELECT doc_id, text FROM documents),
                newc AS (
                    SELECT doc_id,
                           CASE WHEN doc_id % 10 = 0 THEN text || ' v2'
                                ELSE text END AS text
                    FROM documents WHERE doc_id % 7 <> 3
                    UNION ALL
                    SELECT doc_id + 300000, text FROM documents
                    WHERE doc_id % 13 = 0
                )
                SELECT COALESCE(o.doc_id, n.doc_id) AS key,
                       CASE WHEN o.doc_id IS NULL THEN 'added'
                            WHEN n.doc_id IS NULL THEN 'removed'
                            -- null-safe: NULL body ≡ NULL body is
                            -- unchanged (operator contract)
                            WHEN md5(o.text) IS NOT DISTINCT FROM
                                 md5(n.text) THEN 'unchanged'
                            ELSE 'changed' END AS status
                FROM oldc o FULL OUTER JOIN newc n
                     ON o.doc_id = n.doc_id
            )
            UNION ALL
            -- SCD2 replay: two staged MERGEs as explicit CTEs, digest
            -- sentinel '__NULL__' matching operators/merge._NULL_DIGEST
            SELECT key, which FROM (
                WITH v1 AS (
                    SELECT doc_id, COALESCE(md5(text), '__NULL__') AS dg
                    FROM documents
                ), v2raw AS (
                    SELECT doc_id,
                           CASE WHEN doc_id % 10 = 0 THEN text || ' v2'
                                ELSE text END AS text
                    FROM documents WHERE doc_id % 7 <> 3
                    UNION ALL
                    SELECT doc_id + 300000, text FROM documents
                    WHERE doc_id % 13 = 0
                ), v3raw AS (
                    SELECT doc_id,
                           CASE WHEN doc_id % 9 = 1 THEN text || ' v3'
                                ELSE text END AS text
                    FROM v2raw WHERE doc_id % 11 <> 5
                    UNION ALL
                    SELECT doc_id + 600000, text FROM v2raw
                    WHERE doc_id % 17 = 0
                ), v2 AS (
                    SELECT doc_id, COALESCE(md5(text), '__NULL__') AS dg
                    FROM v2raw
                ), v3 AS (
                    SELECT doc_id, COALESCE(md5(text), '__NULL__') AS dg
                    FROM v3raw
                ), j2 AS (
                    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                           a.dg AS od, b.dg AS nd
                    FROM v1 a FULL OUTER JOIN v2 b
                         ON a.doc_id = b.doc_id
                ), h2 AS (
                    SELECT doc_id, od AS dg, CAST(1 AS BIGINT) AS vf,
                           CAST(NULL AS BIGINT) AS vt
                    FROM j2 WHERE od IS NOT NULL AND nd IS NOT NULL
                                  AND od = nd
                    UNION ALL
                    SELECT doc_id, od, 1, 2
                    FROM j2 WHERE od IS NOT NULL
                                  AND (nd IS NULL OR od <> nd)
                    UNION ALL
                    SELECT doc_id, nd, 2, NULL
                    FROM j2 WHERE nd IS NOT NULL
                                  AND (od IS NULL OR od <> nd)
                ), cur2 AS (
                    SELECT doc_id, dg, vf FROM h2 WHERE vt IS NULL
                ), j3 AS (
                    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                           a.dg AS od, b.dg AS nd, a.vf
                    FROM cur2 a FULL OUTER JOIN v3 b
                         ON a.doc_id = b.doc_id
                ), h3 AS (
                    SELECT doc_id, dg, vf, vt FROM h2
                    WHERE vt IS NOT NULL
                    UNION ALL
                    SELECT doc_id, od, vf, CAST(NULL AS BIGINT)
                    FROM j3 WHERE od IS NOT NULL AND nd IS NOT NULL
                                  AND od = nd
                    UNION ALL
                    SELECT doc_id, od, vf, 3
                    FROM j3 WHERE od IS NOT NULL
                                  AND (nd IS NULL OR od <> nd)
                    UNION ALL
                    SELECT doc_id, nd, CAST(3 AS BIGINT), NULL
                    FROM j3 WHERE nd IS NOT NULL
                                  AND (od IS NULL OR od <> nd)
                )
                SELECT doc_id AS key,
                       'scd2_' || CAST(vf AS VARCHAR) || '_'
                       || COALESCE(CAST(vt AS VARCHAR), 'cur') AS which
                FROM h3
            )
        """,
    tag="which",
    scopes=(
        "both", "customer_only", "diff_added", "diff_changed", "diff_removed",
        "diff_unchanged", "scd2_1_2", "scd2_1_3", "scd2_1_cur", "scd2_2_3",
        "scd2_2_cur", "scd2_3_cur",
    ),
)
def q55_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation suite (tagged by ``which``):

    - ``both`` / ``customer_only``: INTERSECT / EXCEPT (§2.7 — the
      reference has neither): customer keys that do / do not appear
      as event users.
    - ``diff_*`` (r3): corpus-version diffing
      (operators/profile.corpus_diff) — a deterministic "v2" of the
      documents corpus (every 7th-mod-3 doc removed, every 10th
      changed, every 13th re-added under a new id) diffed against v1;
      each id classified added/removed/changed/unchanged by digest
      full-outer join (constant-width rows — diffing snapshots never
      shuffles document bodies).
    - ``scd2_*`` (r3): SCD2 history maintenance (operators/merge):
      the v1→v2→v3 snapshot chain merged into a full change history
      — v3 derives from v2 by removing every 11th-mod-5 doc,
      appending " v3" to every 9th-mod-1, and re-adding every
      17th-mod-0 under +600000. Each history row becomes
      ``which = 'scd2_<ver_from>_<ver_to|cur>'`` — the tag encodes
      the validity interval, so a wrong close/open anywhere in the
      two merges moves a row between tags and fails both the count
      and the hash."""
    from lsdm_motogp_data_integration_spark.operators.merge import (
        scd2_apply,
        scd2_init,
    )
    from lsdm_motogp_data_integration_spark.operators.profile import (
        corpus_diff,
    )

    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key")
    )
    u = read_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key")
    )
    both = c.intersect(u).select("key", F.lit("both").alias("which"))
    only_c = c.exceptAll(u.distinct()).distinct().select(
        "key", F.lit("customer_only").alias("which")
    )
    old = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        old.filter(F.col("doc_id") % 7 != 3)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            old.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"), "text"
            )
        )
    )
    diff_rows = corpus_diff(old, new, "doc_id", "text").select(
        F.col("doc_id").alias("key"),
        F.concat(F.lit("diff_"), F.col("status")).alias("which"),
    )
    v3 = (
        new.filter(F.col("doc_id") % 11 != 5)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 9 == 1,
                F.concat(F.col("text"), F.lit(" v3")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            new.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 600000).alias("doc_id"), "text"
            )
        )
    )
    hist = scd2_apply(
        scd2_apply(
            scd2_init(old, "doc_id", "text", version=1),
            new,
            "doc_id",
            "text",
            version=2,
        ),
        v3,
        "doc_id",
        "text",
        version=3,
    )
    scd2_rows = hist.select(
        F.col("doc_id").alias("key"),
        F.concat_ws(
            "_",
            F.lit("scd2"),
            F.col("ver_from").cast("string"),
            F.coalesce(F.col("ver_to").cast("string"), F.lit("cur")),
        ).alias("which"),
    )
    return (
        both.unionByName(only_c)
        .unionByName(diff_rows)
        .unionByName(scd2_rows)
    )


@query(
    oracle="""
            WITH errors AS (
                SELECT user_id, event_id AS error_id, ts AS win_start,
                       ts + INTERVAL 2 HOUR AS win_end
                FROM events WHERE event_type = 'error'
            )
            SELECT e.user_id, err.error_id, e.event_id
            FROM events e JOIN errors err
              ON e.user_id = err.user_id
             AND e.ts >= err.win_start
             AND e.ts < err.win_end
             AND e.event_id != err.error_id
        """,
)
def q56_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (absent from both the reference and Spark's builtins):
    every event falling inside a 2-hour window after an error event of
    the same user — bucketized to an equi-join + residual filter
    (operators/ranges.py) instead of a quadratic inequality join."""
    from lsdm_motogp_data_integration_spark.operators.ranges import range_join

    ev = read_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("win_end"),
    )
    matched = range_join(
        ev.select("event_id", "user_id", "ts"),
        errors,
        "ts",
        "win_start",
        "win_end",
        on=["user_id"],
        bucket_seconds=3600,
    )
    return matched.filter(F.col("event_id") != F.col("error_id")).select(
        "user_id", "error_id", "event_id"
    )


@query(
    oracle="""
            WITH dms AS (
                SELECT s_suppkey,
                       CAST((s_suppkey * 3) % 90 AS VARCHAR) || '°' ||
                       CAST((s_suppkey * 7) % 60 AS VARCHAR) || '′' ||
                       CAST((s_suppkey * 11) % 60 AS VARCHAR) || '″' ||
                       (CASE WHEN s_suppkey % 2 = 0 THEN 'N' ELSE 'S' END) ||
                       ' ' ||
                       CAST((s_suppkey * 5) % 180 AS VARCHAR) || '°' ||
                       CAST((s_suppkey * 13) % 60 AS VARCHAR) || '′' ||
                       CAST((s_suppkey * 17) % 60 AS VARCHAR) || '″' ||
                       (CASE WHEN s_suppkey % 3 = 0 THEN 'E' ELSE 'W' END)
                           AS coord_text
                FROM supplier
            ), parsed AS (
                SELECT s_suppkey, coord_text,
                       CAST(regexp_extract(coord_text,
                           '(\\d+)°(\\d+)[′''](\\d+)[″"]([NS])\\s+(\\d+)°(\\d+)[′''](\\d+)[″"]([EW])', 1) AS DOUBLE)
                       + CAST(regexp_extract(coord_text,
                           '(\\d+)°(\\d+)[′''](\\d+)[″"]([NS])\\s+(\\d+)°(\\d+)[′''](\\d+)[″"]([EW])', 2) AS DOUBLE) / 60
                       + CAST(regexp_extract(coord_text,
                           '(\\d+)°(\\d+)[′''](\\d+)[″"]([NS])\\s+(\\d+)°(\\d+)[′''](\\d+)[″"]([EW])', 3) AS DOUBLE) / 3600
                           AS lat_abs,
                       regexp_extract(coord_text,
                           '(\\d+)°(\\d+)[′''](\\d+)[″"]([NS])\\s+(\\d+)°(\\d+)[′''](\\d+)[″"]([EW])', 4) AS lat_dir,
                       CAST(regexp_extract(coord_text,
                           '(\\d+)°(\\d+)[′''](\\d+)[″"]([NS])\\s+(\\d+)°(\\d+)[′''](\\d+)[″"]([EW])', 5) AS DOUBLE)
                       + CAST(regexp_extract(coord_text,
                           '(\\d+)°(\\d+)[′''](\\d+)[″"]([NS])\\s+(\\d+)°(\\d+)[′''](\\d+)[″"]([EW])', 6) AS DOUBLE) / 60
                       + CAST(regexp_extract(coord_text,
                           '(\\d+)°(\\d+)[′''](\\d+)[″"]([NS])\\s+(\\d+)°(\\d+)[′''](\\d+)[″"]([EW])', 7) AS DOUBLE) / 3600
                           AS lon_abs,
                       regexp_extract(coord_text,
                           '(\\d+)°(\\d+)[′''](\\d+)[″"]([NS])\\s+(\\d+)°(\\d+)[′''](\\d+)[″"]([EW])', 8) AS lon_dir
                FROM dms
            )
            SELECT s_suppkey, coord_text,
                   ROUND(CASE WHEN lat_dir = 'S' THEN -lat_abs ELSE lat_abs END, 6) AS lat,
                   ROUND(CASE WHEN lon_dir = 'W' THEN -lon_abs ELSE lon_abs END, 6) AS lon
            FROM parsed
        """,
)
def q60_dms_coordinates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DMS → decimal coordinate conversion (``race_date_script.py:63-74``
    — the one ingestion-layer scalar with no prior engine equivalent):
    deterministic DMS strings are synthesized from supplier keys
    (testdata has no geo columns), then parsed back with
    ``functions.text.dms_to_decimal``. Both engines build and parse the
    identical string, so lat/lon compare exactly; southern/western
    hemispheres alternate by key parity to cover the negation branches.
    """
    from lsdm_motogp_data_integration_spark.functions.text import (
        dms_to_decimal,
    )

    s = read_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    dms = F.concat(
        F.pmod(k * 3, F.lit(90)).cast("string"),
        F.lit("°"),
        F.pmod(k * 7, F.lit(60)).cast("string"),
        F.lit("′"),
        F.pmod(k * 11, F.lit(60)).cast("string"),
        F.lit("″"),
        F.when(k % 2 == 0, F.lit("N")).otherwise(F.lit("S")),
        F.lit(" "),
        F.pmod(k * 5, F.lit(180)).cast("string"),
        F.lit("°"),
        F.pmod(k * 13, F.lit(60)).cast("string"),
        F.lit("′"),
        F.pmod(k * 17, F.lit(60)).cast("string"),
        F.lit("″"),
        F.when(k % 3 == 0, F.lit("E")).otherwise(F.lit("W")),
    )
    parsed = dms_to_decimal(F.col("coord_text"))
    return (
        s.select("s_suppkey", dms.alias("coord_text"))
        .select(
            "s_suppkey",
            "coord_text",
            F.round(parsed["lat"], 6).alias("lat"),
            F.round(parsed["lon"], 6).alias("lon"),
        )
    )
