"""Event-time, ranking-window and Structured Streaming suites (SURVEY §2.5,
§2.11)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.operators.sessions import (
    gapfill_hourly,
    sessionize,
    tumbling_window_agg,
)
from lsdm_motogp_data_integration_spark.queries.registry import (
    _dec_sum,
    _suite_union,
    query,
)
from lsdm_motogp_data_integration_spark.sources import read_table


@query(
    oracle="""
            SELECT 'tumbling' AS scope,
                   date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
                   NULL::BIGINT AS event_id,
                   NULL::BIGINT AS user_id,
                   NULL::BIGINT AS session_seq,
                   NULL::DOUBLE AS sum_value_ff
            FROM events GROUP BY 2, 3, 4
            UNION ALL
            SELECT 'session' AS scope,
                   NULL::TIMESTAMP AS window_start,
                   NULL::TIMESTAMP AS window_end,
                   NULL::VARCHAR AS event_type,
                   NULL::BIGINT AS n_events,
                   NULL::DOUBLE AS sum_value,
                   event_id, user_id, session_seq,
                   NULL::DOUBLE AS sum_value_ff
            FROM (
            WITH w AS (
                SELECT event_id, user_id, ts,
                       LAG(ts) OVER (
                           PARTITION BY user_id ORDER BY ts ASC
                       ) AS prev_ts
                FROM events
            ), flags AS (
                SELECT event_id, user_id, ts,
                       -- microsecond-exact gap, matching the engine's
                       -- unix_micros comparison (> gap, strictly)
                       CASE WHEN prev_ts IS NULL
                                 OR epoch_us(ts) - epoch_us(prev_ts)
                                    > 1800000000
                            THEN 1 ELSE 0 END AS nf
                FROM w
            )
            SELECT event_id, user_id,
                   CAST(SUM(nf) OVER (
                       PARTITION BY user_id ORDER BY ts ASC
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS session_seq
            FROM flags
            )
            UNION ALL
            SELECT 'gapfill' AS scope,
                   window_start,
                   NULL::TIMESTAMP AS window_end,
                   event_type, n_events,
                   sum_value,
                   NULL::BIGINT AS event_id,
                   NULL::BIGINT AS user_id,
                   NULL::BIGINT AS session_seq,
                   sum_value_ff
            FROM (
                WITH gb AS (
                    SELECT event_type,
                           date_trunc('hour', ts) AS bucket,
                           COUNT(*) AS n_events,
                           CAST(SUM(CAST(value AS DECIMAL(38,6)))
                                AS DOUBLE) AS sum_value
                    FROM events GROUP BY 1, 2
                ), rng AS (
                    SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
                    FROM gb GROUP BY 1
                ), axis AS (
                    SELECT event_type,
                           unnest(generate_series(lo, hi,
                               INTERVAL 1 HOUR)) AS bucket
                    FROM rng
                ), filled AS (
                    SELECT a.event_type, a.bucket AS window_start,
                           CAST(COALESCE(g.n_events, 0) AS BIGINT)
                               AS n_events,
                           g.sum_value
                    FROM axis a LEFT JOIN gb g
                         ON g.event_type = a.event_type
                        AND g.bucket = a.bucket
                )
                SELECT event_type, window_start, n_events, sum_value,
                       last_value(sum_value IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY window_start
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW
                       ) AS sum_value_ff
                FROM filled
            )
            UNION ALL
            SELECT 'hopping' AS scope,
                   window_start,
                   window_start + INTERVAL 2 HOUR AS window_end,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                       AS sum_value,
                   NULL::BIGINT AS event_id,
                   NULL::BIGINT AS user_id,
                   NULL::BIGINT AS session_seq,
                   NULL::DOUBLE AS sum_value_ff
            FROM (
                SELECT event_type, value,
                       unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                               date_trunc('hour', ts)]) AS window_start
                FROM events
            ) GROUP BY 1, 2, 3, 4
            UNION ALL
            SELECT 'funnel' AS scope,
                   NULL::TIMESTAMP AS window_start,
                   NULL::TIMESTAMP AS window_end,
                   step AS event_type,
                   n_users AS n_events,
                   NULL::DOUBLE AS sum_value,
                   NULL::BIGINT AS event_id,
                   NULL::BIGINT AS user_id,
                   step_seq AS session_seq,
                   NULL::DOUBLE AS sum_value_ff
            FROM (
                WITH s1 AS (
                    SELECT user_id AS u, MIN(ts) AS t FROM events
                    WHERE event_type = 'view' GROUP BY 1
                ), s2 AS (
                    SELECT e.user_id AS u, MIN(e.ts) AS t
                    FROM events e JOIN s1 ON e.user_id = s1.u
                    WHERE e.event_type = 'click' AND e.ts > s1.t
                    GROUP BY 1
                ), s3 AS (
                    SELECT e.user_id AS u, MIN(e.ts) AS t
                    FROM events e JOIN s2 ON e.user_id = s2.u
                    WHERE e.event_type = 'purchase' AND e.ts > s2.t
                    GROUP BY 1
                )
                SELECT CAST(1 AS BIGINT) AS step_seq, 'view' AS step,
                       (SELECT COUNT(*) FROM s1) AS n_users
                UNION ALL
                SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
                UNION ALL
                SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
            )
            UNION ALL
            SELECT 'retention' AS scope,
                   cohort_week AS window_start,
                   NULL::TIMESTAMP AS window_end,
                   NULL::VARCHAR AS event_type,
                   n_users AS n_events,
                   NULL::DOUBLE AS sum_value,
                   NULL::BIGINT AS event_id,
                   NULL::BIGINT AS user_id,
                   week_offset AS session_seq,
                   NULL::DOUBLE AS sum_value_ff
            FROM (
                WITH fst AS (
                    SELECT user_id AS u,
                           date_trunc('week', MIN(ts)) AS cw
                    FROM events GROUP BY 1
                ), act AS (
                    SELECT DISTINCT user_id AS u,
                           date_trunc('week', ts) AS wk
                    FROM events
                )
                SELECT cw AS cohort_week,
                       CAST(date_diff('day', cw, wk) // 7 AS BIGINT)
                           AS week_offset,
                       COUNT(*) AS n_users
                FROM act JOIN fst USING (u)
                GROUP BY 1, 2
            )
        """,
    tag="scope",
    scopes=(
        "funnel", "gapfill", "hopping", "retention", "session", "tumbling",
    ),
    headline=True,
)
def q28_event_time_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time processing suite — both batch event-time shapes share
    one oracle-checked driver row (tagged union), ``scope``:

    - ``tumbling``: 1-hour tumbling-window count/sum per event type
      (operators/sessions.tumbling_window_agg; one groupBy(window, key)
      hash agg — the batch twin of the q40 streaming plan).
    - ``session``: sessionization (gaps-and-islands, 30-min inactivity
      gap) — per-user session sequence numbers via lag + running sum,
      one shuffle on the user key.
    - ``gapfill`` (r3): time-series gap fill
      (sessions.gapfill_hourly, the ``time_bucket_gapfill`` shape) —
      the dense hourly axis per event type between its first and last
      event, ``n_events = 0`` rows for the empty hours and
      ``sum_value_ff`` carrying the hourly sum forward. The dense
      axis is generated from a per-key (min,max) relation, never from
      raw events; the oracle rebuilds it with ``generate_series`` and
      an IGNORE NULLS window.
    - ``hopping`` (r3): 2-hour windows advancing hourly
      (sessions.hopping_window_agg — F.window with slideDuration;
      every event lands in exactly 2 windows, and the oracle
      replicates each event to its two hour-grid window starts).
    - ``funnel`` (r3): ordered funnel view→click→purchase
      (sessions.funnel_counts, first-touch anchoring: each stage
      anchors at the earliest event strictly after the previous
      stage's anchor). Column map: event_type=step,
      session_seq=step_seq, n_events=surviving users.
    - ``retention`` (r3): weekly cohort retention
      (sessions.cohort_retention) — users cohorted by the Monday-
      truncated week of their first event, distinct active users per
      (cohort_week, week_offset). Column map: window_start=
      cohort_week, session_seq=week_offset, n_events=n_users."""
    from lsdm_motogp_data_integration_spark.operators.sessions import (
        cohort_retention,
        funnel_counts,
        hopping_window_agg,
    )

    ev = read_table(spark, sf_dir, "events")
    # session, funnel and retention read only these four columns. Each
    # user-keyed operator plans its own exchange (ReusedExchange shares
    # identical ones): a shared, persisted user shuffle measured no
    # faster at sf0.1 on 4 cores, and nothing released its cache.
    ev_user = ev.select("event_id", "user_id", "ts", "event_type")
    fun = funnel_counts(ev_user, ["view", "click", "purchase"]).select(
        F.col("step").alias("event_type"),
        F.col("step_seq").alias("session_seq"),
        F.col("n_users").alias("n_events"),
    )
    ret = cohort_retention(ev_user).select(
        F.col("cohort_week").alias("window_start"),
        F.col("week_offset").alias("session_seq"),
        F.col("n_users").alias("n_events"),
    )
    return _suite_union(
        [
            ("window_start", "timestamp"),
            ("window_end", "timestamp"),
            ("event_type", "string"),
            ("n_events", "bigint"),
            ("sum_value", "double"),
            ("event_id", "bigint"),
            ("user_id", "bigint"),
            ("session_seq", "bigint"),
            ("sum_value_ff", "double"),
        ],
        ("tumbling", tumbling_window_agg(ev, window_size="1 hour")),
        (
            "session",
            sessionize(ev_user, gap_minutes=30).select(
                "event_id", "user_id", "session_seq"
            ),
        ),
        (
            "gapfill",
            gapfill_hourly(ev).select(
                "event_type",
                "window_start",
                "n_events",
                "sum_value",
                "sum_value_ff",
            ),
        ),
        (
            "hopping",
            hopping_window_agg(ev, window_size="2 hours", hop="1 hour"),
        ),
        ("funnel", fun),
        ("retention", ret),
    )


@query(
    oracle="""
            WITH ranked AS (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS BIGINT) AS rk
                FROM orders
            )
            SELECT 'topk' AS scope, o_custkey, o_orderkey, o_totalprice, rk,
                   CAST(NULL AS BIGINT) AS tile,
                   CAST(NULL AS DOUBLE) AS pr,
                   CAST(NULL AS DOUBLE) AS cd,
                   CAST(NULL AS DOUBLE) AS prev_price,
                   CAST(NULL AS DOUBLE) AS next_price
            FROM ranked WHERE rk <= 3
            UNION ALL
            SELECT 'winfuncs' AS scope, o_custkey, o_orderkey,
                   o_totalprice,
                   CAST(NULL AS BIGINT) AS rk,
                   CAST(NTILE(4) OVER w AS BIGINT) AS tile,
                   ROUND(PERCENT_RANK() OVER w, 6) AS pr,
                   ROUND(CUME_DIST() OVER w, 6) AS cd,
                   LAG(o_totalprice, 1) OVER w AS prev_price,
                   LEAD(o_totalprice, 1) OVER w AS next_price
            FROM orders
            WHERE o_custkey % 50 = 0
            WINDOW w AS (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC
            )
        """,
    tag="scope",
    scopes=("topk", "winfuncs"),
    headline=True,
)
def q30_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/window suite (tagged union, ``scope``):

    - ``topk``: top-K per group (generalizes the FuzzyMatch
      closervalue=Y best-match-per-row idiom, ``motogp.ktr:3038``):
      3 largest orders per customer.
    - ``winfuncs`` (r3): the rest of the analytic-window surface over
      the same total order (price desc, key asc) — ``ntile(4)``,
      ``percent_rank``, ``cume_dist`` (both rounded to 6dp; the
      (rank-1)/(n-1) division is IEEE-identical but rounding pins the
      serialization), ``lag``/``lead`` of the price. Restricted to
      every 50th customer — the filter is on the window PARTITION
      key, so Catalyst pushes it below the window and the pruned
      groups still compute exact in-group values."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    topk = (
        o.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )
    winfuncs = o.filter(F.col("o_custkey") % 50 == 0).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.ntile(4).over(w).cast("bigint").alias("tile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
    )
    return _suite_union(
        [
            ("o_custkey", "bigint"),
            ("o_orderkey", "bigint"),
            ("o_totalprice", "double"),
            ("rk", "bigint"),
            ("tile", "bigint"),
            ("pr", "double"),
            ("cd", "double"),
            ("prev_price", "double"),
            ("next_price", "double"),
        ],
        ("topk", topk),
        ("winfuncs", winfuncs),
    )


@query(
    oracle="""
            SELECT 'windowed' AS scope,
                   date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
                   NULL::BIGINT AS click_id,
                   NULL::BIGINT AS view_id,
                   NULL::BIGINT AS user_id,
                   NULL::BIGINT AS lag_s,
                   NULL::BIGINT AS first_event_id
            FROM events GROUP BY 2, 3, 4
            UNION ALL
            SELECT 'interval_join' AS scope,
                   NULL::TIMESTAMP, NULL::TIMESTAMP, NULL::VARCHAR,
                   NULL::BIGINT, NULL::DOUBLE,
                   c.event_id AS click_id,
                   v.event_id AS view_id,
                   c.user_id,
                   CAST((epoch_us(v.ts) - epoch_us(c.ts)) // 1000000
                        AS BIGINT) AS lag_s,
                   NULL::BIGINT
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id
             AND v.ts >= c.ts
             AND v.ts <= c.ts + INTERVAL 1 HOUR
            UNION ALL
            -- session_window replay: a new session starts when the
            -- event-time gap is >= 30 min (end-exclusive merge rule);
            -- session_end = last event + gap
            SELECT 'session' AS scope,
                   MIN(ts) AS window_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS window_end,
                   NULL::VARCHAR, COUNT(*) AS n_events, NULL::DOUBLE,
                   NULL::BIGINT, NULL::BIGINT,
                   user_id, NULL::BIGINT,
                   MIN(event_id) AS first_event_id
            FROM (
                SELECT *, SUM(nf) OVER (
                           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM (
                    SELECT event_id, user_id, ts,
                           CASE WHEN LAG(ts) OVER (
                                    PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                ) IS NULL
                                OR epoch_us(ts) - epoch_us(LAG(ts) OVER (
                                    PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                )) >= 1800000000
                           THEN 1 ELSE 0 END AS nf
                    FROM events
                )
            ) GROUP BY user_id, sid
            UNION ALL
            SELECT 'stateful' AS scope,
                   NULL::TIMESTAMP, NULL::TIMESTAMP, NULL::VARCHAR,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                       AS sum_value,
                   NULL::BIGINT, NULL::BIGINT, user_id,
                   NULL::BIGINT, NULL::BIGINT
            FROM events GROUP BY user_id
            UNION ALL
            SELECT 'foreach_sink' AS scope,
                   NULL::TIMESTAMP, NULL::TIMESTAMP, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                       AS sum_value,
                   NULL::BIGINT, NULL::BIGINT, NULL::BIGINT,
                   NULL::BIGINT, NULL::BIGINT
            FROM events GROUP BY event_type
            UNION ALL
            SELECT DISTINCT 'stream_dedup' AS scope,
                   NULL::TIMESTAMP, NULL::TIMESTAMP, event_type,
                   NULL::BIGINT, NULL::DOUBLE,
                   NULL::BIGINT, NULL::BIGINT, user_id,
                   NULL::BIGINT, NULL::BIGINT
            FROM events
        """,
    tag="scope",
    scopes=(
        "foreach_sink", "interval_join", "session", "stateful", "stream_dedup",
        "windowed",
    ),
)
def q40_streaming_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end suite (SURVEY §2.11 stretch) —
    the ENTIRE streaming module runs as real streaming plans drained
    with availableNow triggers, sharing one oracle-checked driver row
    (tagged union), ``scope``:

    - ``windowed``: file stream → watermark → tumbling window agg.
      Complete-mode output on bounded input equals the batch q28 plan.
    - ``interval_join``: watermarked stream-stream interval join
      (streaming.interval_join_streams) — every click joined to the
      same user's views within the following hour (click-to-impression
      attribution). Both sides carry watermarks and the join condition
      bounds event-time distance, so state expires; on bounded input
      the inner join emits exactly the batch interval-join result,
      which is what the DuckDB oracle computes.
    - ``session``: stateful sessionization via ``session_window``
      (streaming.session_windows, 30-min gap; session bounds reuse the
      window_start/window_end columns). The oracle replays the merge
      rule in SQL — a new session starts when the event-time gap is
      ≥ the gap (session_window's end-exclusive semantics; note the
      batch q28 ``sessionize`` uses > — both rules are driver-pinned).
    - ``stateful``: custom state via ``applyInPandasWithState``
      (streaming.stateful_user_totals) — per-user running totals.
      Update mode emits one row per user per micro-batch; the final
      totals are selected batch-count-independently as the row with
      the highest n_events (monotone per user), so the result is the
      plain per-user aggregate the oracle computes.
    - ``foreach_sink``: exactly-once-style file sink
      (streaming.write_stream_foreach_batch, idempotent per batch id)
      — events stream → parquet batch dirs → read back → aggregate;
      the oracle aggregates the source directly, so a lost/duplicated
      batch fails the hash.
    - ``stream_dedup``: streaming exact dedup
      (streaming.streaming_dedup, dropDuplicatesWithinWatermark on
      (user_id, event_type)). The emitted row's non-key columns are
      arrival-order dependent, so the scope projects ONLY the key —
      making the bounded-drain output exactly the distinct key set the
      oracle computes, batch-split-independent for keys within the
      watermark horizon."""
    import tempfile
    import uuid

    from lsdm_motogp_data_integration_spark.streaming import (
        interval_join_streams,
        read_event_stream,
        run_stream_to_memory,
        session_windows,
        stateful_user_totals,
        streaming_dedup,
        windowed_counts,
        write_stream_foreach_batch,
    )

    stream = windowed_counts(
        read_event_stream(spark, f"{sf_dir}/events.parquet"),
        window_size="1 hour",
        watermark="2 hours",
    )
    name = f"q40_out_{uuid.uuid4().hex[:8]}"
    windowed = run_stream_to_memory(
        spark, stream, name, output_mode="complete"
    )

    clicks = (
        read_event_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"), "user_id", "ts"
        )
    )
    views = (
        read_event_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("ts_r"),
        )
    )
    joined = interval_join_streams(
        clicks, views, "user_id", left_ts="ts", right_ts="ts_r",
        watermark="2 hours", within="1 hour",
    ).select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_micros("ts_r") - F.unix_micros("ts")).alias("lag_us"),
    )
    name2 = f"q40_ij_{uuid.uuid4().hex[:8]}"
    attribution = run_stream_to_memory(
        spark, joined, name2, output_mode="append"
    ).select(
        "click_id",
        "view_id",
        "user_id",
        (F.col("lag_us") / F.lit(1000000)).cast("bigint").alias("lag_s"),
    )

    sessions = run_stream_to_memory(
        spark,
        session_windows(
            read_event_stream(spark, f"{sf_dir}/events.parquet"),
            gap="30 minutes",
        ),
        f"q40_sw_{uuid.uuid4().hex[:8]}",
        output_mode="complete",
    ).select(
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        "user_id",
        "n_events",
        "first_event_id",
    )

    stateful = (
        run_stream_to_memory(
            spark,
            stateful_user_totals(
                read_event_stream(spark, f"{sf_dir}/events.parquet").select(
                    "user_id",
                    # decimal(18,6)-quantized micro-units as INTEGERS:
                    # the Python state accumulates int64 exactly (order-
                    # free, < 2^53), so the total is bit-identical to
                    # the oracle's decimal sum regardless of batch
                    # splits — raw float accumulation would be
                    # arrival-order dependent (the repo's decimal-sum
                    # convention, applied across the state boundary)
                    (
                        F.col("value").cast("decimal(38,6)")
                        * F.lit(1_000_000)
                    )
                    .cast("long")
                    .alias("value"),
                )
            ),
            f"q40_st_{uuid.uuid4().hex[:8]}",
            output_mode="update",
        )
        # one row per user per micro-batch; n_events is strictly
        # increasing per user, so max(struct) picks the final totals
        # regardless of how availableNow split the input
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("__m"))
        .select(
            "user_id",
            F.col("__m.n_events").alias("n_events"),
            # one IEEE division of an exact integer == the oracle's
            # decimal -> double cast; no rounding needed
            (F.col("__m.sum_value") / F.lit(1_000_000.0)).alias(
                "sum_value"
            ),
        )
    )

    sink_dir = tempfile.mkdtemp(prefix="q40_fb_out_")
    write_stream_foreach_batch(
        read_event_stream(spark, f"{sf_dir}/events.parquet").select(
            "event_id", "event_type", "value"
        ),
        sink_dir,
        checkpoint_dir=tempfile.mkdtemp(prefix="q40_fb_ckpt_"),
    )
    roundtrip = (
        spark.read.parquet(sink_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum("value", "sum_value"),
        )
    )

    deduped_keys = run_stream_to_memory(
        spark,
        streaming_dedup(
            read_event_stream(spark, f"{sf_dir}/events.parquet"),
            ["user_id", "event_type"],
        ).select("user_id", "event_type"),
        f"q40_dd_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )

    return _suite_union(
        [
            ("window_start", "timestamp"),
            ("window_end", "timestamp"),
            ("event_type", "string"),
            ("n_events", "bigint"),
            ("sum_value", "double"),
            ("click_id", "bigint"),
            ("view_id", "bigint"),
            ("user_id", "bigint"),
            ("lag_s", "bigint"),
            ("first_event_id", "bigint"),
        ],
        ("windowed", windowed),
        ("interval_join", attribution),
        ("session", sessions),
        ("stateful", stateful),
        ("foreach_sink", roundtrip),
        ("stream_dedup", deduped_keys),
    )
