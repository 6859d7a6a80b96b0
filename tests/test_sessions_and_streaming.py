"""Sessionization (batch) and Structured Streaming variants."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.operators.sessions import (
    sessionize,
    tumbling_window_agg,
)
from lsdm_motogp_data_integration_spark.sources import read_table
from lsdm_motogp_data_integration_spark.streaming import (
    read_event_stream,
    run_stream_to_memory,
    session_windows,
    stateful_user_totals,
    windowed_counts,
    write_stream_foreach_batch,
)


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 10, minute)


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, 100, _ts(0)),
        (2, 100, _ts(10)),   # same session (gap 10m)
        (3, 100, _ts(50)),   # new session (gap 40m > 30m)
        (4, 200, _ts(0)),    # other user: own numbering
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_streaming_window_matches_batch(spark, sf_dir):
    batch = tumbling_window_agg(
        read_table(spark, sf_dir, "events"), window_size="1 hour"
    )
    stream = windowed_counts(
        read_event_stream(spark, f"{sf_dir}/events.parquet"),
        window_size="1 hour",
        watermark="2 hours",
    )
    got = run_stream_to_memory(spark, stream, "win_counts", output_mode="complete")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in got.collect()}
    assert b == s  # bounded input: nothing late, results coincide


def test_stateful_user_totals(spark, sf_dir):
    """applyInPandasWithState running totals must equal the batch
    groupBy aggregation once the bounded stream is drained."""
    stream = stateful_user_totals(
        read_event_stream(spark, f"{sf_dir}/events.parquet")
    )
    got = run_stream_to_memory(
        spark, stream, "user_totals", output_mode="update"
    )
    # update mode may emit several rows per user (one per micro-batch);
    # the final state per user is the max-n row
    final = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
        for r in got.orderBy("n_events").collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert final == batch


def test_foreach_batch_sink(spark, sf_dir, tmp_path_factory):
    """foreachBatch parquet sink: all input rows land exactly once; a
    re-run against the same checkpoint writes nothing new (the batch
    was already committed)."""
    out = str(tmp_path_factory.mktemp("fb_out"))
    ckpt = str(tmp_path_factory.mktemp("fb_ckpt"))
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    write_stream_foreach_batch(stream, out, checkpoint_dir=ckpt)
    got = spark.read.parquet(out)
    expected = read_table(spark, sf_dir, "events").count()
    assert got.count() == expected
    # idempotent replay: same checkpoint -> no new input -> unchanged
    write_stream_foreach_batch(stream, out, checkpoint_dir=ckpt)
    assert spark.read.parquet(out).count() == expected


def test_streaming_session_window(spark, sf_dir):
    stream = session_windows(
        read_event_stream(spark, f"{sf_dir}/events.parquet"), gap="30 minutes"
    )
    got = run_stream_to_memory(
        spark, stream, "sess_win", output_mode="complete"
    ).collect()
    assert len(got) > 0
    for r in got:
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path_factory):
    """Duplicated stream input → one row per key after
    dropDuplicatesWithinWatermark (bounded state)."""
    import uuid

    from pyspark.sql import functions as F

    from lsdm_motogp_data_integration_spark.streaming import (
        read_event_stream,
        run_stream_to_memory,
        streaming_dedup,
    )

    src = str(tmp_path_factory.mktemp("dupstream"))
    # the stream source reads the RAW layout (ts = nano-epoch long)
    ev = (
        read_table(spark, sf_dir, "events")
        .limit(200)
        .withColumn("ts", (F.unix_micros("ts") * 1000).cast("long"))
    )
    doubled = ev.unionByName(ev)  # every event twice
    doubled.write.mode("overwrite").parquet(src)
    stream = streaming_dedup(
        read_event_stream(spark, src), ["event_id"], watermark="1 day"
    ).select("event_id")
    name = f"dedup_out_{uuid.uuid4().hex[:8]}"
    out = run_stream_to_memory(spark, stream, name, output_mode="append")
    assert out.count() == ev.select("event_id").distinct().count()


def test_grouped_zscore_window_equals_pandas_surface(spark, sf_dir):
    """The JVM-window z-score fast path must agree with q38's
    applyInPandas grouped-map surface cell-for-cell."""
    from lsdm_motogp_data_integration_spark.operators.sessions import (
        grouped_zscore_window,
    )
    from lsdm_motogp_data_integration_spark.queries.capabilities import (
        q38_grouped_zscore,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    fast = {
        (r["event_id"], r["zscore"])
        for r in grouped_zscore_window(
            ev, "user_id", "value", "event_id"
        ).collect()
    }
    surface = {
        (r["event_id"], r["zscore"])
        for r in q38_grouped_zscore(spark, sf_dir).collect()
    }
    assert fast == surface


def test_interval_join_streams_matches_batch(spark, sf_dir, tmp_path_factory):
    """Stream-stream interval join on bounded input equals the batch
    interval join: error events joined to same-user events within the
    following 30 minutes."""
    import uuid

    from lsdm_motogp_data_integration_spark.streaming import (
        interval_join_streams,
        read_event_stream,
        run_stream_to_memory,
    )

    path = f"{sf_dir}/events.parquet"
    left_s = read_event_stream(spark, path).filter(
        F.col("event_type") == "error"
    ).select(F.col("user_id").alias("user_id"),
             F.col("event_id").alias("error_id"), "ts")
    right_s = read_event_stream(spark, path).select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("other_id"),
        F.col("ts").alias("ts_r"),
    )
    joined = interval_join_streams(
        left_s, right_s, "user_id",
        watermark="1 day", within="30 minutes",
    ).select("error_id", "other_id")
    name = f"ij_{uuid.uuid4().hex[:8]}"
    got = {
        (r["error_id"], r["other_id"])
        for r in run_stream_to_memory(
            spark, joined, name, output_mode="append"
        ).collect()
    }

    ev = read_table(spark, sf_dir, "events")
    left_b = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("error_id"),
        F.col("ts").alias("lts"),
    )
    right_b = ev.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("other_id"), F.col("ts").alias("rts"),
    )
    batch = {
        (r["error_id"], r["other_id"])
        for r in left_b.join(
            right_b,
            (F.col("u") == F.col("u2"))
            & (F.col("rts") >= F.col("lts"))
            & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert got == batch


def test_gapfill_hourly_dense_axis_and_locf(spark):
    """Empty interior hours appear with n_events=0; sum_value_ff
    carries the last observed hourly sum across the gap; the axis is
    per-key (no key sees hours outside its own [min, max])."""
    from datetime import datetime

    from lsdm_motogp_data_integration_spark.operators.sessions import (
        gapfill_hourly,
    )

    rows = [
        # type A: 10:00 (two events), 13:00 — hours 11,12 are gaps
        (1, datetime(2024, 1, 1, 10, 5), "A", 2.0),
        (2, datetime(2024, 1, 1, 10, 50), "A", 3.0),
        (3, datetime(2024, 1, 1, 13, 1), "A", 7.0),
        # type B: single hour — no gaps, single-row axis
        (4, datetime(2024, 1, 1, 22, 0), "B", 1.5),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string, value double"
    )
    out = {
        (r["event_type"], r["window_start"].hour): r
        for r in gapfill_hourly(ev).collect()
    }
    assert set(out) == {("A", 10), ("A", 11), ("A", 12), ("A", 13), ("B", 22)}
    assert out[("A", 10)]["n_events"] == 2
    assert out[("A", 10)]["sum_value"] == 5.0
    for h in (11, 12):
        gap = out[("A", h)]
        assert gap["n_events"] == 0
        assert gap["sum_value"] is None
        assert gap["sum_value_ff"] == 5.0  # carried from 10:00
    assert out[("A", 13)]["sum_value_ff"] == 7.0
    assert out[("B", 22)]["n_events"] == 1


# ---------------------------------------------------------------------------
# Funnel / cohort retention (operators/sessions, r3)
# ---------------------------------------------------------------------------


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )


def test_funnel_counts_hand_case(spark):
    """u1 completes the whole funnel; u2's only click precedes their
    first view (order matters); u3 stops before purchase; u4's
    purchase without a view never counts."""
    from datetime import datetime as dt

    from lsdm_motogp_data_integration_spark.operators.sessions import (
        funnel_counts,
    )

    rows = [
        (1, dt(2024, 1, 1, 10), "view"),
        (1, dt(2024, 1, 1, 11), "click"),
        (1, dt(2024, 1, 1, 12), "purchase"),
        (2, dt(2024, 1, 1, 9), "click"),
        (2, dt(2024, 1, 1, 10), "view"),
        (3, dt(2024, 1, 2, 10), "view"),
        (3, dt(2024, 1, 2, 11), "click"),
        (4, dt(2024, 1, 3, 10), "purchase"),
    ]
    out = funnel_counts(_ev(spark, rows), ["view", "click", "purchase"])
    got = {r["step"]: (r["step_seq"], r["n_users"]) for r in out.collect()}
    assert got == {"view": (1, 3), "click": (2, 2), "purchase": (3, 1)}


def test_funnel_strictly_after_anchor(spark):
    """A later-stage event at EXACTLY the anchor timestamp does not
    count (strict >) — simultaneous batch imports must not convert."""
    from datetime import datetime as dt

    from lsdm_motogp_data_integration_spark.operators.sessions import (
        funnel_counts,
    )

    rows = [
        (1, dt(2024, 1, 1, 10), "view"),
        (1, dt(2024, 1, 1, 10), "click"),
    ]
    out = funnel_counts(_ev(spark, rows), ["view", "click"])
    got = {r["step"]: r["n_users"] for r in out.collect()}
    assert got == {"view": 1, "click": 0}


def test_cohort_retention_hand_case(spark):
    """2024-01-01 is a Monday. u1 cohorts at W0, active W0+W2; u2
    cohorts at W1, active W1 only; offset-0 rows equal cohort size."""
    from datetime import datetime as dt

    from lsdm_motogp_data_integration_spark.operators.sessions import (
        cohort_retention,
    )

    rows = [
        (1, dt(2024, 1, 2, 10), "view"),     # W0 (wk of Jan 1)
        (1, dt(2024, 1, 3, 11), "click"),    # W0 again (one distinct)
        (1, dt(2024, 1, 16, 10), "view"),    # W2
        (2, dt(2024, 1, 10, 10), "view"),    # W1
    ]
    out = cohort_retention(_ev(spark, rows))
    got = {
        (r["cohort_week"].strftime("%Y-%m-%d"), r["week_offset"]): r[
            "n_users"
        ]
        for r in out.collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_hopping_window_each_event_in_two_windows(spark):
    """2h windows hopping hourly: an event at 10:30 lands in the
    [09:00,11:00) and [10:00,12:00) windows, with the same decimal-
    exact sum in each containing window."""
    from datetime import datetime as dt

    from lsdm_motogp_data_integration_spark.operators.sessions import (
        hopping_window_agg,
    )

    ev = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 30), "view", 2.5)],
        "user_id bigint, ts timestamp, event_type string, value double",
    )
    out = hopping_window_agg(ev, window_size="2 hours", hop="1 hour")
    got = sorted(
        (r["window_start"].hour, r["n_events"], r["sum_value"])
        for r in out.collect()
    )
    assert got == [(9, 1, 2.5), (10, 1, 2.5)]
