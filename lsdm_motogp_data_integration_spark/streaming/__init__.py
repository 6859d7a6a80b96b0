"""Structured Streaming variants of the event pipelines.

The reference is batch-only (SURVEY.md §2.11); per the scale goal the
same event transformations are exposed as streaming plans: file-source
stream → watermark → windowed aggregate / stateful sessionization →
sink. Tests drive these with ``availableNow`` + memory sink so a bounded
parquet directory exercises the full streaming machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source event stream with event-time timestamp column.

    ``path`` may be a directory or a single parquet file (the streaming
    file source only accepts directories, so a file path becomes its
    parent directory plus a glob filter).

    The streaming file source requires a declared schema: it is read
    from the parquet footer by ``sources.parquet_schema``, the same
    declaration ``sources.read_table`` uses (TIMESTAMP(NANOS) ``ts``
    surfaces as ``bigint`` under the legacy nanos-as-long flag, set
    only when the footer carries NANOS), and ``ts`` is converted to a
    microsecond timestamp after the scan."""
    import os

    from lsdm_motogp_data_integration_spark.sources import (
        normalize_event_ts,
        parquet_schema,
    )

    reader = spark.readStream.schema(parquet_schema(spark, path)).format(
        "parquet"
    )
    # the single-FILE branch must check the filesystem, not the name
    # suffix (a Spark-written DATASET directory is often *.parquet),
    # and the glob filter must escape glob metacharacters or a name
    # like events[v2].parquet silently matches nothing.
    # os.path.isfile only answers for LOCAL paths — for a URI-scheme
    # path (hdfs://, s3a://) ask the JVM Hadoop FileSystem instead, so
    # a remote single-file path still gets the glob-filter workaround
    def _is_file(p: str) -> bool:
        scheme = p.split("://", 1)[0] if "://" in p else ""
        if scheme in ("", "file"):
            return os.path.isfile(p.split("://", 1)[-1] if scheme else p)
        jvm = spark._jvm
        jsc = spark._jsc
        hpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        return fs.exists(hpath) and fs.getFileStatus(hpath).isFile()

    if _is_file(path):
        base = os.path.basename(path)
        escaped = "".join(
            "\\" + ch if ch in r"\[]{}*?" else ch for ch in base
        )
        reader = reader.option("pathGlobFilter", escaped)
        path = os.path.dirname(path) or "."
    raw = reader.load(path)
    # shared with sources.read_table so batch and stream cannot drift
    return normalize_event_ts(raw)


def windowed_counts(
    events: DataFrame,
    *,
    window_size: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window count/sum per event_type — the
    streaming form of ``operators.sessions.tumbling_window_agg`` (late
    data beyond the watermark is dropped; in batch mode nothing is
    late, so results coincide on bounded input)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size).alias("__w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful sessionization via ``session_window`` — per (user,
    session) event counts and bounds. The streaming analogue of the
    batch gaps-and-islands ``operators.sessions.sessionize``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("__s"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
        )
        .select(
            F.col("__s.start").alias("session_start"),
            F.col("__s.end").alias("session_end"),
            "user_id",
            "n_events",
            "first_event_id",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running totals that survive across micro-batches (state =
    (n_events, sum_value)). Emits one row per user per micro-batch with
    the cumulative values — the arbitrary-state escape hatch for
    operators ``groupBy().agg()`` can't express (e.g. conditional
    resets, decaying counters)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    output_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    *,
    watermark: str = "2 hours",
    time_col: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication: drop repeats of ``key_cols``
    arriving within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — state is bounded by the
    watermark, unlike a plain dropDuplicates on a stream whose state
    grows forever). The streaming half of ``dedup.exact_dedup`` for a
    continuously-ingested corpus: key on the content digest upstream
    and duplicates within the late-data horizon are emitted once."""
    return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts_r",
    watermark: str = "2 hours",
    within: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event joins
    right events of the same key whose time falls in
    [left_ts, left_ts + within] — the click-to-impression attribution
    shape. Both sides carry watermarks and the join condition bounds
    event-time distance, so Spark can expire buffered state (an
    unbounded stream-stream join would hold both streams forever).
    Column names must be pre-disambiguated (left_ts vs right_ts)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[on])


def write_stream_foreach_batch(
    stream_df: DataFrame,
    out_dir: str,
    *,
    checkpoint_dir: str,
    mode: str = "append",
) -> None:
    """Exactly-once-style file sink via ``foreachBatch``: each
    micro-batch lands in ``out_dir/batch_id=N`` (idempotent per batch
    id — a replayed batch overwrites its own directory, never
    duplicates), with progress tracked in the checkpoint. Drains the
    available input and returns."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        )

    q = (
        stream_df.writeStream.outputMode(mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    query_name: str,
    *,
    output_mode: str,
) -> DataFrame:
    """Drive a (bounded) streaming plan to completion with an
    availableNow trigger and a memory sink; returns the materialized
    result as a batch DataFrame.

    ``output_mode`` is deliberately REQUIRED: defaulting to append
    silently drops every window still inside the watermark horizon at
    end-of-input (windowed/session aggregates need ``complete``), and
    that omission looks exactly like correct output."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
