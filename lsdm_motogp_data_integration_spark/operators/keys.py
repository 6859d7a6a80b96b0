"""Surrogate-key generation.

The reference draws surrogate keys from six in-memory Kettle Sequence
steps (start 1, increment 1 — ``motogp.ktr:1203-1343``) and one
Postgres-backed sequence with a per-batch JDBC round-trip
(``motogp.ktr:8756-8790``). Both are inherently serial. Here keys are
dense, deterministic ``1..N`` integers assigned by order — no DB, no
serial counter:

- :func:`add_surrogate_key` — global ``row_number()`` window. Exact and
  simple; the global sort runs on a single partition, which is the right
  trade for dimension-sized inputs (the reference's sequences number
  68-2,704-row dims) but NOT for fact tables.
- :func:`add_surrogate_key_distributed` — two-phase scalable variant for
  fact-scale data: range-repartition by the order key, sort within each
  partition, take partition-local positions from
  ``monotonically_increasing_id()``, then add per-partition offsets
  computed from partition counts (the same scheme as
  ``RDD.zipWithIndex``, kept in DataFrame land). Output is identical to
  the global window when the order key is unique. Under AQE a call runs
  six eager jobs: range sampling, the range shuffle, the cache build,
  the count's aggregate and result, and the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cols(order_by: list[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def add_surrogate_key(
    df: DataFrame, name: str, order_by: list[Column | str]
) -> DataFrame:
    """Dense 1..N key by ``row_number()`` over a global ordering.

    Use for dimension-sized inputs only — the unpartitioned window is a
    deliberate single-partition sort.
    """
    w = Window.orderBy(*_cols(order_by))
    return df.withColumn(name, F.row_number().over(w).cast("bigint"))


def add_surrogate_key_distributed(
    df: DataFrame,
    name: str,
    order_by: list[Column | str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 1..N key without a global single-partition sort.

    Phase 1: range-repartition on the order key so partition *i* holds
    globally smaller keys than partition *i+1*, sort each partition,
    and stamp every row with one ``monotonically_increasing_id()`` —
    partition id in the high bits, sorted position in the low 33.
    Phase 2: one tiny job counts rows per partition; cumulative offsets
    (driver-side, O(#partitions)) are added back as a literal map.
    Equivalent to ``row_number() OVER (ORDER BY ...)`` for unique order
    keys, but every phase is data-parallel and nothing re-shuffles the
    range partitions.
    """
    cols = _cols(order_by)
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        # persist so the count job and the main job see one consistent
        # range partitioning (range boundaries come from sampling)
        .persist()
    )
    pid = F.shiftright(F.col("__mid"), 33).cast("int")
    # try/finally: the count collect and the checkpoint run driver jobs
    # between persist and unpersist — an exception there (job killed,
    # OOM on a task, bad column) must not leak executor storage
    try:
        counts = ranged.groupBy(pid.alias("__pid")).count().collect()
        kv: list[Column] = []
        acc = 0
        # ordered on the driver: O(#partitions) rows need no sort job
        for row in sorted(counts, key=lambda r: r["__pid"]):
            kv.append(F.lit(row["__pid"]))
            kv.append(F.lit(acc))
            acc += row["count"]
        offset_of = F.create_map(*kv)
        result = ranged.withColumn(
            name,
            F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
            + 1
            + offset_of[pid],
        ).drop("__mid")
        # Materialize the keyed output, then release the persisted range
        # partitioning — otherwise repeated calls in a long-lived session
        # leak executor storage. Prefer a RELIABLE checkpoint when the
        # session has a checkpoint dir (localCheckpoint blocks die with
        # their executor — a post-checkpoint executor loss would make the
        # returned fact-scale DataFrame unrecoverable); local remains the
        # zero-config default, reclaimed by the ContextCleaner once the
        # returned DataFrame is garbage-collected.
        if df.sparkSession.sparkContext.getCheckpointDir():
            return result.checkpoint(eager=True)
        return result.localCheckpoint(eager=True)
    finally:
        ranged.unpersist()


def _shard_hash(id_col: str, salt: str) -> Column:
    # coalesce null ids into a sentinel: md5 of a NULL concat is NULL,
    # which would assign shard=NULL — outside the 0..n_shards-1
    # contract and a surprise __HIVE_DEFAULT_PARTITION__ at write time
    return F.md5(
        F.concat(
            F.lit(f"{salt}|"),
            F.coalesce(F.col(id_col).cast("string"), F.lit("__null__")),
        )
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    *,
    n_shards: int = 8,
    salt: str = "shuf",
    fmt: str = "parquet",
) -> None:
    """Materialize :func:`training_shards` as the actual on-disk export
    a trainer consumes: one ``shard=<k>/`` directory per shard, rows
    written in their deterministic ``pos`` order (``fmt``: ``parquet``
    or ``json`` lines).

    Scale shape — exactly the shuffle the assignment needs anyway: one
    hash repartition on ``shard`` (so each shard is one writer task's
    partition — no cross-file interleaving) + an in-partition external
    sort on ``pos``. No global sort, no driver collection; at 100 TB
    pick ``n_shards`` ≥ cluster cores and each writer streams one
    ~corpus/n_shards slice."""
    sharded = training_shards(df, id_col, n_shards=n_shards, salt=salt)
    writer = (
        # repartitionByRange, NOT hash repartition: hashing k shard
        # values into k partitions collides near-certainly (some
        # writers get 2-3 shards, others none); range partitioning on
        # the dense 0..n_shards-1 key gives the documented 1:1
        # shard-to-writer layout (same choice as
        # add_surrogate_key_distributed above)
        sharded.repartitionByRange(int(n_shards), F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported shard format: {fmt!r}")


def training_shards(
    df: DataFrame,
    id_col: str,
    *,
    n_shards: int = 8,
    salt: str = "shuf",
    order_col: str | None = None,
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    export: the step that turns a curated corpus into N pseudo-randomly
    ordered shard files. No RNG — a row's shard and its position inside
    the shard derive from ``md5(salt|id)``, so the training order is
    reproducible across runs, engines, executor counts, and input
    order (the property ``orderBy(rand())`` famously lacks under
    retries).

    - ``shard`` = first 8 md5 hex chars as int, mod ``n_shards`` — a
      uniform, portable bucket (same '0x'-cast idiom as the MotoGP
      synthetic fact keys).
    - ``pos``   = row_number within the shard ordered by the full hex
      digest (id tie-break), 0-based — the write order of the shard.

    Scale shape: one hash-partition shuffle on ``shard`` plus a
    per-shard sort — exactly the shuffle a shard writer needs anyway
    (repartition(shard) + sortWithinPartitions before write), expressed
    as a window so the position is a queryable column. Parallelism is
    bounded by ``n_shards``: pick n_shards ≥ cluster cores at scale
    (1024 shards ≈ 100 GB/shard at 100 TB — a per-reducer external
    sort, not a global one)."""
    # (null-id sentinel lives in _shard_hash; as with duplicate ids,
    # the in-shard order among equal-key rows is tie-broken
    # arbitrarily — unique ids give the full determinism guarantee)
    h = _shard_hash(id_col, salt)
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
        % F.lit(int(n_shards))
    ).cast("bigint")
    tagged = df.withColumn("__h", h).withColumn("shard", shard)
    order = [F.col("__h").asc(), F.col(id_col).asc()]
    if order_col is not None:
        order = [F.col(order_col).asc()] + order
    w = Window.partitionBy("shard").orderBy(*order)
    return (
        tagged.withColumn(
            "pos", (F.row_number().over(w) - F.lit(1)).cast("bigint")
        )
        .drop("__h")
    )


def shard_manifest(
    df: DataFrame,
    id_col: str,
    *,
    n_shards: int = 8,
    salt: str = "shuf",
    token_col: str | None = None,
) -> DataFrame:
    """Per-shard manifest of the :func:`training_shards` assignment —
    the small relation a training loader reads to plan an epoch
    (doc/token counts per shard, deterministic content fingerprint)
    WITHOUT scanning the shard files themselves. At 100 TB the
    manifest is ``n_shards`` rows against terabytes of shards; write
    it next to the export and loaders bootstrap from it.

    Columns: ``shard``, ``n_docs``, ``n_tokens`` (sum of
    ``token_col``, NULL-as-0; omitted when ``token_col`` is None) and
    ``ids_fingerprint`` — BIT_XOR of ``xxhash64(id)``, an
    ORDER-INDEPENDENT content digest (the same rows give the same
    fingerprint under any partitioning/arrival order, and any
    added/removed/substituted id flips it with overwhelming
    probability; XOR is commutative+associative so it aggregates
    map-side). Both the assignment and the fingerprint are engine-
    portable (md5 bucketing, xxhash64 — DuckDB-replayable).

    One hash-aggregate on the shard key — no sort, no window: the
    manifest deliberately does NOT depend on the in-shard order, so
    it can be recomputed from the source relation OR from the written
    shards and must agree (pinned by test)."""
    sharded = training_shards(df, id_col, n_shards=n_shards, salt=salt)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.bit_xor(F.xxhash64(F.col(id_col))).alias("ids_fingerprint"),
    ]
    if token_col is not None:
        aggs.insert(
            1,
            F.sum(F.coalesce(F.col(token_col), F.lit(0)))
            .cast("bigint")
            .alias("n_tokens"),
        )
    return sharded.groupBy("shard").agg(*aggs).orderBy("shard")
