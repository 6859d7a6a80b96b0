"""Single-pass column profiling (dataset-card statistics).

Every curation pipeline ends with a data card: per-column row/null/
distinct counts and value ranges over the final corpus.  This operator
computes the whole profile in ONE aggregation pass over the input —
every metric for every column is an aggregate expression in a single
``agg`` (one scan, partial aggregation map-side) — then pivots the
1-row result into one row per column with a driver-free explode of an
O(#columns) struct array.

Scale notes:

- exact distinct counts for k columns expand the aggregate input k+1
  ways (Spark's multi-count-distinct Expand); that is the inherent
  price of exactness.  ``exact_distinct=False`` switches to
  ``approx_count_distinct`` (HLL, single pass, no expand) — the right
  default at 100 TB, while exact mode serves the oracle contract.
- numeric ranges/means follow the repo's decimal-quantized float
  convention so the profile is bit-comparable across engines.

No counterpart in the reference (ktr pipelines end at table sinks);
part of the training-data-pipeline surface (SURVEY.md §7 step 9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    *,
    exact_distinct: bool = True,
) -> DataFrame:
    """Profile ``cols`` (default: every column) in one aggregation.

    Returns one row per column:
    ``(column, dtype, n_rows, n_nulls, n_distinct,
    min_num, max_num, mean_num, min_str, max_str)`` —
    numeric metrics are null for non-numeric columns and vice versa;
    ``n_distinct`` counts non-null values (exact by default, HLL
    approximation with ``exact_distinct=False``); numeric extremes and
    the mean go through ``DECIMAL(38,6)`` → ``DOUBLE`` so their
    serialized representation is engine-stable.

    Overflow bound: the mean's decimal accumulator holds 32 integer
    digits, so it is exact while ``n_rows · max|v| < 1e32`` (e.g. 1e13
    rows of full-range BIGINTs overflow it); past that the mean for
    the offending column degrades to NULL (``try_sum``) rather than
    failing the whole profile under ANSI mode.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    if cols is None:
        cols = [f.name for f in df.schema.fields]
    unknown = [c for c in cols if c not in fields]
    if unknown:
        raise ValueError(f"unknown columns: {unknown}")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs.append(
            F.sum(col.isNull().cast("long")).alias(f"__nulls_{i}")
        )
        aggs.append(
            (
                F.count_distinct(col)
                if exact_distinct
                else F.approx_count_distinct(c)
            ).alias(f"__dist_{i}")
        )
        if isinstance(fields[c], _NUMERIC):
            # (38,6), not the repo's usual (18,6): a BIGINT near its max
            # (9.2e18) overflows 12 integer digits, and ANSI mode makes
            # that an ERROR on the scan, not a null
            dec = col.cast("decimal(38,6)")
            aggs.append(
                F.min(dec).cast("double").alias(f"__min_{i}")
            )
            aggs.append(
                F.max(dec).cast("double").alias(f"__max_{i}")
            )
            # decimal-exact mean over NON-NULL values (0 non-null ->
            # null). try_sum, not sum: the running SUM keeps the input's
            # decimal(38,6) type, so n·|v| ≥ 1e32 overflows the
            # accumulator — try_sum degrades that corner to a NULL mean
            # for the one column instead of (under ANSI) failing the
            # whole one-pass profile
            aggs.append(
                (F.try_sum(dec) / F.count(col))
                .cast("double")
                .alias(f"__mean_{i}")
            )
        else:
            scol = col.cast("string")
            aggs.append(F.min(scol).alias(f"__min_{i}"))
            aggs.append(F.max(scol).alias(f"__max_{i}"))

    one = df.agg(*aggs)

    structs = []
    for i, c in enumerate(cols):
        numeric = isinstance(fields[c], _NUMERIC)
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(fields[c].simpleString()).alias("dtype"),
                F.col("__n").cast("bigint").alias("n_rows"),
                F.col(f"__nulls_{i}").cast("bigint").alias("n_nulls"),
                F.col(f"__dist_{i}").cast("bigint").alias("n_distinct"),
                (
                    F.col(f"__min_{i}")
                    if numeric
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"__max_{i}")
                    if numeric
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (
                    F.col(f"__mean_{i}")
                    if numeric
                    else F.lit(None).cast("double")
                ).alias("mean_num"),
                (
                    F.lit(None).cast("string")
                    if numeric
                    else F.col(f"__min_{i}")
                ).alias("min_str"),
                (
                    F.lit(None).cast("string")
                    if numeric
                    else F.col(f"__max_{i}")
                ).alias("max_str"),
            )
        )
    return one.select(
        F.explode(F.array(*structs)).alias("p")
    ).select("p.*")


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    content_col: str,
) -> DataFrame:
    """Dataset-version diff — the data-card companion every corpus
    release needs: classify each id as ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` between two corpus versions.

    Scale shape: each side collapses to (id, md5 digest) BEFORE the
    join, so the full-outer join shuffles constant-width rows
    regardless of document size — diffing two 100 TB snapshots moves
    O(ids × 32 bytes), not the corpora. Returns (``id_col``,
    ``status``)."""
    # presence is tracked with explicit indicator columns, NOT digest
    # nullity: md5(NULL content) is NULL, and a row that EXISTS with a
    # NULL body must read as changed/unchanged, never as absent.
    # Digest comparison is null-safe (NULL body ≡ NULL body →
    # unchanged).
    o = old.select(
        F.col(id_col).alias("__id"),
        F.lit(True).alias("__in_old"),
        F.md5(F.col(content_col)).alias("__od"),
    )
    n = new.select(
        F.col(id_col).alias("__id"),
        F.lit(True).alias("__in_new"),
        F.md5(F.col(content_col)).alias("__nd"),
    )
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            F.col("__od").eqNullSafe(F.col("__nd")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return o.join(n, "__id", "full_outer").select(
        F.col("__id").alias(id_col), status.alias("status")
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: list[float],
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT global quantiles without a global single-partition sort —
    the 100 TB complement to ``percentile_approx`` (whose GK sketch is
    only exact below its accuracy) and to q43's per-group
    ``F.percentile`` (exact, but a per-group sort; useless when the
    "group" is the whole corpus).

    Semantics: for each ``q`` the value at 1-based rank ``ceil(q·n)``
    of the sorted non-null column (``quantile_disc``-style discrete
    quantile, lower tie value). Returns ``(q, qvalue, n)`` — one row
    per requested quantile.

    Scale shape (the ``add_surrogate_key_distributed`` scheme applied
    to weighted values):

    1. collapse rows to ``(value, count)`` — one shuffle keyed on the
       value, output is the distinct-value relation (for measures the
       value domain is far smaller than the row count; any heavy
       single value becomes ONE row, so value skew disappears here);
    2. range-repartition the distinct values, take per-partition count
       sums — ONE O(#partitions) driver collect (metadata, not data)
       turns them into cumulative offsets;
    3. partition-local cumulative counts via a partition-bounded
       window + the offset map give every distinct value its global
       rank interval; each requested rank then selects
       ``min(value | cum_count >= rank)`` in one aggregate.

    No stage sorts more than one partition's distinct values; every
    shuffle key is the value itself. Ranks are exact BIGINT arithmetic
    (``ceil`` over DECIMAL multiplication — float rank boundaries
    would be an engine-parity hazard)."""
    from pyspark.sql import Window

    if not qs:
        raise ValueError("qs must be non-empty")
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    v = F.col(value_col)
    counts = (
        df.where(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ranged = (
        counts.repartitionByRange(num_partitions, F.col("__v"))
        .withColumn("__pid", F.spark_partition_id())
        # persist: the offsets job and the main job must see ONE
        # consistent range partitioning (boundaries come from sampling)
        .persist()
    )
    # try/finally: the offsets collect and the checkpoint below run
    # driver jobs between persist and unpersist — an exception there
    # must not leak executor storage in a long-lived session
    try:
        partials = ranged.groupBy("__pid").agg(
            F.sum("__c").alias("__s")
        ).collect()
        total = 0
        kv = []
        # ordered on the driver: O(#partitions) rows need no sort job
        for row in sorted(partials, key=lambda r: r["__pid"]):
            kv.append(F.lit(row["__pid"]))
            kv.append(F.lit(total))
            total += row["__s"]
        if total == 0:
            return df.sparkSession.createDataFrame(
                [], "q double, qvalue double, n bigint"
            )
        offset_of = F.create_map(*kv)
        w = (
            Window.partitionBy("__pid")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = ranged.select(
            "__v",
            (F.sum("__c").over(w) + offset_of[F.col("__pid")]).alias(
                "__cum"
            ),
        )
        # rank_q = ceil(q·n) in exact decimal arithmetic; one aggregate
        # computes every requested quantile from the same cumulative pass
        aggs = []
        for i, q in enumerate(qs):
            rank = F.ceil(
                F.lit(q).cast("decimal(18,9)") * F.lit(int(total))
            ).cast("bigint")
            aggs.append(
                F.min(
                    F.when(F.col("__cum") >= rank, F.col("__v"))
                ).alias(f"__q{i}")
            )
        one = cum.agg(*aggs)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(float(q)).alias("q"),
                    F.col(f"__q{i}").cast("double").alias("qvalue"),
                )
                for i, q in enumerate(qs)
            ]
        )
        out = one.select(F.explode(pairs).alias("p")).select(
            F.col("p.q").alias("q"),
            F.col("p.qvalue").alias("qvalue"),
            F.lit(int(total)).cast("bigint").alias("n"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        ranged.unpersist()


def winsorize(
    df: DataFrame,
    value_col: str,
    *,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    num_partitions: int | None = None,
) -> DataFrame:
    """Outlier clipping at EXACT global quantiles (the data-cleaning
    step before scale-sensitive statistics): values below the
    ``lo_q`` quantile rise to it, values above ``hi_q`` drop to it.
    Adds ``<value_col>_winsor`` (the clipped value) and
    ``<value_col>_clipped`` (whether this row moved); NULL values stay
    NULL and unclipped.

    Bounds come from :func:`exact_quantiles` (two-phase distributed —
    no global sort) and land as two LITERALS via one O(2)-row driver
    collect (the codebook pattern: bounded metadata, not data), so the
    clip itself is a pure Column projection fused into the scan —
    winsorizing 100 TB is one quantile job plus a map."""
    got = {
        r["q"]: r["qvalue"]
        for r in exact_quantiles(
            df, value_col, [float(lo_q), float(hi_q)],
            num_partitions=num_partitions,
        ).collect()
    }
    if not got:
        # all-null / empty input: nothing to clip
        return df.withColumn(
            f"{value_col}_winsor", F.col(value_col)
        ).withColumn(f"{value_col}_clipped", F.lit(False))
    lo, hi = float(got[float(lo_q)]), float(got[float(hi_q)])
    v = F.col(value_col)
    # explicit NULL guard: Spark's greatest/least SKIP nulls (they
    # return the greatest non-null operand), so a bare
    # least(greatest(v, lo), hi) would turn NULL into lo
    clipped = F.when(
        v.isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(v, F.lit(lo)), F.lit(hi)))
    return df.withColumn(
        f"{value_col}_winsor", clipped
    ).withColumn(
        f"{value_col}_clipped",
        F.when(v.isNull(), F.lit(False)).otherwise(v != clipped),
    )
