"""Readers and writers.

The reference reads 9 CSVs (header, ``"`` enclosure, UTF-8, declared
typed field lists, e.g. ``motogp.ktr:1405-1478``) and 2 JSON files
(JSONPath ``$[*].field`` over a flat array of flat objects,
``motogp.ktr:4281-4441``), and "writes" to named Dummy sinks /
PostgreSQL. Here: schema-declared ``spark.read`` with no inference — CSV
and JSON against the declared StructTypes of ``schemas.py``, parquet
against the schema read from the file's footer on the driver
(:func:`parquet_schema`) — and parquet-first writes (partitioned for
scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    delimiter: str = ",",
    quote: str = '"',
) -> DataFrame:
    """Delimited scan mirroring Kettle CsvInput semantics
    (header=Y, enclosure ``"``, UTF-8, declared types — never inference).
    """
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", delimiter)
        .option("quote", quote)
        .option("encoding", "UTF-8")
        # malformed rows -> nulls, matching Kettle's lenient conversion
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_json_array(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON array-of-flat-objects scan (Kettle JsonInput, JSONPath
    ``$[*].field`` with ``defaultPathLeafToNull=Y`` — missing leaves are
    null, which is also Spark's default for absent fields).
    """
    return spark.read.schema(schema).option("multiLine", True).json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines scan (one object per line — the standard LLM
    training-data interchange format) with a DECLARED schema: no
    sampling-based inference pass over 100 TB, absent fields are null,
    malformed lines null their row (PERMISSIVE, Spark's default)
    instead of failing the scan. Compressed inputs (``.gz``, ``.zst``
    where the codec is available) decode transparently; note gzip is
    NOT splittable — one task per file, so shard large corpora into
    many files upstream."""
    return spark.read.schema(schema).json(path)


def write_jsonl(
    df: DataFrame, path: str, *, compression: str | None = None
) -> None:
    """JSON-lines sink, one object per row; ``compression`` e.g.
    ``gzip``. File-per-partition parallel write like every Spark
    sink."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Plain-text scan, one row per line (column ``value: string``) —
    raw-corpus ingestion where each line is a record. Splittable for
    uncompressed files."""
    return spark.read.text(path)


def read_whole_files(spark: SparkSession, path: str) -> DataFrame:
    """One row per FILE: (``path``, ``modificationTime``, ``length``,
    ``content: binary``) via Spark's binaryFile source — the ingestion
    shape for document-per-file corpora and opaque media blobs
    (pair with ``operators/multimodal``). Each file must fit in one
    task's memory; for many small files coalesce upstream or raise
    ``spark.sql.files.maxPartitionBytes``."""
    return spark.read.format("binaryFile").load(path)


def _footer_file(path: str) -> tuple:
    """The file whose footer stands for ``path``: the file itself, or
    for a directory its first data part in name order (Spark skips
    ``_``/``.``-prefixed entries such as ``_SUCCESS``). Local paths
    and any URI scheme pyarrow's filesystems know are accepted."""
    import os

    import pyarrow.fs as pafs

    fs, p = pafs.FileSystem.from_uri(
        path if "://" in path else os.path.abspath(path)
    )
    if fs.get_file_info(p).type == pafs.FileType.Directory:
        parts = sorted(
            i.path
            for i in fs.get_file_info(pafs.FileSelector(p))
            if i.is_file and not i.base_name.startswith(("_", "."))
        )
        if not parts:
            raise FileNotFoundError(f"no parquet data file directly under {path}")
        p = parts[0]
    return fs, p


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema Spark would infer for the parquet file (or flat
    directory of part files) at ``path``, read from one footer on the
    driver, so the scan that declares it starts no inference job.

    Naive timestamps map to TIMESTAMP_NTZ and tz-aware ones to
    TIMESTAMP, as Spark's own reader does. Two top-level physical types
    need Spark's view rather than arrow's: INT96 (the timestamp
    encoding Spark writes by default) reads as TIMESTAMP, and
    TIMESTAMP(NANOS) — rejected by Spark's reader unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on — reads as BIGINT
    nanos. That one-way session switch is set only when a footer
    actually carries NANOS: set unconditionally it would turn every
    later nanos-parquet scan of the session into bigint."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    fs, p = _footer_file(path)
    with fs.open_input_file(p) as f:
        pf = pq.ParquetFile(f)
        arrow = pf.schema_arrow
        physical = {
            c.path: c.physical_type
            for c in (pf.schema.column(i) for i in range(len(pf.schema)))
        }
    schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    fields = []
    for af, sf in zip(arrow, schema.fields):
        if pa.types.is_timestamp(af.type) and af.type.unit == "ns":
            if physical.get(af.name) == "INT96":
                sf = T.StructField(sf.name, T.TimestampType(), sf.nullable)
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                sf = T.StructField(sf.name, T.LongType(), sf.nullable)
        fields.append(sf)
    return T.StructType(fields)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to one canonical TIMESTAMP whatever
    the parquet physical type surfaced as (bigint nanos under the
    legacy flag, TIMESTAMP_NTZ, or already TIMESTAMP) — shared by the
    batch reader and the streaming probe so the two cannot drift."""
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer division: float division of ns-epoch magnitudes
        # loses precision beyond double's 53-bit mantissa
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks require TIMESTAMP (with local tz); the session tz
        # is pinned to UTC, so the cast is value-stable
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) with the schema
    declared from its parquet footer (:func:`parquet_schema`): building
    the scan starts no Spark job.

    ``events.ts`` has varied across testdata generations: parquet
    TIMESTAMP(NANOS) (rejected by Spark's vectorized reader — read as
    BIGINT via the legacy nanos-as-long path and convert) or
    TIMESTAMP(MICROS) without timezone (read as TIMESTAMP_NTZ). Both are normalized to a
    plain TIMESTAMP under the UTC session tz so downstream event-time
    code (watermarks, ``unix_micros``) sees one canonical type.
    """
    # oracle comparisons assume UTC semantics (DuckDB timestamps are
    # UTC-naive). The engine REQUIRES a UTC session; rather than
    # silently overriding a caller's different timezone, surface it.
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        import warnings

        warnings.warn(
            "read_table requires spark.sql.session.timeZone=UTC for "
            "cross-engine timestamp determinism; setting it for this "
            "session (use session.get_spark to start with UTC)",
            stacklevel=2,
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def write_table(df: DataFrame, path: str, *, partition_by: list[str] | None = None) -> None:
    """Parquet sink (replaces the reference's named Dummy endpoints /
    Postgres table loads). ``partition_by`` enables partition pruning for
    downstream scans — the 100 TB hygiene the reference lacks.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_table_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    *,
    n_files: int | None = None,
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` on the
    cluster keys + ``sortWithinPartitions`` before the write, so each
    output file covers a narrow, disjoint key range and parquet
    min/max statistics let range predicates skip whole files.

    The complement of ``write_table(partition_by=...)`` for
    HIGH-CARDINALITY keys (timestamps, ids) where directory
    partitioning would explode into millions of tiny directories:
    directory partitioning prunes on low-cardinality dimensions,
    range clustering prunes on ordered ones — at 100 TB a fact table
    typically wants both (partition by date, cluster by timestamp/key
    within the partition). ``n_files`` bounds output file count (≈
    target-file-size tuning); default lets AQE pick."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in cluster_by]
    ranged = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    ranged.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def zorder_value(
    df: DataFrame, cols: list[str], *, bits: int = 16
) -> "F.Column":
    """Z-order (Morton) curve value over 2+ numeric columns as a pure
    Column expression: each column is min/max-scaled to a ``bits``-bit
    integer grid (bounds from ONE aggregation, broadcast as a 1-row
    scalar literal via collect — O(#cols) metadata), then the grids'
    bits are interleaved into a single BIGINT. Sorting by this value
    clusters rows that are close in EVERY dimension, so parquet
    min/max file statistics stay narrow on all participating columns
    at once — the multi-dimensional complement of
    ``write_table_clustered``'s single-key ranges.

    ``bits * len(cols)`` must fit in 63; deterministic (scaling bounds
    come from the data, no RNG)."""
    from pyspark.sql import functions as F

    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must be <= 63")
    if len(cols) < 2:
        raise ValueError("z-ordering needs >= 2 columns")
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    grid_max = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
        span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else 1.0
        q = F.floor(
            (F.coalesce(F.col(c).cast("double"), F.lit(mn or 0.0)) - F.lit(mn or 0.0))
            / F.lit(span)
            * F.lit(float(grid_max))
        ).cast("long")
        q = F.least(F.greatest(q, F.lit(0)), F.lit(grid_max))
        # place bit b of column i at interleaved position b*len(cols)+i
        for b in range(bits):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * len(cols) + i)
    return z


def write_table_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    *,
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Z-order-clustered parquet layout: range-partition + sort on the
    Morton value of ``zorder_by``, so predicates on ANY of the z-order
    columns skip files via min/max statistics (a plain sort only serves
    its leading column). The standard lakehouse OPTIMIZE ZORDER shape,
    expressed with vanilla Spark operators."""
    from pyspark.sql import functions as F  # noqa: F811 (module alias)

    z = zorder_value(df, zorder_by, bits=bits).alias("__z")
    with_z = df.select("*", z)
    ranged = (
        with_z.repartitionByRange(n_files, "__z")
        if n_files
        else with_z.repartitionByRange("__z")
    )
    (
        ranged.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    *,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table: later equi-joins/aggregations on
    ``bucket_cols`` between tables bucketed the same way run WITHOUT a
    shuffle — the pre-partitioning strategy for repeatedly-joined
    100 TB facts (asserted in tests/test_plans.py)."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC sink (the reference defines a PostgreSQL connection,
    ``motogp.ktr:481-535``; its checked-in transformation never table-
    loads, so parquet is this engine's primary sink).

    Works against any database whose driver jar is on the Spark
    classpath. No PostgreSQL jar ships in this image (probed:
    ``find / -name 'postgresql*.jar'`` → none), but Spark's bundled
    embedded Derby driver exercises the full write path end-to-end —
    round-tripped in tests/test_sources_jdbc.py. Raises a clear error
    when the target driver is genuinely absent."""
    try:
        df.write.jdbc(url, table, mode=mode, properties=properties or {})
    except Exception as exc:  # pragma: no cover - driver-dependent
        if "No suitable driver" in str(exc):
            raise NotImplementedError(
                "JDBC write requires the target database's driver jar on "
                "the Spark classpath (spark.jars); not available for this "
                "URL in this image"
            ) from exc
        raise


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC source twin of :func:`write_jdbc`.

    Default form is a SINGLE-task scan — fine for dimension-sized
    tables, a scale bug for anything big. Pass ``partition_column`` (a
    numeric/date column) + ``lower_bound``/``upper_bound``/
    ``num_partitions`` and Spark issues ``num_partitions`` range-
    predicated queries in parallel (``WHERE col >= lo AND col < hi``),
    one per task — the standard way to parallelize a 100 TB-adjacent
    relational extract. Rows outside [lower, upper) are still read
    (they land in the first/last stride), so bounds tune parallelism,
    never correctness. N-task behavior is pinned in
    tests/test_sources_jdbc.py via ``spark_partition_id`` distinctness
    against embedded Derby."""
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError(
                "partitioned read_jdbc needs lower_bound, upper_bound "
                "and num_partitions alongside partition_column"
            )
        return spark.read.jdbc(
            url,
            table,
            column=partition_column,
            lowerBound=lower_bound,
            upperBound=upper_bound,
            numPartitions=num_partitions,
            properties=properties or {},
        )
    return spark.read.jdbc(url, table, properties=properties or {})
