"""One declaration per query: the ``@query`` registry behind
``__spark_entry__.queries()`` and ``oracle_sql()``.

A query is a function ``(spark, sf_dir) -> DataFrame`` in one of the
family modules of this package, registered under its own name together
with its DuckDB twin::

    @query(
        oracle="SELECT ...",  # or a zero-argument function returning it
        tag="scope",          # suites only: the tag column
        scopes=("a", "b"),    # the tag values the suite emits
        headline=True,        # timed by bench.py
    )
    def q99_example(spark: SparkSession, sf_dir: str) -> DataFrame: ...

Numeric-determinism convention used throughout: fractional aggregates
are computed per-row in float64 (identical in both engines), cast to
DECIMAL(18,6) per row (exact, associative addition — immune to
summation-order differences), summed, and cast back to DOUBLE. Window
ranks always carry an explicit deterministic tie-break, and Spark's
int-typed ``row_number`` is cast to BIGINT to match DuckDB.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """One registered query. ``fn`` is the callable the driver runs: for
    a suite (``tag`` set) it appends the per-scope count rows."""

    name: str
    fn: QueryFn
    oracle: str | Callable[[], str]
    tag: str | None
    scopes: tuple[str, ...]
    headline: bool

    def oracle_sql(self) -> str:
        sql = self.oracle() if callable(self.oracle) else self.oracle
        return _with_tag_counts(sql, self.tag) if self.tag else sql


_QUERIES: dict[str, Query] = {}


def query(
    *,
    oracle: str | Callable[[], str],
    tag: str | None = None,
    scopes: tuple[str, ...] = (),
    headline: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Register the decorated function as the query named after it and
    return the function unchanged. ``scopes`` are the ``tag`` values
    the suite emits; leave them empty when they come from the data."""
    if tag is not None and not oracle:
        raise ValueError(f"tag {tag!r} needs an oracle to count against")

    def register(fn: QueryFn) -> QueryFn:
        name = fn.__name__
        if name in _QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        run = fn
        if tag is not None:

            @functools.wraps(fn)
            def run(spark: SparkSession, sf_dir: str) -> DataFrame:
                return _append_tag_counts(fn(spark, sf_dir), tag)

        _QUERIES[name] = Query(name, run, oracle, tag, tuple(scopes), headline)
        return fn

    return register


def registry() -> dict[str, Query]:
    """Every registered query, sorted by name."""
    return {name: _QUERIES[name] for name in sorted(_QUERIES)}


def headline() -> list[Query]:
    """The queries ``bench.py`` times, in name order."""
    return [q for q in registry().values() if q.headline]


def _dec_sum(expr: str, alias: str) -> F.Column:
    """SUM(CAST(<per-row double expr> AS DECIMAL(18,6))) -> DOUBLE."""
    return (
        F.sum(F.expr(expr).cast("decimal(18,6)")).cast("double").alias(alias)
    )


def _suite_union(columns: list[tuple[str, str]], *branches) -> DataFrame:
    """Tagged-union scaffolding for the suite queries: ``columns``
    declares the suite schema ONCE as (name, spark_type) pairs;
    each branch is (scope_tag, df). Columns a branch lacks are
    null-padded with the declared type, so per-branch select lists and
    their null casts can't drift out of lockstep."""
    out = None
    for tag, df in branches:
        have = set(df.columns)
        sel = [F.lit(tag).alias("scope")]
        for name, typ in columns:
            sel.append(
                F.col(name)
                if name in have
                else F.lit(None).cast(typ).alias(name)
            )
        b = df.select(*sel)
        out = b if out is None else out.unionByName(b)
    return out


# Suite diagnosability (VERDICT r2 #4): a failing hash in a multi-scope
# suite gives the driver one bit. Every suite therefore appends one
# extra row per scope — tag column = '__count|<scope>|<rows>', all
# other columns NULL — computed from the suite's own OUTPUT in both
# engines (Spark wrapper below; DuckDB via _with_tag_counts's
# UNION ALL BY NAME, which auto-null-fills the remaining columns).
# A future red row then names the scope whose row count moved, or —
# if all counts match — pins the damage to in-scope values.
def _append_tag_counts(out: DataFrame, tag_col: str) -> DataFrame:
    """Append per-scope count rows to a suite result: one row per
    distinct ``tag_col`` value with ``'__count|<tag>|<n>'`` in the tag
    column and NULL everywhere else.

    SINGLE-evaluation shape: a union with a ``groupBy(tag).count()``
    branch would evaluate the (often expensive) suite subtree twice,
    so instead the suite rows are windowed per scope (one shuffle of
    the OUTPUT rows — suites are bounded) and exactly one row per
    scope explodes into [itself, its scope's count row].  Which row
    carries the duplicate is partition-order dependent; the EMITTED
    relation is identical either way, so results stay deterministic."""
    others = [c for c in out.columns if c != tag_col]

    def as_row(tag: Column) -> Column:
        return F.struct(
            tag.alias(tag_col), *[F.col(c).alias(c) for c in others]
        )

    count_tag = F.concat(
        F.lit("__count|"),
        F.col(tag_col),
        F.lit("|"),
        F.col("__cnt").cast("string"),
    )
    count_row = F.struct(
        count_tag.alias(tag_col),
        *[
            F.lit(None).cast(out.schema[c].dataType).alias(c)
            for c in others
        ],
    )
    w = Window.partitionBy(tag_col)
    marked = out.withColumn(
        "__cnt", F.count(F.lit(1)).over(w)
    ).withColumn(
        "__rn",
        F.row_number().over(w.orderBy(F.monotonically_increasing_id())),
    )
    return (
        marked.select(
            F.explode(
                F.when(
                    F.col("__rn") == 1,
                    F.array(as_row(F.col(tag_col)), count_row),
                ).otherwise(F.array(as_row(F.col(tag_col))))
            ).alias("__r")
        )
        .select("__r.*")
    )


def _with_tag_counts(sql: str, tag_col: str) -> str:
    """DuckDB twin of :func:`_append_tag_counts`: wrap a suite oracle
    so it emits the same '__count|<tag>|<n>' rows. UNION ALL BY NAME
    fills every unnamed column with NULL, so the wrapper is agnostic
    to the suite's schema."""
    return f"""
        WITH __suite AS ({sql})
        SELECT * FROM __suite
        UNION ALL BY NAME
        SELECT '__count|' || {tag_col} || '|' || COUNT(*) AS {tag_col}
        FROM __suite GROUP BY {tag_col}
    """
