"""Fuzzy similarity join (SURVEY §2.3 FuzzyMatch)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.operators.fuzzy import similarity_join
from lsdm_motogp_data_integration_spark.queries.registry import query
from lsdm_motogp_data_integration_spark.sources import read_table


@query(
    oracle="""
            WITH probe AS (
                SELECT n_nationkey AS probe_id,
                       LOWER(substr(n_name, 1, length(n_name) - 1)) AS probe_name
                FROM nation
            ), cand AS (
                SELECT p.probe_id, p.probe_name, n.n_name,
                       jaro_winkler_similarity(
                           LOWER(TRIM(p.probe_name)), LOWER(TRIM(n.n_name))
                       ) AS sim
                FROM probe p CROSS JOIN nation n
            ), best AS (
                SELECT probe_id, probe_name, n_name, sim,
                       ROW_NUMBER() OVER (
                           PARTITION BY probe_id
                           ORDER BY sim DESC, n_name ASC
                       ) AS rn
                FROM cand
            )
            SELECT probe_id, probe_name, n_name AS matched_name,
                   ROUND(sim, 6) AS similarity
            FROM best WHERE rn = 1
        """,
    headline=True,
)
def q17_fuzzy_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzyMatch: Jaro-Winkler nearest-neighbor lookup, case-insensitive
    best match per probe row with deterministic tie-break
    (``motogp.ktr:3021-3152``). Probes are deterministically corrupted
    nation names (last char dropped, lowered) matched back against the
    nation dim."""
    n = read_table(spark, sf_dir, "nation")
    probe = n.select(
        F.col("n_nationkey").alias("probe_id"),
        F.lower(
            F.expr("substr(n_name, 1, length(n_name) - 1)")
        ).alias("probe_name"),
    )
    matched = similarity_join(
        probe,
        n.select("n_name"),
        "probe_name",
        "n_name",
        score_col="similarity",
        how="inner",
    )
    return matched.select(
        "probe_id",
        "probe_name",
        F.col("n_name").alias("matched_name"),
        F.round("similarity", 6).alias("similarity"),
    )
