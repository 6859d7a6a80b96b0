"""Similarity (fuzzy) join — Jaro-Winkler best-match lookup.

Replaces the reference's two FuzzyMatch steps (``motogp.ktr:3021-3152``):
Jaro-Winkler nearest-neighbor, case-insensitive, ``closervalue=Y``
(single best match per probe row), optional minimal threshold; emits the
matched value and the similarity score (``corrispondenza`` / ``valore di
misura``).

Spark has no built-in similarity join, so this is a composition:

    probe ⋈(candidates) lookup
          → score via the Arrow-batched Jaro-Winkler Pandas UDF
          → keep best match per probe row (window rank, deterministic
            tie-break on the candidate key)

Candidates come from one of two paths, chosen from the lookup's row
count (one sizing job): up to ``AUTO_EXHAUSTIVE_MAX`` rows the lookup
is a dimension — broadcast it and score every pair (the reference's
FuzzyMatch equally holds the whole lookup stream in memory,
``motogp.ktr:3021``); past it, char-3-gram MinHash banding pairs only
bucket-sharing keys, so no unbounded |probe| × |lookup| product ever
reaches the Python scorer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.functions.similarity import (
    jaro_winkler_udf,
)

# the lookup is scored exhaustively only while it stays dimension-sized;
# past this, LSH candidates bound the pairs fed to the Python scorer
AUTO_EXHAUSTIVE_MAX = 1000


def _lsh_candidates(
    probe_tagged: DataFrame,
    lookup: DataFrame,
    probe_on: str,
    lookup_on: str,
    *,
    num_perm: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Candidate pairs for the big-lookup fuzzy path: both key sets are
    char-3-gram MinHashed into band buckets; a probe row meets a lookup
    row iff they share a bucket. Returns probe ⨯ lookup candidate rows
    (all columns of both, ``__probe_id`` retained)."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        fuzzy_block_grams,
    )

    rows_per_band = num_perm // bands

    def buckets(df: DataFrame, key: str, id_cols: list[str]) -> DataFrame:
        # __set as a named, multiply-referenced column: CollapseProject
        # won't inline a non-cheap expression with multiple consumers,
        # so the shingle aggregate runs once per row
        with_set = df.select(
            *id_cols, fuzzy_block_grams(F.col(key), 3).alias("__set")
        )

        def min_perm(perm: int) -> Column:
            def salted(h):
                return F.xxhash64(F.lit(perm), h)

            return F.array_min(F.transform(F.col("__set"), salted))

        band_cols = [
            F.hash(
                F.lit(b),
                *[
                    min_perm(b * rows_per_band + r)
                    for r in range(rows_per_band)
                ],
            ).alias(f"__b{b}")
            for b in range(bands)
        ]
        return with_set.select(
            *id_cols, F.explode(F.array(*band_cols)).alias("__bucket")
        ).dropDuplicates([*id_cols, "__bucket"])

    p_buckets = buckets(probe_tagged, probe_on, ["__probe_id"])
    l_keys = lookup.select(lookup_on).dropDuplicates()
    l_buckets = buckets(l_keys, lookup_on, [lookup_on])
    pairs = (
        p_buckets.join(l_buckets, on="__bucket")
        .select("__probe_id", lookup_on)
        .dropDuplicates()
    )
    return (
        probe_tagged.join(pairs, on="__probe_id")
        .join(lookup, on=lookup_on, how="inner")
    )


def similarity_join(
    probe: DataFrame,
    lookup: DataFrame,
    probe_on: str,
    lookup_on: str,
    *,
    score_col: str = "similarity",
    threshold: float = 0.0,
    how: str = "left",
) -> DataFrame:
    """Attach the single best Jaro-Winkler match from ``lookup`` to each
    ``probe`` row (case-insensitive, like the reference's FuzzyMatch).

    All ``lookup`` columns come along (the reference carries 13 lookup
    fields through, ``motogp.ktr:3058-3107``). Probe rows with no
    candidate ≥ ``threshold`` are kept with nulls when ``how='left'``,
    dropped when ``how='inner'``. Ties on score break on the smallest
    ``lookup_on`` value — deterministic across runs and engines.

    One ``lookup.count()`` picks the candidate path. Up to
    ``AUTO_EXHAUSTIVE_MAX`` lookup rows every pair is scored against a
    broadcast lookup — the exact, reference-parity path. Beyond that,
    both key sets are char-3-gram MinHash-banded and only
    bucket-sharing pairs are scored: a best match is missed only when
    it shares no band with the probe (dissimilar strings). Unlike
    first-character blocking, a leading typo ('iamaha' → 'yamaha')
    keeps its match (pinned by test).
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be left|inner, got {how!r}")

    overlap = set(probe.columns) & set(lookup.columns)
    if overlap:
        raise ValueError(
            f"probe/lookup column overlap {sorted(overlap)}; rename first"
        )
    # the score column and the plan-internal names must be fresh:
    # withColumn would silently OVERWRITE an existing score_col inside
    # the pair relation (while the join-back side keeps the original,
    # yielding an ambiguous duplicate name), and a user __probe_id/__rn
    # would be clobbered by the window machinery
    reserved = {score_col, "__probe_id", "__rn"}
    clash = reserved & (set(probe.columns) | set(lookup.columns))
    if clash:
        raise ValueError(
            f"column(s) {sorted(clash)} collide with the score column or "
            "plan-internal names; rename or pass a different score_col"
        )

    pkey = F.lower(F.trim(F.col(probe_on)))
    lkey = F.lower(F.trim(F.col(lookup_on)))

    # decided BEFORE the probe-id checkpoint: the LSH path references
    # the tagged probe twice and therefore needs it pinned
    use_lsh = lookup.count() > AUTO_EXHAUSTIVE_MAX

    # synthetic per-row probe id: duplicate probe rows must each emit
    # their own best match (FuzzyMatch is a per-row lookup); only used
    # inside this plan as a window key, dropped before returning.
    # monotonically_increasing_id is partition-layout dependent. When
    # `tagged` is referenced from more than one branch of the final plan
    # (left-join-back side, or the LSH candidate generator's two uses),
    # pin the ids once so a shuffle upstream or a task retry cannot
    # re-assign them between the two evaluations. The inner+broadcast
    # path references `tagged` exactly once, so the ids live and die
    # within a single evaluation — skip the checkpoint there (it costs
    # an extra eager job, which on a large heap can land on a GC pause).
    tagged = probe.withColumn("__probe_id", F.monotonically_increasing_id())
    if how == "left" or use_lsh:
        # prefer a RELIABLE checkpoint when the session has a
        # checkpoint dir: localCheckpoint pins every probe partition in
        # executor block storage and an executor loss after the
        # checkpoint is unrecoverable (no lineage); local remains the
        # default because it needs no configuration
        if probe.sparkSession.sparkContext.getCheckpointDir():
            tagged = tagged.checkpoint(eager=True)
        else:
            tagged = tagged.localCheckpoint(eager=True)

    if use_lsh:
        pairs = _lsh_candidates(tagged, lookup, probe_on, lookup_on)
    else:
        pairs = tagged.join(F.broadcast(lookup), on=F.lit(True), how="inner")

    scored = pairs.withColumn(
        score_col, jaro_winkler_udf(pkey, lkey)
    ).filter(F.col(score_col) >= F.lit(threshold))

    # tie-break: smallest key, then a hash over the FULL lookup row —
    # duplicate lookup keys with different payloads would otherwise
    # leave the carried columns partition-order dependent
    w = Window.partitionBy("__probe_id").orderBy(
        F.col(score_col).desc(),
        F.col(lookup_on).asc(),
        F.xxhash64(*[F.col(c) for c in lookup.columns]).asc(),
    )
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    if how == "inner":
        return best.drop("__probe_id")
    return tagged.join(
        best.select("__probe_id", *lookup.columns, score_col), "__probe_id", "left"
    ).drop("__probe_id")
