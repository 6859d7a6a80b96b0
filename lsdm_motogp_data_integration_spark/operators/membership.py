"""Distributed Bloom-filter membership screening.

The scale path for decontamination-style "does this corpus item appear
in a (much smaller) reference set" checks.  The exact formulation
(q57's broadcast equi-join on the gram strings) ships the reference
side's full distinct-gram set to every executor; at 100 TB that set is
often GBs.  A Bloom filter over the same set is a few MB at 1% fpp —
small enough to embed as broadcast metadata — and the membership test
becomes a pure Column expression (two ``xxhash64`` calls + k bit
probes), so the corpus side is screened inside whole-stage codegen
with NO shuffle and NO join.  False positives are then removed by the
exact join, which now touches only the tiny surviving fraction.

Spark's own ``bloom_filter_agg``/``might_contain`` expressions are not
registered in the public function registry (probed: UNRESOLVED_ROUTINE
on this image), so the filter is built from first principles with
deterministic arithmetic:

- k probe positions per item via Kirsch–Mitzenmacher double hashing:
  ``pos_i = (h1 + i*h2) mod m`` with ``h1 = xxhash64(item)`` and
  ``h2 = xxhash64(item, 1)`` — two JVM hash calls regardless of k.
- the m-bit array is built as a DataFrame aggregation: explode the k
  positions, group by 64-bit word index, ``bit_or`` the bit masks.
  The collect is O(m/64) words of filter metadata — the same
  legitimate broadcast-metadata pattern as the IVF codebook
  (``ann.py``), NOT a data collect.
- membership is an AND over k ``element_at(words, idx) & mask != 0``
  probes against the literal word array.

Everything is deterministic (seeded xxhash64, no RNG), so a screen →
exact-verify pipeline returns bit-identical results across runs,
executor counts, and engines.

No counterpart in the reference (`salvatoreChiacchio0/
LSDM-MotoGP-Data-Integration` has no membership screening); this is
part of the training-data-pipeline surface (SURVEY.md §7 step 9).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class BloomSpec:
    """An immutable built Bloom filter: ``words`` is the bit array
    packed as ``m/64`` longs (little-endian bit order within a word),
    ``m`` the number of bits, ``k`` the number of probes."""

    words: tuple[int, ...]
    m: int
    k: int

    @property
    def size_bytes(self) -> int:
        return 8 * len(self.words)


def _shl1(bits: Column) -> Column:
    # F.shiftleft only accepts a literal int shift; call the SQL
    # function directly to shift by a computed column
    return F.call_function("shiftleft", F.lit(1).cast("long"), bits)


def _positions(col: Column, m: int, k: int) -> list[Column]:
    """k deterministic probe positions for ``col`` (Kirsch–Mitzenmacher
    double hashing; two hash evaluations total)."""
    # reduce both hashes mod m BEFORE combining: ANSI mode (Spark 4
    # default) raises on long overflow, and i*h2 with a raw 64-bit h2
    # overflows; with h1,h2 < m and k ≤ 16 the combination stays far
    # below 2^63 for any practical m
    h1 = F.pmod(F.xxhash64(col), F.lit(m))
    # force the stride odd so it never degenerates to 0 and stays
    # coprime with power-of-two-ish m values
    h2 = F.pmod(F.xxhash64(col, F.lit(1)), F.lit(m)).bitwiseOR(F.lit(1))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]


def _sizing(expected_items: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n ln p / (ln 2)^2 bits (rounded up
    to a multiple of 64), k = (m/n) ln 2 probes."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(int(expected_items), 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(((m + 63) // 64) * 64, 64)
    k = max(int(round(m / n * math.log(2))), 1)
    return m, min(k, 16)


def build_bloom(
    df: DataFrame,
    col: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
) -> BloomSpec:
    """Build a Bloom filter over the distinct values of ``df[col]``.

    ``expected_items`` sizes the filter; when omitted it is counted
    with one extra job (fine for build-once screens; pass it when the
    cardinality is already known).  The aggregation is fully
    distributed — per-partition partial ``bit_or`` word maps, one
    shuffle of at most m/64 rows — and the final collect is filter
    metadata, not data.
    """
    distinct = df.select(F.col(col).alias("__item")).dropDuplicates()
    if expected_items is None:
        expected_items = distinct.count()
    m, k = _sizing(expected_items, fpp)
    pos = F.array(*_positions(F.col("__item"), m, k))
    packed = (
        distinct.select(F.explode(pos).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            _shl1((F.col("p") % 64).cast("int")).alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in packed:
        words[r["w"]] = r["bits"]
    return BloomSpec(words=tuple(words), m=m, k=k)


def _probe_expr(words: Column, spec: BloomSpec, c: Column) -> Column:
    """AND over the k bit probes of ``c`` against a words-array Column
    (literal or broadcast-joined — the caller chooses the shipping)."""
    out = None
    for p in _positions(c, spec.m, spec.k):
        widx = (p / 64).cast("int") + 1  # element_at is 1-based
        mask = _shl1((p % 64).cast("int"))
        probe = F.element_at(words, widx).bitwiseAND(mask) != 0
        out = probe if out is None else (out & probe)
    return out


def might_contain(spec: BloomSpec, col: Column | str) -> Column:
    """Pure-Column membership probe against a built filter: k
    ``element_at & mask`` tests over the LITERAL word array — no join,
    no shuffle, whole-stage codegen.  False positives possible at the
    filter's fpp; false negatives impossible.

    The literal form is right for filters up to ~1 MB: the array ships
    inside every serialized task, so a very large filter pays py4j
    literal construction once and task bloat per task — use
    :func:`screen_bloom` (which switches to a 1-row torrent-broadcast
    join past a size threshold) when the filter may be big."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.lit(list(spec.words))
    return _probe_expr(words, spec, c)


def screen_bloom(
    df: DataFrame,
    spec: BloomSpec,
    col: str,
    *,
    literal_max_bytes: int = 1 << 20,
) -> DataFrame:
    """Filter ``df`` to rows whose ``col`` might be in the filter,
    choosing the shipping strategy by filter size: small filters embed
    as a plan literal (zero join, zero exchange); filters past
    ``literal_max_bytes`` ride a 1-row DataFrame through a broadcast
    join instead — shipped ONCE per executor via torrent broadcast
    (not per task), with element_at probing the array column.  Results
    are identical either way."""
    if spec.size_bytes <= literal_max_bytes:
        return df.filter(might_contain(spec, col))
    spark = df.sparkSession
    words_df = spark.createDataFrame(
        [(list(spec.words),)], "__bloom_words array<bigint>"
    )
    return (
        df.crossJoin(F.broadcast(words_df))
        .filter(_probe_expr(F.col("__bloom_words"), spec, F.col(col)))
        .drop("__bloom_words")
    )


def word_gram_relation(
    df: DataFrame, text_col: str, id_col: str | None, n: int
) -> DataFrame:
    """The exploded word-n-gram relation ``(id_col?, gram)`` of a
    corpus — the shared input of both decontamination methods. Compute
    once, ``persist()``, and pass to repeated ``ngram_decontaminate``
    calls (e.g. running exact and bloom side by side, or screening one
    corpus against several eval sets) so the expensive per-document
    rolling-window shingle pass runs a single time."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        word_shingles,
    )

    cols = [F.col(id_col)] if id_col else []
    return df.select(
        *cols, F.explode(word_shingles(text_col, n)).alias("gram")
    )


def ngram_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    method: str = "bloom",
    fpp: float = 0.01,
    persist_grams: bool = True,
    train_grams: DataFrame | None = None,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Train/eval decontamination: per training document, the count of
    distinct word n-grams shared with the eval set →
    ``(id_col, n_shared_grams)``; documents with no overlap are absent.

    ``method="exact"``: broadcast equi-join on the gram strings — the
    verification formulation (one copy of the eval gram set per
    executor).

    ``method="bloom"``: Bloom screen (this module) then exact verify.
    The corpus gram stream is first filtered by the pure-Column
    ``might_contain`` probe (no shuffle — survives at ~fpp of the
    non-matching volume plus all true matches), and only the survivors
    meet the broadcast equi-join that removes false positives.  The
    RESULT is identical to ``method="exact"`` (verified in tests and
    by the shared driver oracle); only the plan changes.  At 100 TB
    this is the difference between broadcasting a multi-GB gram set
    and broadcasting a few MB of bits.

    ``train_grams``/``eval_grams`` accept precomputed
    :func:`word_gram_relation` outputs (``eval_grams`` must already be
    distinct) so the per-document shingle pass is shared when running
    both methods or screening against several eval sets; when
    provided, ``train``/``eval_set`` are ignored for that side and the
    caller manages persistence.

    When this call caches the distinct eval-gram relation (the bloom
    path), the RESULT is eagerly localCheckpoint-ed (one narrow row per
    contaminated document) while the cache is warm and the cache is
    then released — nothing leaks into the session, and later actions
    on the result never re-run the gram explode.
    """
    own_eval = eval_grams is None
    if train_grams is None:
        train_grams = word_gram_relation(train, text_col, id_col, n)
    if own_eval:
        eval_grams = word_gram_relation(
            eval_set, text_col, None, n
        ).dropDuplicates()
    owned_cache: DataFrame | None = None
    if method == "bloom":
        # the eval gram relation feeds three consumers on this path
        # (sizing count, filter build, FP-removing verify join);
        # persist evaluates the explode once (persist_sets convention —
        # caller-provided relations manage their own persistence)
        if persist_grams and own_eval:
            eval_grams = eval_grams.persist()
            owned_cache = eval_grams
        bloom = build_bloom(eval_grams, "gram", fpp=fpp)
        train_grams = screen_bloom(train_grams, bloom, "gram")
    elif method != "exact":
        raise ValueError(f"method must be bloom|exact, got {method!r}")
    out = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
    )
    if owned_cache is not None:
        # materialize the (per-contaminated-doc narrow) result while
        # the gram cache is warm, then drop the cache: every later
        # action on the returned relation reads the checkpoint instead
        # of re-running the eval explode — the same closure
        # dsir_log_weights uses (a bare unpersist here would silently
        # void the persist_grams contract for multi-action callers)
        out = out.localCheckpoint(eager=True)
        owned_cache.unpersist(blocking=False)
    return out


def semantic_decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-space decontamination — the semantic sibling of the
    n-gram screen: flag training rows whose embedding has cosine ≥
    ``threshold`` to ANY held-out embedding (paraphrased benchmark
    leakage that n-gram overlap misses). Returns ``(id_col,
    n_sem_hits)`` for flagged rows only — compose with a left-anti
    join to drop them.

    Scale shape: eval benchmarks are small, so the holdout side is
    BROADCAST and the screen is one pass over train with an in-memory
    inner loop — the same exact-broadcast-baseline pattern as
    ``ann.cosine_topk``. Norms are precomputed per row on both sides
    (never per pair); the cosine is rounded to 6dp before the
    threshold compare, the repo's cross-engine float convention. For
    a holdout too big to broadcast, use the hyperplane-bucketed
    ``dedup.embedding_neardup_pairs`` machinery instead."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        norm_expr,
        precast_dot,
    )

    t = train.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "__tv"
        ),
        norm_expr(F.col(vec_col)).alias("__tn"),
    )
    h = holdout.filter(F.col(vec_col).isNotNull()).select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "__hv"
        ),
        norm_expr(F.col(vec_col)).alias("__hn"),
    )
    cos = F.round(
        precast_dot(F.col("__tv"), F.col("__hv"))
        / (F.col("__tn") * F.col("__hn")),
        6,
    )
    return (
        t.crossJoin(F.broadcast(h))
        .filter(cos >= F.lit(float(threshold)))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_sem_hits"))
        .select(F.col("__id").alias(id_col), "n_sem_hits")
    )
