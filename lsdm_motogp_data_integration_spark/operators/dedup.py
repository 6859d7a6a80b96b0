"""Deduplication operator family for large-scale corpus processing.

Beyond reference parity (the reference's only dedup is distinct-style
``Group by 3`` / ``Unique rows``, ``motogp.ktr:3481``, ``:8721``), these
are the operators a 100 TB training-data pipeline needs. All the
candidate-generation math stays JVM-side (built-in higher-order array
functions + ``xxhash64``) — no Python in the hot path; only SimHash uses
a vectorized Pandas UDF.

Scale design notes
------------------
- Exact dedup: one hash-shuffle on a 64/128-bit digest, never on the
  raw text.
- MinHash-LSH: signatures are per-row map work (no shuffle); the only
  shuffle is the band-bucket self-join, whose fan-out is controlled by
  (bands, rows-per-band). Candidate verification re-joins the two shingle
  sets by id — at scale, verify against a deduplicated
  ``(id, shingles)`` side, not the full corpus.
- n-gram Jaccard (exact) is the oracle/verify path: quadratic within
  shared-shingle blocks; use LSH first at scale and verify candidates.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def normalized_words(text: Column | str) -> Column:
    """Whitespace-normalized token array (lowercased)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")), " ")


def word_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct word k-gram shingle set as ``array<string>``.

    Word-level shingles (not char-level): with a small vocabulary,
    char n-grams of unrelated documents overlap heavily while word
    k-gram sequences stay discriminative.
    """
    words = normalized_words(text)
    if k == 1:
        # the rolling window below assumes k >= 2 (its buffer slice has
        # length k-2); unigram shingles are just the distinct words
        return F.array_distinct(words)
    init = F.struct(
        F.expr("CAST(array() AS ARRAY<STRING>)").alias("buf"),
        F.expr("CAST(array() AS ARRAY<STRING>)").alias("out"),
    )

    # one aggregate pass with a rolling k-window — see
    # word_shingle_hashes for why the transform(sequence…slice) form is
    # quadratic per document
    def merge(acc: Column, w: Column) -> Column:
        buf, out = acc["buf"], acc["out"]
        full = F.size(buf) == k - 1
        gram = F.concat_ws(
            " ", *[F.element_at(buf, i + 1) for i in range(k - 1)], w
        )
        new_out = F.when(full, F.concat(out, F.array(gram))).otherwise(out)
        new_buf = F.when(
            full, F.concat(F.slice(buf, 2, k - 2), F.array(w))
        ).otherwise(F.concat(buf, F.array(w)))
        return F.struct(new_buf.alias("buf"), new_out.alias("out"))

    def finish(acc: Column) -> Column:
        return F.when(
            F.size(acc["out"]) > 0, F.array_distinct(acc["out"])
        ).otherwise(F.array(F.array_join(acc["buf"], " ")))

    return F.aggregate(words, init, merge, finish)


def rolling_gram_hashes(element_hashes: Column, k: int) -> Column:
    """Distinct k-gram hashes over an ``array<bigint>`` of element
    hashes, computed in ONE ``aggregate`` pass with a rolling k-window
    accumulator (see :func:`word_shingle_hashes` for why the
    transform-over-indices form is quadratic). Inputs shorter than k
    produce a single clamped gram."""
    if k == 1:
        # unigram grams: re-hash each element (the k-generic gram of a
        # 1-window is xxhash64(h)); empty input gets the same clamped
        # sentinel as the rolling path
        return F.when(
            F.size(element_hashes) > 0,
            F.array_distinct(
                F.transform(element_hashes, lambda h: F.xxhash64(h))
            ),
        ).otherwise(F.array(F.xxhash64(element_hashes)))
    init = F.struct(
        F.expr("CAST(array() AS ARRAY<BIGINT>)").alias("buf"),
        F.expr("CAST(array() AS ARRAY<BIGINT>)").alias("out"),
    )

    def merge(acc: Column, h: Column) -> Column:
        buf, out = acc["buf"], acc["out"]
        full = F.size(buf) == k - 1
        gram = F.xxhash64(
            *[F.element_at(buf, i + 1) for i in range(k - 1)], h
        )
        new_out = F.when(full, F.concat(out, F.array(gram))).otherwise(out)
        new_buf = F.when(
            full, F.concat(F.slice(buf, 2, k - 2), F.array(h))
        ).otherwise(F.concat(buf, F.array(h)))
        return F.struct(new_buf.alias("buf"), new_out.alias("out"))

    def finish(acc: Column) -> Column:
        return F.when(
            F.size(acc["out"]) > 0, F.array_distinct(acc["out"])
        ).otherwise(F.array(F.xxhash64(acc["buf"])))

    return F.aggregate(element_hashes, init, merge, finish)


def fuzzy_block_grams(col: Column | str, k: int = 3) -> Column:
    """Distinct character k-gram hashes of a (lowercased, trimmed)
    string — the blocking representation for fuzzy string matching
    (:func:`operators.fuzzy._lsh_candidates`).

    Deliberately NOT the near-dup shingle basis
    (:func:`char_shingle_hashes`): fuzzy keys are short entity names
    where every raw character carries signal, so normalization stops
    at trim+lower — interior whitespace runs are preserved exactly as
    typed ("a  b" and "a b" produce different gram sets, and their
    similarity is what the Jaro-Winkler scorer decides, not the
    blocker). The near-dup basis squeezes whitespace because document
    formatting is noise there; that choice must not leak into blocking
    recall for the fuzzy path (pinned by
    ``tests/test_keys_and_fuzzy.py::test_fuzzy_block_grams_pinned``)."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(F.lower(F.trim(c)), "")
    char_hashes = F.filter(
        F.transform(chars, lambda ch: F.when(ch != "", F.xxhash64(ch))),
        lambda h: h.isNotNull(),
    )
    return rolling_gram_hashes(char_hashes, k)


def word_shingle_hashes(text: Column | str, k: int = 5) -> Column:
    """Distinct word k-gram shingles as ``array<bigint>`` — the
    fast-path representation: no gram strings are materialized, and
    downstream set ops (min-hash, intersect/union) run on fixed 8-byte
    longs. Set cardinalities equal :func:`word_shingles`' string form
    modulo 2^-64 collisions, so Jaccard values are interchangeable
    (equality-structure-preserving: equal word windows ↔ equal hashes).

    Implemented as ONE ``aggregate`` pass over the word-hash array with
    a rolling k-window accumulator. The naive form —
    ``transform(sequence(...), i -> xxhash64(slice(words, i, k)))`` —
    re-evaluates the outer ``words`` expression on every lambda
    invocation (Catalyst expressions are trees, not DAGs: a column
    referenced inside a lambda body is recomputed per element), making
    shingling O(n²) per document; the aggregate form evaluates the
    input array once (measured 5×)."""
    wh = F.transform(normalized_words(text), lambda w: F.xxhash64(w))
    return rolling_gram_hashes(wh, k)


def char_shingle_hashes(text: Column | str, k: int = 8) -> Column:
    """Distinct CHARACTER k-gram shingles as ``array<bigint>`` — the
    shingle basis for unsegmented scripts: whitespace tokenization of
    CJK/Thai text yields one giant "word" per run, so word k-grams
    simply don't exist (a 1-"word" document has no 5-gram) and the
    entire word-based near-dup family goes blind. Char grams restore
    the signal (route by ``textops.script_id`` first; default k=8
    chars ≈ the discriminative power of ~2-3 CJK words).

    Same normalization family as :func:`normalized_words` (lowercase,
    whitespace squeezed to single spaces; spaces participate in grams
    so cross-run context counts) and the same single-pass rolling
    aggregate as :func:`word_shingle_hashes` — the per-char split is
    one pass, not a per-element re-tokenization."""
    return rolling_gram_hashes(_char_element_hashes(text), k)


def _char_element_hashes(text: Column | str) -> Column:
    """Per-CHARACTER xxhash64 array under the engine normalization —
    the char-basis twin of ``transform(normalized_words(c), xxhash64)``.
    Single-sourced so :func:`char_shingle_hashes` and the fused
    MinHash path (:func:`fused_minhash_mins` with ``unit="char"``)
    can never diverge: an index built via one path must collide with
    signatures from the other iff the texts match."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    # split('', …) emits a trailing empty string — drop it
    chars = F.filter(F.split(norm, ""), lambda x: x != F.lit(""))
    return F.transform(chars, lambda x: F.xxhash64(x))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content digest: one survivor (min id) per distinct
    text. Output: (``id_col`` of survivor, group size). The shuffle key
    is ``md5(text)`` — constant width regardless of document size."""
    return (
        df.withColumn("__digest", F.md5(F.col(text_col)))
        .groupBy("__digest")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__digest")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard similarity join (verification / oracle path)
# ---------------------------------------------------------------------------


_BYTE_UNITS = {
    "": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
    "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
    "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50,
}


def _size_bytes(v: str) -> int | None:
    """Bytes in a Spark size conf (``134217728``, ``128m``, ``1t``,
    ``2pb`` — the units of Spark's ``byteStringAs``); ``None`` when
    the value does not parse."""
    m = re.fullmatch(r"(\d+(?:\.\d+)?)([a-z]*)", v.strip().lower())
    if m is None or m.group(2) not in _BYTE_UNITS:
        return None
    return int(float(m.group(1)) * _BYTE_UNITS[m.group(2)])


def _estimated_scan_width(df: DataFrame) -> int | None:
    """Estimate a file-backed relation's scan parallelism from its
    input files — replicating Spark's split sizing
    (``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (bytes + files·openCost) / minPartitionNum))``) with pure local
    ``os.stat`` calls.  Returns ``None`` when the relation has no
    visible local files (in-memory lineage, remote storage) or a size
    conf does not parse — callers fall back to the exact ``df.rdd``
    probe.  Exists because ``df.rdd.getNumPartitions()`` runs full
    physical planning (a plan conversion per call, ~50–100 ms measured
    in r9's profile) while the widen decision only needs a coarse
    estimate (guide §5: keep plan-time driver work off repeated query
    paths)."""
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    spark = df.sparkSession
    conf = spark.conf

    max_pb = _size_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _size_bytes(
        conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    if max_pb is None or open_cost is None:
        return None  # unparseable conf: let the exact probe decide
    min_parts = int(
        conf.get(
            "spark.sql.files.minPartitionNum",
            str(spark.sparkContext.defaultParallelism),
        )
    )
    total = 0
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("", "file"):
            return None  # remote storage: stat would need a cluster call
        try:
            total += os.path.getsize(unquote(p.path)) + open_cost
        except OSError:
            return None
    max_split = min(max_pb, max(open_cost, total // max(min_parts, 1)))
    return max(1, -(-total // max(max_split, 1)))


def _compute_width(df: DataFrame) -> DataFrame:
    """Spread a small relation to the session's shuffle width before
    persist+heavy-per-row work.  A derived corpus often sits in a
    handful of partitions (its BYTES are small), but the per-row cost
    of shingle/signature HOFs is what dominates — cached that narrow,
    every downstream pass serializes onto a couple of cores (the same
    bytes-vs-compute blindness as the q38 AQE-coalesce incident,
    SCALE.md r3).  Only widens — a relation already at or above the
    shuffle width is returned untouched, so large scans never
    downscale.  The width probe prefers the file-size estimate
    (:func:`_estimated_scan_width`, zero plan conversions — r10) and
    falls back to the exact ``df.rdd`` probe for non-file-backed
    lineage; both sides of the borderline are safe (widening an
    almost-wide relation costs one extra exchange, skipping it costs
    some parallelism — the decision only gates performance, never
    results)."""
    n_shuffle = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    width = _estimated_scan_width(df)
    if width is None:
        width = df.rdd.getNumPartitions()
    if width >= n_shuffle:
        return df
    return df.repartition(n_shuffle)


def shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    unit: str = "word",
) -> DataFrame:
    """Prepared sorted ``k``-gram shingle-set relation
    ``(id_col, shingles array<bigint> sorted)`` — the shared input
    contract of :func:`jaccard_pairs`, :func:`minhash_lsh_pairs`, and
    :func:`exact_jaccard_for_pairs` (their ``sets_df`` parameter).
    Build ONCE, persist, and pass to every consumer: the per-row
    shingle HOF pass is the dominant map-side cost of the whole
    near-dup family, and a suite that runs several methods over the
    same corpus otherwise re-runs it per method (q19 measured it 3×).

    ``unit="word"`` (default, :func:`word_shingle_hashes`) or
    ``"char"`` (r4, :func:`char_shingle_hashes` — for unsegmented
    scripts where whitespace word shingles go blind; every downstream
    consumer works unchanged because the contract is just a sorted
    hash array)."""
    if unit == "word":
        grams = word_shingle_hashes(text_col, k)
    elif unit == "char":
        grams = char_shingle_hashes(text_col, k)
    else:
        raise ValueError(f"unit must be word|char, got {unit!r}")
    return df.select(
        F.col(id_col),
        F.sort_array(grams).alias("shingles"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    threshold: float = 0.8,
    persist_sets: bool = False,
    sets_df: DataFrame | None = None,
    candidates_only: bool = False,
    _persist_handles: list[DataFrame] | None = None,
) -> DataFrame:
    """All pairs (a < b) with word-k-gram Jaccard >= threshold — EXACT
    (no LSH recall loss), with positional prefix filtering.

    ``candidates_only=True`` returns the deduplicated candidate pair
    relation (id_a, id_b) BEFORE exact verification — for suites that
    verify several generators' candidates in one shared join pass
    (r9; see q19).

    The sorted-set relation feeds the prefix index and both
    verification sides (three references); ``persist_sets=True``
    evaluates the input once — use it when the input is expensive
    derived lineage (caller owns the persisted lifetime), same trade as
    :func:`minhash_lsh_pairs`.

    Prefix-filter theorem (PPJoin family): order every set by one
    canonical total order (numeric shingle-hash order here); if two
    sets have Jaccard ≥ t, their prefixes of length
    ``|S| - ceil(t·|S|) + 1`` must share at least one element. So only
    prefixes are exploded into the candidate equi-join (≈(1-t) of the
    index size at t=0.8), and candidates are verified on the full sets.
    Output: (id_a, id_b, jaccard) — identical to the naive full-explode
    join, cheaper by ~1/(1-t) on the join fan-in.

    ``sets_df``: a prepared :func:`shingle_sets` relation (same
    ``id_col``/``k``); when given, ``df``/``text_col`` are not scanned
    at all and the caller owns persistence — the share-one-shingle-pass
    path for suites running several methods over one corpus."""
    if sets_df is not None:
        sets_df = sets_df.select(
            F.col(id_col).alias("__id"), F.col("shingles").alias("__set")
        )
    else:
        src = df.select(F.col(id_col).alias("__id"), F.col(text_col))
        if persist_sets:
            # widen BEFORE the shingle HOFs so the expensive per-row
            # pass runs at full compute width, then cache the result
            src = _compute_width(src)
        sets_df = src.select(
            "__id",
            F.sort_array(word_shingle_hashes(text_col, k)).alias("__set"),
        )
        if persist_sets:
            sets_df = sets_df.persist()
            if _persist_handles is not None:
                _persist_handles.append(sets_df)
    # ceil over FLOAT t*size overcounts when the product lands an ulp
    # above an integer (0.8*5 = 4.0000000000000002 -> ceil 5, true 4),
    # silently shrinking the prefix and DROPPING true pairs from this
    # "EXACT" path; the 1e-9 back-off (>> the ~1e-13 product error,
    # << 1 for any real size) can only lengthen the prefix, which adds
    # candidates but never loses one
    prefix_len = (
        F.size("__set")
        - F.ceil(F.lit(threshold) * F.size("__set") - F.lit(1e-9))
        + 1
    ).cast("int")
    prefixes = sets_df.select(
        "__id", F.explode(F.slice("__set", 1, prefix_len)).alias("__gram")
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    candidates = (
        a.join(b, on="__gram")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates()
    )
    if candidates_only:
        return candidates
    sa = sets_df.select(F.col("__id").alias("id_a"), F.col("__set").alias("__sa"))
    sb = sets_df.select(F.col("__id").alias("id_b"), F.col("__set").alias("__sb"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sa", "__sb"))
            / F.size(F.array_union("__sa", "__sb")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    threshold: float = 0.8,
    sets_df: DataFrame | None = None,
    candidates_only: bool = False,
    containing_prefilter: str | None = None,
    prefilter_fpp: float = 0.01,
) -> DataFrame:
    """DIRECTED near-containment pairs: (id_a, id_b, containment) with
    ``|S_a ∩ S_b| / |S_a| >= threshold`` and ``id_a != id_b`` — doc a
    is (nearly) a sub-document of b. The screen symmetric Jaccard
    can't express: a paragraph quoted inside a much larger page has
    Jaccard ≈ |a|/|b| (tiny) but containment ≈ 1; crawl corpora are
    full of these (quote expansion, boilerplate-wrapped reposts), and
    containment-dedup is the standard fix (Broder 1997 distinguishes
    resemblance from containment for exactly this).

    EXACT (no sketch loss), with an asymmetric prefix filter: order
    each set canonically (numeric shingle-hash order); if
    ``|A∩B| >= t·|A|`` then among the first
    ``|A| - ceil(t·|A|) + 1`` elements of A at least one is in B
    (else the intersection is at most ``ceil(t·|A|) - 1 < t·|A|``).
    So the candidate join is A-prefix grams × the full gram index —
    the contained side prunes by the theorem, the containing side
    cannot prune (its size is unconstrained), plus the size bound
    ``|B| >= ceil(t·|A|)`` (an intersection can't exceed |B|).
    Candidates are verified on the full sorted sets.

    Scale shape: one gram-keyed equi-join (prefix explode ≈ (1-t) of
    the index vs the full index) + two id joins for verification —
    the :func:`jaccard_pairs` plan with an asymmetric prefix; no
    cross product anywhere.

    ``sets_df``: a prepared :func:`shingle_sets` relation (suite
    sharing — same contract as :func:`jaccard_pairs`).

    ``containing_prefilter`` (r10, guide §3.2): the containing side
    cannot prune by the prefix theorem, so its FULL gram index flows
    into the candidate join — at cluster scale that is the dominant
    shuffle of the whole operator (the prefix side is ~(1−t) of it).
    ``"bloom"`` builds a Bloom filter over the distinct prefix grams
    (2–3 build-time jobs; ~10 bits per distinct prefix gram at the
    default 1% fpp) and drops non-matching grams from each containing
    set ROW-LOCALLY, before the explode, so only grams that can
    possibly match a prefix are exploded and shuffled. EXACT
    regardless of fpp: a false positive just rides into the equi-join
    and finds no match there (results pinned equal by test). ``"off"``
    (the local default) skips it — on a single box the candidate join
    broadcasts the prefix side and the containing side never shuffles,
    so the probe would be pure overhead. ``None`` resolves from the
    session conf ``spark.graft.containment.prefilter`` (default
    ``off``); set it to ``bloom`` on clusters where the prefix-side
    explode exceeds the broadcast threshold (the filter itself must
    fit on the driver/executors: ~1.2 GB per 10^9 distinct prefix
    grams — shard the corpus first past that). When enabling it, pass
    a persisted ``sets_df``: the filter build is one extra pass over
    the prefix relation."""
    if sets_df is not None:
        sets_df = sets_df.select(
            F.col(id_col).alias("__id"), F.col("shingles").alias("__set")
        )
    else:
        sets_df = df.select(
            F.col(id_col).alias("__id"),
            F.sort_array(word_shingle_hashes(text_col, k)).alias("__set"),
        )
    # same float-ceil ulp back-off as jaccard_pairs: the prefix may
    # only ever LENGTHEN, never silently drop a true pair
    min_inter = F.ceil(
        F.lit(threshold) * F.size("__set") - F.lit(1e-9)
    ).cast("int")
    prefix_len = (F.size("__set") - min_inter + 1).cast("int")
    prefixes = sets_df.select(
        "__id",
        F.size("__set").alias("__na"),
        min_inter.alias("__need"),
        F.explode(F.slice("__set", 1, prefix_len)).alias("__gram"),
    )
    if containing_prefilter is None:
        containing_prefilter = (
            (sets_df if sets_df is not None else df)
            .sparkSession.conf.get(
                "spark.graft.containment.prefilter", "off"
            )
        )
    if containing_prefilter == "bloom":
        from lsdm_motogp_data_integration_spark.operators.membership import (
            build_bloom,
            might_contain,
        )

        spec = build_bloom(
            prefixes.select("__gram"), "__gram", fpp=prefilter_fpp
        )
        full = sets_df.select(
            F.col("__id").alias("__idb"),
            F.size("__set").alias("__nb"),
            F.explode(
                F.filter("__set", lambda g: might_contain(spec, g))
            ).alias("__gram"),
        )
    elif containing_prefilter == "off":
        full = sets_df.select(
            F.col("__id").alias("__idb"),
            F.size("__set").alias("__nb"),
            F.explode("__set").alias("__gram"),
        )
    else:
        raise ValueError(
            "containing_prefilter must be bloom|off, got "
            f"{containing_prefilter!r}"
        )
    candidates = (
        prefixes.join(full, "__gram")
        .filter(
            (F.col("__id") != F.col("__idb"))
            # the containing side must be able to hold the required
            # intersection
            & (F.col("__nb") >= F.col("__need"))
        )
        .select(F.col("__id").alias("id_a"), F.col("__idb").alias("id_b"))
        .dropDuplicates()
    )
    if candidates_only:
        return candidates
    sa = sets_df.select(F.col("__id").alias("id_a"), F.col("__set").alias("__sa"))
    sb = sets_df.select(F.col("__id").alias("id_b"), F.col("__set").alias("__sb"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("__sa", "__sb")) / F.size("__sa"),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a", "id_b", F.round("containment", 6).alias("containment")
        )
    )


def exact_jaccard_for_pairs(
    pairs: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    left_col: str,
    right_col: str,
    *,
    k: int = 5,
    threshold: float = 0.8,
    sets_df: DataFrame | None = None,
    unit: str = "word",
) -> DataFrame:
    """Exact word-k-gram Jaccard for GIVEN candidate pairs only — the
    verification step of the incremental-dedup contract
    (:func:`incremental_neardup` hits joined back to stored text), and
    generally the cheap exactness upgrade for any candidate generator.

    Scale: two id-equi-joins of the pair relation against the shingle
    sets — O(|pairs|) verification work, never a corpus self-join.
    Output (id_a = ``left_col`` side, id_b, jaccard) with
    :func:`jaccard_pairs`' 6-decimal rounding, so results splice into
    the same oracle relation.

    ``sets_df``: a prepared :func:`shingle_sets` relation; when given
    ``corpus``/``text_col`` are not re-shingled (suite sharing)."""
    if sets_df is not None:
        sets_df = sets_df.select(
            F.col(id_col).alias("__id"), F.col("shingles").alias("__set")
        )
    else:
        grams = (
            word_shingle_hashes(text_col, k)
            if unit == "word"
            else char_shingle_hashes(text_col, k)
        )
        sets_df = corpus.select(
            F.col(id_col).alias("__id"), grams.alias("__set")
        )
    sa = sets_df.select(
        F.col("__id").alias(left_col), F.col("__set").alias("__sa")
    )
    sb = sets_df.select(
        F.col("__id").alias(right_col), F.col("__set").alias("__sb")
    )
    return (
        pairs.select(left_col, right_col)
        .join(sa, left_col)
        .join(sb, right_col)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sa", "__sb"))
            / F.size(F.array_union("__sa", "__sb")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col(left_col).alias("id_a"),
            F.col(right_col).alias("id_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(shingle_hashes: Column, num_perm: int = 64) -> Column:
    """num_perm-wide MinHash signature as ``array<bigint>`` over a
    pre-hashed shingle set (``array<bigint>``).

    Permutation *i* is simulated by re-hashing the 8-byte shingle hash
    with a per-permutation salt (``xxhash64(lit(i), h)``) — each
    permutation costs one fixed-width long hash instead of re-hashing
    variable-length gram strings. The signature element is the min over
    the set.

    NB: the per-permutation lambda must close over ``i`` via a factory
    function — a two-parameter lambda (even ``i=i`` defaulted) makes
    PySpark bind the second parameter to the ARRAY INDEX column,
    silently collapsing all permutations to one (regression-tested)."""

    def salted(perm: int):
        return lambda h: F.xxhash64(F.lit(perm), h)

    sigs = [
        F.array_min(F.transform(shingle_hashes, salted(i)))
        for i in range(num_perm)
    ]
    # empty/null shingle sets get the -1 sentinel signature. NB this
    # must gate on size() — array(min, min, ...) of an empty set is a
    # NON-null array of nulls, so a bare coalesce never fires, and
    # null signature elements silently vanish from band hashes
    # (F.hash skips nulls), colliding all empty docs in every band.
    return F.when(
        F.size(shingle_hashes) > 0, F.array(*sigs)
    ).otherwise(F.array(*[F.lit(-1)] * num_perm))


def fused_minhash_mins(
    text: Column | str, k: int, num_perm: int, unit: str = "word"
) -> Column:
    """num_perm running MinHash minima computed in the SAME rolling
    pass that forms word k-grams — no gram array, no distinct (the min
    over a multiset equals the min over its set, so MinHash never needs
    deduplicated shingles). Values are identical to
    ``minhash_signature(word_shingle_hashes(text, k), num_perm)`` —
    including NULL text, which yields the same ``[-1, ...]`` sentinel
    (an index built via one path must collide with signatures from the
    other iff the texts match). ``unit="char"`` swaps the element
    basis to :func:`_char_element_hashes` (== signatures over
    :func:`char_shingle_hashes`, pinned by test) for unsegmented
    scripts."""
    c = F.col(text) if isinstance(text, str) else text
    if unit == "word":
        wh = F.transform(normalized_words(c), lambda w: F.xxhash64(w))
    elif unit == "char":
        wh = _char_element_hashes(c)
    else:
        raise ValueError(f"unit must be word|char, got {unit!r}")
    max_long = (1 << 63) - 1
    init = F.struct(
        F.expr("CAST(array() AS ARRAY<BIGINT>)").alias("buf"),
        F.array_repeat(F.lit(max_long), num_perm).alias("mins"),
    )

    def salted_mins(gram: Column) -> Column:
        # wrap gram in a 1-element array so the inner lambda sees it as
        # a BOUND lambda variable (evaluated once), not an outer
        # expression re-evaluated per permutation
        return F.element_at(
            F.transform(
                F.array(gram),
                lambda g: F.transform(
                    F.sequence(F.lit(0), F.lit(num_perm - 1)),
                    lambda i: F.xxhash64(i, g),
                ),
            ),
            1,
        )

    if k == 1:
        # unigram window: every element is a gram (xxhash64(h), the
        # k-generic 1-window gram); the rolling buffer stays empty —
        # the generic merge below would slice it with length k-2 = -1
        def merge(acc: Column, h: Column) -> Column:
            new_mins = F.zip_with(
                acc["mins"],
                salted_mins(F.xxhash64(h)),
                lambda a, b: F.least(a, b),
            )
            return F.struct(acc["buf"].alias("buf"), new_mins.alias("mins"))

    else:

        def merge(acc: Column, h: Column) -> Column:
            buf = acc["buf"]
            full = F.size(buf) == k - 1
            gram = F.xxhash64(
                *[F.element_at(buf, i + 1) for i in range(k - 1)], h
            )
            new_mins = F.when(
                full,
                F.zip_with(
                    acc["mins"], salted_mins(gram), lambda a, b: F.least(a, b)
                ),
            ).otherwise(acc["mins"])
            new_buf = F.when(
                full, F.concat(F.slice(buf, 2, k - 2), F.array(h))
            ).otherwise(F.concat(buf, F.array(h)))
            return F.struct(new_buf.alias("buf"), new_mins.alias("mins"))

    def finish(acc: Column) -> Column:
        # short doc (< k words): one clamped gram of all words
        return F.when(
            F.element_at(acc["mins"], 1) != max_long, acc["mins"]
        ).otherwise(salted_mins(F.xxhash64(acc["buf"])))

    # NULL text must produce minhash_signature's [-1]*num_perm sentinel,
    # not a NULL array (aggregate over NULL is NULL; nulls would then
    # vanish from band hashes and collide every null doc in every band)
    return F.when(
        c.isNull(), F.array(*[F.lit(-1)] * num_perm)
    ).otherwise(F.aggregate(wh, init, merge, finish))


def _band_bucket_cols(
    mins_col: Column, bands: int, rows_per_band: int
) -> list[Column]:
    """The LSH band hash — one bucket id per band over consecutive
    signature rows. Factored out so the batch self-join path and the
    incremental index path hash IDENTICALLY (an index built last month
    must collide with signatures computed today)."""
    return [
        F.hash(
            F.lit(b),
            *[
                F.element_at(mins_col, b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ],
        ).alias(f"__band{b}")
        for b in range(bands)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    num_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.8,
    persist_sets: bool = False,
    sets_df: DataFrame | None = None,
    candidates_only: bool = False,
    mins_df: DataFrame | None = None,
    _persist_handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact verification.

    ``candidates_only=True`` returns the deduplicated candidate pair
    relation (id_a, id_b) BEFORE exact verification — for suites that
    verify several generators' candidates in one shared join pass
    (r9; see q19).

    ``mins_df`` (r10): a prepared ``(id_col, __mins)`` signature
    relation computed with the SAME ``num_perm`` (e.g.
    :func:`minhash_signature` over the suite's shared shingle sets) —
    the in-operator signature pass is then skipped entirely, so a
    suite whose index/incremental scopes need the same signatures
    computes them once for everyone. Requires ``sets_df`` unless
    ``candidates_only=True`` (verification still reads the sets).

    ``sets_df``: a prepared :func:`shingle_sets` relation (same
    ``id_col``/``k``); when given, ``df``/``text_col`` are not scanned
    and both signatures and verification read the shared relation
    (caller owns persistence) — the one-shingle-pass path for suites.

    signatures (map) → band buckets (explode) → bucket self-join
    (the only shuffle that matters) → candidate pairs → verify exact
    Jaccard on the shingle sets → (id_a, id_b, jaccard).

    With (bands=16, rows=2), collision probability at j=0.8 is
    ≈ 1 - 8e-8 — recall-heavy banding whose extra candidates the
    exact-Jaccard verification filters (false positives impossible).
    Wider bands (rows 4+) cut candidate fan-out at some recall cost.

    The operator references its input three times (signatures + both
    verification sides). With a parquet-backed input that is three
    pruned scans — fine. With EXPENSIVE derived lineage upstream it is
    three re-evaluations: the round-1 50× probe's 175 s "knee" was
    exactly this (a 50-way union of translate() replicas recomputed 3×;
    with the input materialized the same run is ~51 s — see SCALE.md).
    ``persist_sets=True`` is the in-operator remedy: the shingle-set
    relation is persisted and BOTH the signatures and the verification
    read from it (MinHash minima over the distinct shingle set equal
    the minima over raw grams — MinHash is duplicate-insensitive), so
    the input plan is evaluated exactly once. The caller owns the
    persisted lifetime (unpersist after consuming the result); a
    composing caller can pass ``_persist_handles`` to receive the
    persisted relation and release it once the result is materialized
    (see :func:`dedup_corpus`)."""
    if num_perm % bands:
        raise ValueError("num_perm must divide evenly into bands")
    rows_per_band = num_perm // bands

    if mins_df is not None:
        if sets_df is None and not candidates_only:
            raise ValueError(
                "mins_df without sets_df only supports candidates_only"
            )
        if sets_df is not None:
            sets_df = sets_df.select(
                F.col(id_col).alias("__id"),
                F.col("shingles").alias("__set"),
            )
        mins_df = mins_df.select(
            F.col(id_col).alias("__id"), "__mins"
        )
    elif sets_df is not None:
        # shared prepared relation (shingle_sets contract): signatures
        # and verification both read it; caller owns persistence.
        # MinHash minima over the distinct sorted set equal minima over
        # raw grams — MinHash is duplicate- and order-insensitive.
        sets_df = sets_df.select(
            F.col(id_col).alias("__id"), F.col("shingles").alias("__set")
        )
        mins_df = sets_df.select(
            "__id",
            minhash_signature(F.col("__set"), num_perm).alias("__mins"),
        )
    elif persist_sets:
        # widen BEFORE the shingle/signature HOFs (see _compute_width)
        src = _compute_width(
            df.select(F.col(id_col).alias("__id"), F.col(text_col))
        )
        sets_df = src.select(
            "__id",
            word_shingle_hashes(text_col, k).alias("__set"),
        ).persist()
        if _persist_handles is not None:
            _persist_handles.append(sets_df)
        # one input evaluation total: signatures from the persisted set
        # via the SAME helper as everywhere else — an inline
        # re-implementation here once dropped the empty/null sentinel
        # and recreated the null-collapse hazard minhash_signature's
        # own comment warns about
        mins_df = sets_df.select(
            "__id",
            minhash_signature(F.col("__set"), num_perm).alias("__mins"),
        )
    else:
        # Signature minima come from the FUSED single-pass aggregate (no
        # gram array, no distinct — MinHash is duplicate-insensitive);
        # __mins stays a named multi-referenced column so CollapseProject
        # won't inline the aggregate into each band column. The
        # verification sets are a separate pruned scan of the input.
        sets_df = df.select(
            F.col(id_col).alias("__id"),
            word_shingle_hashes(text_col, k).alias("__set"),
        )
        mins_df = df.select(
            F.col(id_col).alias("__id"),
            fused_minhash_mins(text_col, k, num_perm).alias("__mins"),
        )
    band_cols = _band_bucket_cols(F.col("__mins"), bands, rows_per_band)
    buckets = mins_df.select(
        "__id", F.explode(F.array(*band_cols)).alias("__bucket")
    ).dropDuplicates(["__id", "__bucket"])

    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(b, on="__bucket")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates()
    )
    if candidates_only:
        return candidates

    sa = sets_df.select(F.col("__id").alias("id_a"), F.col("__set").alias("__sa"))
    sb = sets_df.select(F.col("__id").alias("id_b"), F.col("__set").alias("__sb"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sa", "__sb"))
            / F.size(F.array_union("__sa", "__sb")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    *,
    node_col: str = "id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Assign every node the smallest node id reachable through the
    pair graph — near-dup PAIRS become duplicate CLUSTERS (keep one
    representative per component, drop the rest).

    Iterative min-label propagation with pointer jumping: each round
    every node takes the minimum label among itself and its neighbors,
    then short-circuits through its label's label (label <- label[label])
    — the remaining diameter halves each round, so convergence is
    O(log d) rounds, and chain-shaped components of diameter up to
    ~2^max_iterations resolve within the default budget.
    Each round is one distributed join+aggregate; labels are
    ``localCheckpoint``-ed per round — without lineage truncation an
    iterative DataFrame loop re-analyzes an exponentially growing plan
    and stalls after ~10 rounds. The driver only sees the converged
    counter; no data leaves the executors.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iterations`` — partially-propagated labels are silently wrong
    answers, never returned.

    Output: (``node_col``, ``component``) for every node, singletons
    included (component = own id)."""
    if max_iterations < 1:
        # with zero rounds `changed` would stay at its initial 0 and
        # identity labels would return as a silently-unpropagated answer
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    edges = (
        pairs.select(F.col(pair_a).alias("src"), F.col(pair_b).alias("dst"))
        .unionByName(
            pairs.select(
                F.col(pair_b).alias("src"), F.col(pair_a).alias("dst")
            )
        )
        .dropDuplicates()
        .localCheckpoint()
    )
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("component")
    ).localCheckpoint()
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            labels.join(edges, labels.node == edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("__nbr_min"))
        )
        updated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"),
                F.coalesce("__nbr_min", F.col("component")),
            ).alias("__new"),
            "component",
        )
        # pointer jump: labels are always node ids, so look up the label
        # OF my new label and take it (label[label] <= label, since every
        # node's label is <= its own id and only ever decreases)
        lbl_of = updated.select(
            F.col("node").alias("__c"), F.col("__new").alias("__cc")
        )
        jumped = (
            updated.join(lbl_of, updated["__new"] == lbl_of["__c"], "left")
            .select(
                "node",
                F.coalesce("__cc", "__new").alias("__new"),
                "component",
            )
            .localCheckpoint()
        )
        changed = jumped.filter(F.col("__new") != F.col("component")).count()
        labels = jumped.select("node", F.col("__new").alias("component"))
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); raise "
            "max_iterations (diameter handled grows as 2^iterations)"
        )
    return labels.select(
        F.col("node").alias(node_col), F.col("component")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@F.pandas_udf(T.LongType())
def simhash64_udf(token_hashes: pd.Series) -> pd.Series:
    """64-bit SimHash (Charikar sketch) over a column of pre-hashed
    tokens (``array<bigint>``, e.g. ``transform(tokens, xxhash64)`` —
    computed JVM-side so Python never touches strings): per-bit ±1 vote
    of token hash bits, sign → bit. Fully vectorized numpy per doc."""
    shifts = np.arange(64, dtype=np.uint64)
    weights = 1 << np.arange(64, dtype=np.uint64)
    out = []
    for hashes in token_hashes:
        if hashes is None or len(hashes) == 0:
            out.append(0)
            continue
        h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
        bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        sim = int((weights * (votes > 0)).sum())
        out.append(sim - (1 << 64) if sim >= (1 << 63) else sim)
    return pd.Series(out, dtype="int64")


@F.pandas_udf(T.LongType())
def weighted_simhash64_udf(
    token_hashes: pd.Series, token_weights: pd.Series
) -> pd.Series:
    """Weighted SimHash: per-bit ±weight votes (Charikar's original
    weighted form). With IDF weights, ubiquitous filler tokens
    (weight ≈ 0) stop dominating the sketch — the fix for SimHash's
    weak separation on small-vocabulary corpora where every document
    shares most of the token distribution."""
    shifts = np.arange(64, dtype=np.uint64)
    weights = 1 << np.arange(64, dtype=np.uint64)
    out = []
    for hashes, ws in zip(token_hashes, token_weights):
        if hashes is None or len(hashes) == 0:
            out.append(0)
            continue
        h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
        w = np.asarray(ws, dtype=np.float64)
        bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
            np.float64
        )
        votes = ((2 * bits - 1) * w[:, None]).sum(axis=0)
        sim = int((weights * (votes > 0)).sum())
        out.append(sim - (1 << 64) if sim >= (1 << 63) else sim)
    return pd.Series(out, dtype="int64")


def md5_60bit(col: Column) -> Column:
    """60-bit integer hash from the first 15 hex chars of md5 — the
    portable token hash: md5 is bit-identical in Spark and DuckDB
    (``CAST('0x'||substr(md5(t),1,15) AS BIGINT)`` on the oracle side),
    so sketches built on it are cross-engine verifiable. 60 bits keeps
    the value inside a signed BIGINT without overflow in either
    engine."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
    weighting: str = "none",
    persist_sketch: bool = False,
    entropy_guard: str = "warn",
    _persist_handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: candidates share at least one
    of ``max_hamming + 1`` signature chunks (pigeonhole: a pair within
    Hamming distance h of 64 bits must agree on ≥1 of h+1 disjoint
    chunks), verified with ``bit_count(a XOR b) <= max_hamming``
    JVM-side. The default h=3 gives the classic 4×16-bit blocking;
    larger radii derive more/narrower chunks — complete coverage, but
    narrower chunks collide more, so candidate fan-out grows fast
    (h=3 is the practical sweet spot).

    ``token_hash``: ``"xxhash64"`` (default — fastest, JVM-native) or
    ``"md5_60"`` (portable: DuckDB computes the identical hash, so the
    whole sketch is oracle-verifiable; bits 60-63 are then always 0,
    which only makes the top chunk slightly more collision-prone among
    CANDIDATES — verification still exact).

    ``weighting``: ``"none"`` (±1 votes) or ``"idf"`` — per-bit votes
    weighted by ``ln(N/df)`` from one corpus document-frequency pass
    (explode → count → broadcast join back, all JVM-side; Python sees
    only hash/weight arrays). IDF weighting is the remedy for
    small-vocabulary corpora where every document shares most of the
    token distribution and unweighted SimHash stops separating
    (separation property asserted in tests).

    ``persist_sketch=True`` persists the (id, signature) relation
    before the chunk self-join. The join references it twice, so
    without the persist the whole upstream (tokenize → hash → vote)
    runs twice — measured 5× at sf0.1 (2.5 s → 0.5 s hot). The
    persisted relation is 16 bytes/doc — negligible even at 100 TB
    corpus scale.

    Output: (id_a, id_b, hamming)."""
    if token_hash == "xxhash64":
        hash_fn = F.xxhash64
    elif token_hash == "md5_60":
        hash_fn = md5_60bit
    else:
        raise ValueError(f"token_hash must be xxhash64|md5_60, got {token_hash!r}")
    if weighting not in ("none", "idf"):
        raise ValueError(f"weighting must be none|idf, got {weighting!r}")
    if not (0 <= int(max_hamming) <= 63):
        raise ValueError(f"max_hamming must be 0..63, got {max_hamming}")
    # null-text docs produce NO pairs in either weighting mode (the idf
    # path's explode drops them implicitly; the unweighted path would
    # otherwise sketch them all to 0 and emit every null-null pair)
    df = df.filter(F.col(text_col).isNotNull())
    token_hashes = F.transform(
        normalized_words(text_col), lambda t: hash_fn(t)
    )
    if weighting == "idf":
        n_docs = df.count()
        toks = df.select(
            F.col(id_col).alias("__id"),
            F.explode(token_hashes).alias("__h"),
        )
        idf = (
            toks.dropDuplicates(["__id", "__h"])
            .groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .select(
                "__h",
                F.log(F.lit(float(n_docs)) / F.col("__df")).alias("__w"),
            )
        )
        per_doc = (
            toks.join(F.broadcast(idf), "__h")
            .groupBy("__id")
            # sort the (hash, weight) pairs so the float vote summation
            # order — and thus the signature — is partition-layout
            # independent
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("__h", "__w"))
                ).alias("__hw")
            )
        )
        hashed = per_doc.select(
            "__id",
            weighted_simhash64_udf(
                F.transform(F.col("__hw"), lambda s: s["__h"]),
                F.transform(F.col("__hw"), lambda s: s["__w"]),
            ).alias("__sh"),
        )
    else:
        hashed = df.select(
            F.col(id_col).alias("__id"),
            simhash64_udf(token_hashes).alias("__sh"),
        )
    if persist_sketch:
        hashed = hashed.persist()
        if _persist_handles is not None:
            _persist_handles.append(hashed)
    return hamming64_pairs(
        hashed,
        "__id",
        "__sh",
        max_hamming=max_hamming,
        entropy_guard=entropy_guard,
    )


def _chunk_mask(width: int) -> int:
    """Bit mask for one pigeonhole chunk as a JVM-long literal.  A
    radius-0 join over full-width signatures has ONE chunk of width
    64, whose unsigned mask 2^64-1 does not fit a Java long — the
    signed all-ones -1 is the same bit pattern and bitwiseAND treats
    it identically (r9 fix; every narrower chunk is unaffected)."""
    return -1 if width >= 64 else (1 << width) - 1


def _hamming_chunk_bounds(
    max_hamming: int, sig_bits: int = 64
) -> list[int]:
    """Balanced pigeonhole chunk boundaries: ``h+1`` chunks whose
    widths differ by at most 1 bit (``bounds[i] = i*W // (h+1)`` over
    the ``W = sig_bits`` wide signature).  The former uniform
    ceil-width split had two defects this fixes: a rump chunk (4 bits
    at h=6) whose ``2^-4`` collision rate dominated the candidate
    count ~4× over the documented model, and EMPTY chunks from h=22
    up (ceil(64/ceil(64/(h+1))) < h+1) that silently broke the
    pigeonhole completeness guarantee.  ``sig_bits`` < 64 (r8) splits
    only the bits that actually VARY — a 16-bit signature split into
    64-bit-wide chunks would put all rows in the same bucket for
    every all-zero high chunk (n² candidates per dead chunk)."""
    n_chunks = int(max_hamming) + 1
    return [i * sig_bits // n_chunks for i in range(n_chunks + 1)]


def hamming_join_cost(
    hashed: DataFrame, sig_col: str, max_hamming: int,
    sig_bits: int = 64,
) -> dict:
    """One-aggregate cost estimate for :func:`hamming64_pairs` —
    the self-policing form of the r6 SCALE probe's radius cost model
    (VERDICT r6 next-round #2).

    A single JVM-side pass computes n and the 64 per-bit one-counts;
    driver-side math (O(64), no data collect) then yields:

    - ``effective_bits``: Σ per-bit Shannon entropy — 64 for
      incompressible signatures, collapsing toward 0 when the hashed
      content is smaller than the hash grid (the r6 probe's 4×3-frame
      dHashes measured 24/64, turning the banded join quadratic).
    - ``est_candidates``: expected chunk-join candidate rows under
      per-bit independence — ``(n²/2)·Σ_c Π_{b∈c}(p_b²+(1-p_b)²)``
      (the per-chunk Rényi collision probability).
    - ``model_candidates``: the same with all p=0.5 — the
      incompressible baseline ``(n²/2)·Σ_c 2^-width_c``.
    - ``ratio``: est/model — how much worse than the documented cost
      model this corpus behaves; the guard's trigger.
    """
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(
            F.shiftrightunsigned(F.col(sig_col), b)
            .bitwiseAND(F.lit(1))
            .cast("long")
        ).alias(f"b{b}")
        for b in range(sig_bits)
    ]
    if sig_bits < 64:
        # self-policing the sig_bits contract in the same pass: a
        # signature with set bits ABOVE the declared width breaks the
        # pigeonhole completeness guarantee silently
        aggs.append(
            F.max(
                F.shiftrightunsigned(F.col(sig_col), sig_bits)
            ).alias("__hi")
        )
    row = hashed.agg(*aggs).collect()[0]  # ≤66 numbers — metadata-sized
    if sig_bits < 64 and (row["__hi"] or 0) != 0:
        raise ValueError(
            f"hamming_join_cost: signatures carry set bits at or above "
            f"the declared sig_bits={sig_bits} — the chunk split would "
            f"silently miss pairs differing only in those bits"
        )
    n = int(row["n"] or 0)
    if n == 0:
        return {
            "n": 0,
            "effective_bits": 0.0,
            "est_candidates": 0.0,
            "model_candidates": 0.0,
            "ratio": 1.0,
        }
    import math

    ps = [int(row[f"b{b}"] or 0) / n for b in range(sig_bits)]
    eff = 0.0
    for p in ps:
        if 0.0 < p < 1.0:
            eff -= p * math.log2(p) + (1 - p) * math.log2(1 - p)
    bounds = _hamming_chunk_bounds(max_hamming, sig_bits)
    est = 0.0
    model = 0.0
    for i in range(len(bounds) - 1):
        coll = 1.0
        for b in range(bounds[i], bounds[i + 1]):
            p = ps[b]
            coll *= p * p + (1 - p) * (1 - p)
        est += coll
        model += 2.0 ** -(bounds[i + 1] - bounds[i])
    half_n2 = n * n / 2.0
    est *= half_n2
    model *= half_n2
    return {
        "n": n,
        "effective_bits": eff,
        "est_candidates": est,
        "model_candidates": model,
        "ratio": (est / model) if model > 0 else 1.0,
    }


#: Guard pre-pass memo: (session UUID, analyzed-plan semantic hash,
#: radius) → cost dict.  The guard's 65-expression aggregate executes
#: in ~40 ms but costs ~0.3 s of Catalyst ANALYSIS per fresh plan —
#: a fixed per-call driver cost that repeated identical pipelines
#: (bench loops, retried jobs, dashboard refreshes) need not re-pay.
#: Keyed by the canonicalized plan, so a same-path re-read memo-hits;
#: if the files UNDER an unchanged path are rewritten between calls,
#: the stale estimate is reused — acceptable for a cost ESTIMATE that
#: never affects output correctness.  Bounded FIFO.
_GUARD_COST_MEMO: dict[tuple, tuple] = {}
_GUARD_COST_MEMO_MAX = 128


def _guard_memo_key(
    hashed: DataFrame, max_hamming: int, sig_bits: int = 64
):
    try:
        return (
            hashed.sparkSession._jsparkSession.sessionUUID(),
            hashed._jdf.queryExecution().analyzed().semanticHash(),
            int(max_hamming),
            int(sig_bits),
        )
    except Exception:  # Spark Connect — no JVM plan access, no memo
        return None


def _guard_memo_put(key, value: tuple) -> None:
    if key is None:
        return
    if len(_GUARD_COST_MEMO) >= _GUARD_COST_MEMO_MAX:
        _GUARD_COST_MEMO.pop(next(iter(_GUARD_COST_MEMO)))
    _GUARD_COST_MEMO[key] = value


def hamming64_pairs(
    hashed: DataFrame,
    id_col: str,
    sig_col: str,
    *,
    max_hamming: int = 3,
    sig_bits: int = 64,
    collapse_identical: bool = False,
    entropy_guard: str = "warn",
    guard_ratio: float = 16.0,
    guard_min_candidates: float = 2e6,
    guard_max_candidates: float = 1e8,
) -> DataFrame:
    """All pairs of rows whose 64-bit signatures are within
    ``max_hamming`` bits — the banded-candidate core shared by SimHash
    text near-dup (:func:`simhash_pairs`) and perceptual image near-dup
    (``multimodal.image_dhash``; VERDICT r5 next-round #2).

    COMPLETE, never sampled: candidates share at least one of
    ``max_hamming + 1`` disjoint signature chunks (pigeonhole: a pair
    within Hamming distance h of 64 bits must agree on ≥1 of h+1
    chunks), then ``bit_count(a XOR b) <= max_hamming`` verifies
    JVM-side. The chunk-bucket equi-join is the only shuffle — never an
    all-pairs product; chunk count derives from the radius so the
    guarantee holds for any ``max_hamming`` (a fixed 4-chunk split
    would silently miss pairs differing in all four chunks at h >= 4).

    RADIUS COST MODEL (the r6 scale probe's finding, SCALE.md; r7:
    balanced chunks + a self-policing guard): the 64 bits split into
    ``h+1`` chunks of width ``64//(h+1)`` or one more (balanced — see
    :func:`_hamming_chunk_bounds`), so expected candidates on
    incompressible signatures are ``≈ (n²/2)·Σ_c 2^-width_c`` — the
    pigeonhole guarantee gets quadratically expensive as h grows
    (h=3 → 4 × 16 bits: n²/32768 ; h=6 → 7 × ~9: n²/151 ;
    h=10 → 11 × ~6: n²/11, measured 45× time at 20× data). Keep the
    radius as tight as the duplicates you actually hunt (the engine's
    perceptual twins measure ≤ 4 bits), and pass
    ``collapse_identical=True`` when exact-duplicate signatures
    are common (real corpora): the self-join then runs on DISTINCT
    signatures — identical-signature groups expand combinatorially
    AFTER the join, so n enters the join as |distinct sigs|. Output is
    pair-for-pair identical either way (pinned by test).

    ENTROPY GUARD (r7, VERDICT r6 #2): signatures of content smaller
    than the hash grid carry far fewer than 64 effective bits (the r6
    probe measured 24/64 on 4×3-frame dHashes → radius-6 quadratic
    blowup), which the cost model can't see from the radius alone.
    ``entropy_guard`` runs :func:`hamming_join_cost` (one cheap
    aggregate) before the join and warns (``"warn"``, default) or
    raises (``"raise"``) on either trigger:

    - **collapse**: the corpus behaves ``guard_ratio``× worse than
      the incompressible model AND the estimate exceeds
      ``guard_min_candidates`` (the r6 vdhash case: 24/64 bits);
    - **blowup**: the estimate exceeds ``guard_max_candidates``
      outright — quadratic cost is pathological past some point even
      at full entropy, and mild per-bit skew (the 7×6 dhash fixtures:
      48/64 bits, ratio ~5) evades a ratio-only check while still
      producing 10⁸+ candidates at scale.

    ``"off"`` skips the pre-pass.  Under ``collapse_identical`` the
    guard evaluates the DISTINCT signature relation — the one that
    actually enters the join.

    SIG_BITS (r8, VERDICT r7 #5): signatures narrower than 64 bits
    (coarser perceptual grids — a 5×4 dHash is 16 bits) declare their
    width via ``sig_bits``; the pigeonhole chunks then split only the
    bits that vary.  With the default 64-bit split, a 16-bit
    signature would put EVERY row in the same bucket for each
    all-zero high chunk — n² candidates per dead chunk, which is
    exactly why the entropy guard fired at every radius on
    thumbnail-video corpora.  Bits at or above ``sig_bits`` MUST be
    zero (pigeonhole completeness silently breaks otherwise); the
    guard pre-pass verifies this in its aggregate and raises.

    PIN CONTRACT (r8): with the guard on, the (id, sig) relation is
    ``persist()``-ed before the pre-pass, so the guard aggregate plus
    the self-join's two branches evaluate the upstream lineage
    exactly ONCE — callers need not persist their input.  The pin is
    16 bytes/row, is deduped by the CacheManager against any
    same-plan upstream persist, and frees on
    ``spark.catalog.clearCache()`` or session end (it cannot be
    unpersisted here — it must outlive the returned lazy DataFrame).
    With ``entropy_guard="off"`` no pin happens and the self-join's
    two branches each evaluate the input's lineage: persist upstream
    yourself if it is expensive.

    Output: (id_a, id_b, hamming), id_a < id_b."""
    if not (1 <= int(sig_bits) <= 64):
        raise ValueError(f"sig_bits must be 1..64, got {sig_bits}")
    if not (0 <= int(max_hamming) <= sig_bits - 1):
        raise ValueError(
            f"max_hamming must be 0..{sig_bits - 1} for "
            f"sig_bits={sig_bits}, got {max_hamming}"
        )
    if entropy_guard not in ("off", "warn", "raise"):
        raise ValueError(
            f"entropy_guard must be off/warn/raise, got {entropy_guard!r}"
        )
    hashed = hashed.select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("__sh")
    )
    if collapse_identical:
        return _hamming64_pairs_collapsed(
            hashed,
            max_hamming,
            sig_bits=sig_bits,
            entropy_guard=entropy_guard,
            guard_ratio=guard_ratio,
            guard_min_candidates=guard_min_candidates,
            guard_max_candidates=guard_max_candidates,
        )
    if entropy_guard != "off":
        # the guard's aggregate evaluates the full relation anyway —
        # pin the 16-byte (id, sig) rows FIRST so (a) the aggregate's
        # scan fills the cache and (b) the chunk self-join's two
        # branches read the filled cache, instead of recomputing a
        # possibly expensive upstream lineage twice more (VERDICT r7
        # #2: an unpersisted caller paid upstream 3×).  persist(), not
        # localCheckpoint: the CacheManager dedupes by analyzed plan,
        # so a repeated identical query reuses the pinned sketch
        # across calls (a checkpoint's RDD-scan plan is unique per
        # call — measured 3× q21 hot-run cost).  UNPERSIST CONTRACT:
        # the pin must outlive the returned (lazy) DataFrame, so
        # nothing here unpersists it — it is 16 bytes/row, dedupes
        # with any upstream persist_sketch pin of the same plan, and
        # frees on spark.catalog.clearCache() or session end.
        # memoized by (session, plan semantic hash, radius): repeated
        # identical pipelines skip the pre-pass's fixed ~0.3 s of
        # Catalyst plan analysis AND the width probe's ~50 ms physical
        # planning (the widen decision rides in the memo; an identical
        # repartition plan then re-hits the CacheManager pin from the
        # first call).  The warn/raise below still fires per call.
        key = _guard_memo_key(hashed, max_hamming, sig_bits)
        hit = _GUARD_COST_MEMO.get(key) if key is not None else None
        if hit is not None:
            cost, widened = hit
            if widened:
                n_shuffle = int(
                    hashed.sparkSession.conf.get(
                        "spark.sql.shuffle.partitions", "200"
                    )
                )
                hashed = hashed.repartition(n_shuffle)
            hashed = hashed.persist()
        else:
            wide = _compute_width(hashed)
            widened = wide is not hashed
            hashed = wide.persist()
            cost = hamming_join_cost(
                hashed, "__sh", max_hamming, sig_bits
            )
            _guard_memo_put(key, (cost, widened))
        collapse = (
            cost["ratio"] > guard_ratio
            and cost["est_candidates"] > guard_min_candidates
        )
        blowup = cost["est_candidates"] > guard_max_candidates
        if collapse or blowup:
            why = (
                "signature entropy collapse"
                if collapse
                else "candidate blowup"
            )
            msg = (
                f"hamming64_pairs: {why} — "
                f"{cost['effective_bits']:.1f}/64 effective bits over "
                f"{cost['n']} signatures makes the radius-{max_hamming} "
                f"band join ~{cost['ratio']:.0f}x the incompressible "
                f"cost model (~{cost['est_candidates']:.2e} candidate "
                f"rows). Tighten max_hamming, hash a coarser grid, or "
                f"pass collapse_identical=True; entropy_guard='off' "
                f"silences this check."
            )
            if entropy_guard == "raise":
                raise ValueError(msg)
            import warnings

            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    bounds = _hamming_chunk_bounds(max_hamming, sig_bits)
    chunks = hashed.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("c"),
                        F.shiftrightunsigned(F.col("__sh"), bounds[i])
                        .bitwiseAND(
                            F.lit(_chunk_mask(bounds[i + 1] - bounds[i]))
                        )
                        .alias("v"),
                    )
                    for i in range(len(bounds) - 1)
                ]
            )
        ).alias("__chunk"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, on=F.col("a.__chunk") == F.col("b.__chunk"))
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh")))
            .cast("bigint")
            .alias("hamming"),
        )
        # verify BEFORE deduplicating: on low-entropy corpora the chunk
        # join can emit 100× more candidates than survivors (305k → 2.5k
        # measured at sf0.1), and the hamming check is a codegen'd
        # bit_count while dropDuplicates is a shuffle — shrink first.
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def _hamming64_pairs_collapsed(
    hashed: DataFrame,
    max_hamming: int,
    *,
    sig_bits: int = 64,
    entropy_guard: str = "warn",
    guard_ratio: float = 16.0,
    guard_min_candidates: float = 2e6,
    guard_max_candidates: float = 1e8,
) -> DataFrame:
    """:func:`hamming64_pairs` with the identical-signature collapse:
    (1) group to distinct signatures with their member-id lists,
    (2) run the pigeonhole chunk join on the DISTINCT signatures only
    (plus the ham-0 within-group pairs, which need no join at all),
    (3) expand each matched signature pair back to member-id pairs.
    Exact — every (a, b) with ham ≤ h appears exactly once — but the
    expensive self-join sees |distinct sigs| rows, which on real
    corpora (exact-dup-heavy) is a large fraction smaller than n."""
    # the grouped relation feeds FIVE plan branches (the sig self-join's
    # two sides, both expansion joins, and the within-group pairs):
    # pin it — 8 bytes + a member-id list per distinct signature
    # (measured unpinned: the groupBy re-ran per branch, 5× the work).
    # _compute_width BEFORE the pin: the grouped relation's BYTES are
    # tiny, so AQE coalesces its shuffle to ~1 partition and the pin
    # freezes that — then the chunk join's candidate probe (the
    # expensive part, n²·(h+1)/2^w rows) runs on one core (measured
    # 12× on 100k distinct sigs; the q38 bytes-vs-compute blindness)
    groups = _compute_width(
        hashed.groupBy("__sh").agg(
            F.sort_array(F.collect_list("__id")).alias("__ids")
        )
    ).localCheckpoint(eager=True)
    # within-group pairs (identical signatures, hamming 0): pure
    # array combinatorics, no join
    within = (
        groups.filter(F.size("__ids") >= 2)
        .select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("__ids"),
                            lambda a: F.transform(
                                F.col("__ids"),
                                lambda b: F.struct(
                                    a.alias("id_a"), b.alias("id_b")
                                ),
                            ),
                        )
                    ),
                    lambda s: s["id_a"] < s["id_b"],
                )
            ).alias("__p")
        )
        .select(
            F.col("__p.id_a").alias("id_a"),
            F.col("__p.id_b").alias("id_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    sig_pairs = hamming64_pairs(
        groups.select(F.col("__sh").alias("__sig")),
        "__sig",
        "__sig",
        max_hamming=max_hamming,
        sig_bits=sig_bits,
        entropy_guard=entropy_guard,
        guard_ratio=guard_ratio,
        guard_min_candidates=guard_min_candidates,
        guard_max_candidates=guard_max_candidates,
    ).filter(F.col("hamming") > 0)
    ga = groups.select(
        F.col("__sh").alias("id_a"), F.col("__ids").alias("__ids_a")
    )
    gb = groups.select(
        F.col("__sh").alias("id_b"), F.col("__ids").alias("__ids_b")
    )
    across = (
        sig_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("__ids_a"),
                        lambda a: F.transform(
                            F.col("__ids_b"),
                            lambda b: F.struct(
                                F.least(a, b).alias("id_a"),
                                F.greatest(a, b).alias("id_b"),
                            ),
                        ),
                    )
                )
            ).alias("__p"),
            "hamming",
        )
        .select(
            F.col("__p.id_a").alias("id_a"),
            F.col("__p.id_b").alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(across)


def hamming64_join(
    probe: DataFrame,
    index: DataFrame,
    id_col: str,
    sig_col: str,
    *,
    max_hamming: int = 3,
    sig_bits: int = 64,
    ref_id_col: str | None = None,
    ref_sig_col: str | None = None,
) -> DataFrame:
    """Two-relation variant of :func:`hamming64_pairs` — the
    incremental/streaming screen: every (probe, index) pair within
    ``max_hamming`` bits, via the same pigeonhole chunk buckets (a
    probe meets an index row iff they agree on ≥1 of ``max_hamming+1``
    disjoint chunks — COMPLETE for the radius, bucketed, never
    |probe|×|index|). The perceptual analogue of
    ``incremental_neardup``'s MinHash band screen: the index side is 8
    bytes per historical item, so screening a new batch against an
    arbitrarily long history shuffles only chunk buckets.

    ``ref_id_col``/``ref_sig_col`` default to the probe-side names.
    ``sig_bits`` (r8) declares narrow signatures, same contract as
    :func:`hamming64_pairs`; r8 also moved this join onto the same
    BALANCED chunk bounds (the old ceil-width split left a rump
    chunk whose higher collision rate dominated candidates ~4×).
    Output: (new_id, ref_id, hamming)."""
    if not (1 <= int(sig_bits) <= 64):
        raise ValueError(f"sig_bits must be 1..64, got {sig_bits}")
    if not (0 <= int(max_hamming) <= sig_bits - 1):
        raise ValueError(
            f"max_hamming must be 0..{sig_bits - 1} for "
            f"sig_bits={sig_bits}, got {max_hamming}"
        )
    bounds = _hamming_chunk_bounds(max_hamming, sig_bits)

    def chunked(df: DataFrame, idc: str, sgc: str) -> DataFrame:
        return df.select(
            F.col(idc).alias("__id"), F.col(sgc).alias("__sh")
        ).select(
            "__id",
            "__sh",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("c"),
                            F.shiftrightunsigned(
                                F.col("__sh"), bounds[i]
                            )
                            .bitwiseAND(
                                F.lit(
                                    _chunk_mask(
                                        bounds[i + 1] - bounds[i]
                                    )
                                )
                            )
                            .alias("v"),
                        )
                        for i in range(len(bounds) - 1)
                    ]
                )
            ).alias("__chunk"),
        )

    a = chunked(probe, id_col, sig_col).alias("a")
    b = chunked(
        index, ref_id_col or id_col, ref_sig_col or sig_col
    ).alias("b")
    return (
        a.join(b, on=F.col("a.__chunk") == F.col("b.__chunk"))
        .select(
            F.col("a.__id").alias("new_id"),
            F.col("b.__id").alias("ref_id"),
            F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["new_id", "ref_id"])
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def dot_expr(a: Column, b: Column) -> Column:
    """Float64 dot product of two ``array<float|double>`` columns
    (built-in higher-order functions, JVM-side)."""
    af = F.transform(a, lambda x: x.cast("double"))
    bf = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(af, bf, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_expr(a: Column) -> Column:
    """Float64 L2 norm of an ``array<float|double>`` column."""
    af = F.transform(a, lambda x: x.cast("double"))
    return F.sqrt(F.aggregate(af, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity, float64. For pairwise scans prefer
    precomputing :func:`norm_expr` per row before the join (the
    ``dot / (norm_a * norm_b)`` result is bit-identical) — this full
    expression recomputes both norms per pair."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def precast_dot(a: Column, b: Column) -> Column:
    """Dot product of two arrays ALREADY cast to double (the pairwise-
    scan fast path: cast once per row before the join, so the per-pair
    expression is just zip·multiply·sum — :func:`dot_expr` would
    re-run the cast transform per pair). One definition shared by the
    blocked pair scan and the broadcast holdout screen so the
    accumulate order can't drift between them."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: salt lanes for the blocked embedding pair scan: per-pair compute is
#: split across ``_SALT_R × #blocks`` partitions (see the block_col
#: branch below); raising it buys parallelism at the cost of
#: replicating the right side more times.
_SALT_R = 8


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    block_col: str | None = None,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Pairs (a < b) with cosine >= threshold. Candidate generation is
    ALWAYS blocked — there is deliberately no all-pairs fallback (a
    silent ``crossJoin`` would be O(n²) at corpus scale):

    - ``block_col`` given: exact within user blocks (cluster/label/
      shard key); quadratic only inside a block.
    - ``block_col=None``: deterministic random-hyperplane LSH buckets
      (``n_tables`` tables × ``n_planes``-bit signatures, same
      construction as ``operators.ann``). A pair is scored iff it
      shares a bucket in ≥1 table; exact duplicates always collide
      (identical signatures), and at threshold 0.99 a pair agrees on a
      given bit w.p. ≈0.955, so 4×8-bit tables recover ≈0.99 of true
      pairs (recall floor asserted in tests). ``dim`` defaults to the
      first row's vector length.

    Output: (id_a, id_b, cosine)."""
    # NULL vectors would crash the signature UDF (np.vstack) and make
    # the first-row dim inference return None
    df = df.filter(F.col(vec_col).isNotNull())
    cols = [
        F.col(id_col).alias("__id"),
        # cast to float64 ONCE per row (a per-pair dot over the raw
        # float column would re-run the cast transform per pair), and
        # norms once per row, not once per pair
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__vd"),
        norm_expr(F.col(vec_col)).alias("__n"),
    ]
    if block_col:
        cols.append(F.col(block_col).alias("__blk"))
    slim = df.select(*cols)
    cond = F.col("a.__id") < F.col("b.__id")
    if block_col:
        # Salted self-join: the pair space is quadratic-within-block
        # (heavy HOF dot per pair) while the block relation's BYTES are
        # tiny, so AQE coalesces the plain blk-keyed join down to a
        # couple of post-shuffle partitions and the whole scan
        # serializes (measured: q27 blocked ran on 2 tasks). Splitting
        # the left side into __SALT_R salt lanes (pair (x,y) lands in
        # exactly one lane — x's) and pinning the width with an
        # explicit user repartition (which AQE never coalesces) spreads
        # the per-pair compute R×#blocks ways; the right side is
        # replicated R× — R·|corpus| tiny rows against the quadratic
        # pair compute they unlock. Results are identical: the salt
        # only partitions the (a, b) pair space.
        n_shuffle = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        a = slim.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("__id")), F.lit(_SALT_R)).cast("int"),
        ).repartition(n_shuffle, "__blk", "__salt")
        b = slim.withColumn(
            "__salt",
            F.explode(
                F.sequence(F.lit(0), F.lit(_SALT_R - 1)).cast("array<int>")
            ),
        )
        pairs = a.alias("a").join(
            b.alias("b"), on=["__blk", "__salt"]
        ).filter(cond)
    else:
        from lsdm_motogp_data_integration_spark.operators.ann import (
            signature_udf,
        )

        if dim is None:
            first = df.select(F.size(F.col(vec_col)).alias("d")).first()
            if first is None:
                dim = 1  # empty input; any plane matrix works
            else:
                dim = first["d"]
        sigs = slim.select(
            "*",
            F.posexplode(
                signature_udf(n_planes, dim, n_tables)(F.col("__vd"))
            ).alias("__tbl", "__sig"),
        )
        a, b = sigs.alias("a"), sigs.alias("b")
        pairs = a.join(
            b,
            on=(F.col("a.__tbl") == F.col("b.__tbl"))
            & (F.col("a.__sig") == F.col("b.__sig")),
        ).filter(cond)
    raw_dot = precast_dot(F.col("a.__vd"), F.col("b.__vd"))
    scored = pairs.select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        (raw_dot / (F.col("a.__n") * F.col("b.__n"))).alias("__cos"),
    )
    if not block_col:
        # a pair sharing buckets in several tables scores identically
        # each time — keep one copy
        scored = scored.dropDuplicates(["id_a", "id_b"])
    return (
        scored.filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b", F.round("__cos", 6).alias("cosine"))
    )


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    n_clusters: int = 8,
    n_iters: int = 2,
    threshold: float = 0.99,
    train_sample: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then mark as semantic duplicates the members with
    cosine ≥ ``threshold`` to a smaller-id member of the SAME cluster
    (deterministic survivor = smallest id — the paper keeps one point
    per high-similarity set; id order replaces its arbitrary choice).

    Scale shape — the paper's own argument: clustering bounds the pair
    space, so the cosine scan is quadratic only WITHIN a cluster, never
    across the corpus. THE KNOB MUST SCALE: with ``n_clusters`` fixed,
    per-cluster membership grows linearly with the corpus and the
    within-cluster scan grows quadratically — size ``n_clusters ∝
    corpus_rows / target_cluster_size`` (the paper uses ~100k clusters
    at web scale; a few hundred members per cluster keeps the scan
    flat — the 20× probe in SCALE.md pins this). Training cost stays
    bounded regardless (sample-bounded Lloyd).
    Composition of two verified parts: the shared
    deterministic k-means trainer and assignment
    (``ann.with_kmeans_clusters`` — sample-bounded Lloyd, the codebook
    as one plan constant, a built-in array expression that adds
    ``cluster`` to the corpus as a projection: no Python worker and no
    join of an id-keyed assignment back onto the corpus) and the
    blocked pair scorer (:func:`embedding_neardup_pairs` with
    ``block_col='cluster'``). Fully engine-replayable: the q27 oracle
    unrolls the same Lloyd codebook and recomputes the within-cluster
    pair screen in SQL.

    Returns one row per input vector (null-vector rows are dropped, as
    everywhere in this family): ``(id_col, cluster, dup_of, keep)``
    where ``dup_of`` is the smallest same-cluster near-duplicate id
    (null for survivors) and ``keep = dup_of IS NULL``."""
    from lsdm_motogp_data_integration_spark.operators.ann import (
        with_kmeans_clusters,
    )

    with_c = with_kmeans_clusters(
        df,
        vec_col,
        id_col,
        n_clusters=n_clusters,
        n_iters=n_iters,
        train_sample=train_sample,
    ).drop("centroid_sim")
    pairs = embedding_neardup_pairs(
        with_c, vec_col, id_col, block_col="cluster", threshold=threshold
    )
    dups = pairs.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    return (
        with_c.select(F.col(id_col), F.col("cluster"))
        .join(dups.withColumnRenamed("id_b", id_col), id_col, "left")
        .withColumn("keep", F.col("dup_of").isNull())
    )


# ---------------------------------------------------------------------------
# end-to-end corpus deduplication
# ---------------------------------------------------------------------------


def dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.8,
    persist_sets: bool = True,
    keep_by: Column | None = None,
    k: int = 5,
    unit: str = "word",
) -> DataFrame:
    """The whole near-dup removal pipeline as one call: MinHash-LSH
    candidate pairs (exact-Jaccard verified at ``threshold``) → closed
    into clusters via pointer-jumping connected components → keep ONE
    representative per cluster. Returns the surviving rows of ``df``
    with their original columns — what a training-data pipeline
    actually feeds downstream.

    Survivor policy: by default the smallest id (deterministic). Pass
    ``keep_by`` (a Column evaluated against ``df``'s rows, e.g. a
    quality score) to keep the HIGHEST-scoring member instead — the
    "keep best, not first" policy real curation pipelines want when a
    cluster mixes a clean original with mangled mirrors; ties fall
    back to smallest id so the choice stays deterministic.

    Every stage is the scale path: banded candidate generation (no
    all-pairs), O(log d) label rounds, and a final broadcast-size
    semi-join of representatives when clusters are few, else a plain
    shuffled semi-join.

    Persist lifetime: with ``persist_sets=True`` the pair relation is
    eagerly localCheckpoint-ed (it is O(near-dup pairs) — small — and
    the iterative component phase re-reads it anyway), after which the
    shingle-set cache is released — no storage outlives the call.

    Exact duplicates are collapsed FIRST (md5-digest window, the same
    survivor policy): a group of m byte-identical documents — routine
    at corpus scale (empty strings, boilerplate mirrors) — would
    otherwise collide in every band and materialize O(m²) verified
    pairs before clustering ever sees them. Only the per-digest
    survivor enters the near-dup stage; the final semi-join returns
    one representative per combined exact+near-dup cluster.

    ``unit="char"`` (+ ``k``, default 8 is sensible there) switches the
    shingle basis to character k-grams for unsegmented scripts (see
    :func:`char_shingle_hashes` — the word basis degenerates to exact
    matching on CJK). The incremental/streaming index family takes the
    same ``unit`` — but a MIXED pairing (char batch vs word-basis
    index or vice versa) silently never matches (signatures are basis-
    positional): keep one basis per index lineage."""
    order = (
        [keep_by.desc(), F.col(id_col).asc()]
        if keep_by is not None
        else [F.col(id_col).asc()]
    )
    dw = Window.partitionBy(F.md5(F.col(text_col))).orderBy(*order)
    pruned = (
        df.withColumn("__xrk", F.row_number().over(dw))
        .filter(F.col("__xrk") == 1)
        .drop("__xrk")
    )
    handles: list[DataFrame] = []
    if unit == "word" and k == 5:
        # the default path is untouched (plan-pin stability)
        pairs = minhash_lsh_pairs(
            pruned, text_col, id_col,
            threshold=threshold, persist_sets=persist_sets,
            _persist_handles=handles,
        )
    else:
        sets = shingle_sets(pruned, text_col, id_col, k=k, unit=unit)
        if persist_sets:
            sets = sets.persist()
            handles.append(sets)
        pairs = minhash_lsh_pairs(
            pruned, text_col, id_col,
            k=k, threshold=threshold, sets_df=sets,
        )
    if handles:
        pairs = pairs.localCheckpoint(eager=True)
        for h in handles:
            h.unpersist()
    components = connected_components(
        pruned.select(F.col(id_col)), pairs, node_col=id_col
    )
    if keep_by is None:
        reps = (
            components.groupBy("component")
            .agg(F.min(F.col(id_col)).alias(id_col))
            .select(id_col)
        )
    else:
        # rank within the component: highest score, ties -> smallest
        # id. A window (one shuffle on the component key) instead of a
        # max(struct(score, -id)) trick, which silently null-casts
        # non-numeric id types.
        scored = pruned.select(F.col(id_col), keep_by.alias("__keep_score"))
        w = Window.partitionBy("component").orderBy(
            F.col("__keep_score").desc(), F.col(id_col).asc()
        )
        reps = (
            components.join(scored, on=id_col)
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(id_col)
        )
    return df.join(reps, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# incremental corpus maintenance (dedup new batches against a saved index)
# ---------------------------------------------------------------------------


def build_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    num_perm: int = 32,
    bands: int = 16,
    unit: str = "word",
    sets_df: DataFrame | None = None,
    mins_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash index of a corpus: one row per (doc, band bucket),
    carrying the full signature — ``(id_col, __bucket, __mins)``.

    Persist it with ``write_table``/parquet and a growing corpus never
    needs full re-deduplication: each NEW ingestion batch is checked
    against the index with ``incremental_neardup`` (one bucket-keyed
    join), then its own index rows are appended. Everything is
    deterministic (xxhash64 permutation salts, ``_band_bucket_cols``),
    so signatures computed in different jobs, sessions, or months
    collide iff the texts do.

    Scale: the index is ``bands`` rows per document (bucket + a
    num_perm-long array); at 10^10 docs × 16 bands that is a flat
    parquet relation partitionable/bucketable by ``__bucket`` so the
    incremental join co-locates without a full shuffle of the index.

    ``sets_df`` (r5): a prepared :func:`shingle_sets` relation FOR
    ``df``'s rows — signatures then derive from the shared gram sets
    (``minhash_signature``, bit-identical to the fused text path,
    pinned by test), so a suite that already built the sets doesn't
    re-run the shingle HOFs here; ``k``/``unit`` describe how the
    sets were built and must match.

    ``mins_df`` (r10): a prepared ``(id_col, __mins)`` signature
    relation (same ``num_perm``) — the signature pass is skipped; the
    one-signature-pass-per-suite contract of
    :func:`minhash_lsh_pairs`."""
    if num_perm % bands:
        raise ValueError("num_perm must divide evenly into bands")
    rows_per_band = num_perm // bands
    if mins_df is not None:
        mins_df = mins_df.select(F.col(id_col), "__mins")
    elif sets_df is not None:
        mins_df = sets_df.select(
            F.col(id_col),
            minhash_signature(F.col("shingles"), num_perm).alias("__mins"),
        )
    else:
        mins_df = df.select(
            F.col(id_col),
            fused_minhash_mins(text_col, k, num_perm, unit).alias("__mins"),
        )
    band_cols = _band_bucket_cols(F.col("__mins"), bands, rows_per_band)
    return mins_df.select(
        id_col,
        F.explode(F.array(*band_cols)).alias("__bucket"),
        "__mins",
    ).dropDuplicates([id_col, "__bucket"])


def incremental_neardup(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    num_perm: int = 32,
    bands: int = 16,
    threshold: float = 0.8,
    unit: str = "word",
    sets_df: DataFrame | None = None,
    mins_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dup hits of a NEW batch against an existing
    ``build_minhash_index`` relation (the incremental path of a
    continuously-growing training corpus — no re-scan of historical
    text; the index signature alone both generates candidates and
    verifies them). ``sets_df`` (r5): a prepared :func:`shingle_sets`
    relation for ``new_df``'s rows — same share-the-shingle-pass
    contract as :func:`build_minhash_index`.

    Returns (``new_id``, ``ref_id``, ``est_jaccard``): candidate pairs
    sharing ≥1 band bucket, kept when the signature-agreement Jaccard
    estimate — fraction of equal positions, the standard unbiased
    MinHash estimator, σ ≈ sqrt(j(1-j)/num_perm) — clears
    ``threshold``. Exact verification needs the reference shingle
    sets, i.e. historical text: callers wanting exactness join hits
    back to stored text and apply ``jaccard_pairs``; the estimate is
    the index-only contract. ``k``/``num_perm``/``bands`` MUST match
    the index's build parameters (signatures are positional), and
    ``unit`` must match the basis the index was built with.

    Scale: new-batch signatures are map-side; the only shuffle is the
    bucket equi-join against the index (co-located when the index is
    bucketed by ``__bucket``); agreement scoring is a JVM zip_with.
    """
    if num_perm % bands:
        raise ValueError("num_perm must divide evenly into bands")
    rows_per_band = num_perm // bands
    if mins_df is not None:
        # prepared signatures (r10): same one-signature-pass contract
        # as build_minhash_index's mins_df
        mins_new = mins_df.select(
            F.col(id_col).alias("__new_id"),
            F.col("__mins").alias("__new_mins"),
        )
    elif sets_df is not None:
        mins_new = sets_df.select(
            F.col(id_col).alias("__new_id"),
            minhash_signature(F.col("shingles"), num_perm).alias(
                "__new_mins"
            ),
        )
    else:
        mins_new = new_df.select(
            F.col(id_col).alias("__new_id"),
            fused_minhash_mins(text_col, k, num_perm, unit).alias(
                "__new_mins"
            ),
        )
    band_cols = _band_bucket_cols(F.col("__new_mins"), bands, rows_per_band)
    new_buckets = mins_new.select(
        "__new_id",
        F.explode(F.array(*band_cols)).alias("__bucket"),
        "__new_mins",
    ).dropDuplicates(["__new_id", "__bucket"])
    ref = index_df.select(
        F.col(id_col).alias("__ref_id"),
        "__bucket",
        F.col("__mins").alias("__ref_mins"),
    )
    agree = F.size(
        F.filter(
            F.zip_with(
                F.col("__new_mins"), F.col("__ref_mins"), lambda a, b: a == b
            ),
            lambda x: x,
        )
    )
    return (
        new_buckets.join(ref, on="__bucket")
        .select("__new_id", "__ref_id", "__new_mins", "__ref_mins")
        .dropDuplicates(["__new_id", "__ref_id"])
        .withColumn(
            "est_jaccard",
            F.round(agree / F.lit(int(num_perm)), 6),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            F.col("__new_id").alias("new_id"),
            F.col("__ref_id").alias("ref_id"),
            "est_jaccard",
        )
    )


def containment_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    threshold: float = 0.9,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """The ACTION on top of :func:`containment_pairs`: drop every
    document (nearly) contained in another, keep the containing
    supersets — the crawl-corpus cleanup for quote expansions and
    boilerplate-wrapped reposts, where symmetric near-dup keeps both
    (their Jaccard is low) and plain dedup keeps both (texts differ).

    The drop rule is LOCAL and deterministic: drop ``a`` iff some
    ``b`` exists with ``C(a→b) = |S_a ∩ S_b| / |S_a| >= threshold``
    and either the containment is one-directional (``C(b→a) < t`` —
    a true subset dies, its superset lives) or it is mutual with
    ``b < a`` (exact copies and mutual near-copies keep the smallest
    id, matching :func:`exact_dedup`'s min-id policy). Verified by
    test on strict subsets, exact-copy groups, and unrelated docs.

    Returns the surviving rows of ``df``. One anti-join against the
    (narrow) drop set; candidate generation is the prefix-filtered
    equi-join of :func:`containment_pairs`."""
    pairs = containment_pairs(
        df, text_col, id_col, k=k, threshold=threshold, sets_df=sets_df
    )
    back = pairs.select(
        F.col("id_a").alias("id_b"),
        F.col("id_b").alias("id_a"),
        F.col("containment").alias("__c_back"),
    )
    # a pair (a contained-in b): drop a unless the containment is
    # MUTUAL and a has the smaller id (then b is the one dropped by
    # its own row). LEFT join: absent reverse row = not mutual.
    drops = (
        pairs.join(back, ["id_a", "id_b"], "left")
        .filter(
            F.col("__c_back").isNull()
            | (F.col("__c_back") < F.lit(threshold))
            | (F.col("id_b") < F.col("id_a"))
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return df.join(drops, id_col, "left_anti")
