"""Corpus-level boilerplate line removal (CCNet / RefinedWeb style).

The reference pipeline (``motogp.ktr``) has no corpus-level text-hygiene
step; this operator belongs to the engine's training-data-curation
extension. It follows the public CCNet idea (Wenzek et al., 2020):
a line occurring in ``>= min_docs`` *distinct* documents is template
boilerplate (headers, nav bars, license banners) and is dropped from
every document it appears in, preserving the order of surviving lines.

Scale shape (100 TB):

- one wide aggregation keyed on the line text to find the frequent set
  (the only shuffle that moves line text);
- the frequent set is, by definition, small — only lines repeated
  across ``min_docs``+ documents — so the anti-join broadcasts it
  (``broadcast_frequent=False`` opts into a shuffle anti-join for
  adversarial corpora where the boilerplate set is huge);
- one ``groupBy(id)`` to reassemble documents.

No all-pairs work, no driver-side iteration, no Python UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 3,
    broadcast_frequent: bool | str = True,
    persist_lines: bool = False,
    max_broadcast_lines: int = 5_000_000,
) -> DataFrame:
    """Drop every line appearing in ``>= min_docs`` distinct documents.

    ``sep`` is a literal separator (regex-escaped internally). Returns
    one row per input document with the cleaned ``text_col`` (empty
    string when every line was boilerplate), ``n_lines_kept`` and
    ``n_lines_removed``.

    Scale shape (r9 rewrite, ``broadcast_frequent=True`` default): the
    per-document line multiset stays an ARRAY — one row-local
    ``array_distinct`` + explode feeds the frequency aggregate (one
    line-keyed shuffle, map-side combinable; the old shape paid an
    extra (doc, line) distinct shuffle first), the frequent set — by
    definition small — is collected to a single array row and
    cross-broadcast, and each document rebuilds itself row-locally
    with an ``array_contains`` filter.  The old anti-join → collect_
    list reassembly shuffled every line of the corpus twice more.
    ``broadcast_frequent=False`` keeps the relational shuffle
    anti-join for adversarial corpora where the boilerplate set is
    huge; equivalence of the two paths is pinned by tests.

    Size guard (r10): "small by definition" holds for real
    boilerplate but nothing in the CONTRACT bounds the frequent set —
    a pathological corpus (billions of distinct 3+-doc lines) would
    build a multi-GB single row on the driver. The broadcast path now
    asserts ``|frequent| <= max_broadcast_lines`` at runtime (a 1-row
    check before anything is broadcast — fails loudly with the
    escape hatch named, instead of OOMing the driver), and
    ``broadcast_frequent="auto"`` counts the frequent set first (one
    extra aggregate job — the count-then-choose trade) and picks the
    anti-join path automatically when it exceeds the cap. Both paths
    are result-identical (pinned by test), so auto never changes
    output. The assert bounds the broadcast/driver exposure; a corpus
    adversarial enough to blow the collect_list aggregation buffer
    itself should run ``broadcast_frequent=False`` outright. Any string
    other than ``"auto"`` raises ``ValueError``.

    ``persist_lines=True`` persists the tokenized array relation
    (two consumers: frequency aggregate and rebuild).
    """
    if isinstance(broadcast_frequent, str) and broadcast_frequent != "auto":
        # a typo like "Auto" or "false" is a truthy string: refuse it
        # instead of silently taking the broadcast path
        raise ValueError(
            "broadcast_frequent must be True, False or 'auto', got "
            f"{broadcast_frequent!r}"
        )
    split_expr = F.split(F.col(text_col), re.escape(sep))
    # null-text rows produce no `lines` rows in the relational form and
    # therefore no output row — replicate by filtering them out
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), split_expr.alias("__la")
    )
    if persist_lines:
        base = base.persist()
    if broadcast_frequent == "auto":
        n_frequent = (
            base.select(
                F.explode(F.array_distinct("__la")).alias("line")
            )
            .groupBy("line")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= int(min_docs))
            .count()
        )
        broadcast_frequent = n_frequent <= int(max_broadcast_lines)
    if not broadcast_frequent:
        # relational path: shuffle anti-join (unbounded frequent set)
        lines = base.select(
            F.col(id_col),
            F.posexplode(F.col("__la")).alias("pos", "line"),
        )
        totals = lines.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("__n_total")
        )
        frequent = (
            lines.select(id_col, "line")
            .distinct()
            .groupBy("line")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= int(min_docs))
            .select("line")
        )
        kept = lines.join(frequent, "line", "left_anti")
        rebuilt = kept.groupBy(id_col).agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("__cleaned"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
        return (
            totals.join(rebuilt, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("__cleaned"), F.lit("")).alias(text_col),
                F.coalesce(F.col("__n_kept"), F.lit(0))
                .cast("bigint")
                .alias("n_lines_kept"),
                (
                    F.col("__n_total")
                    - F.coalesce(F.col("__n_kept"), F.lit(0))
                )
                .cast("bigint")
                .alias("n_lines_removed"),
            )
        )
    # distinct lines per doc row-locally, ONE corpus-global aggregate
    frequent = (
        base.select(F.explode(F.array_distinct("__la")).alias("line"))
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
        .agg(F.sort_array(F.collect_list("line")).alias("__freq"))
        # runtime size guard: one 1-row check BEFORE the broadcast —
        # a frequent set past the cap fails loudly (with the escape
        # hatch in the message) instead of OOMing driver + executors
        .filter(
            F.assert_true(
                F.size("__freq") <= int(max_broadcast_lines),
                F.lit(
                    "remove_boilerplate_lines: frequent set exceeds "
                    f"max_broadcast_lines={int(max_broadcast_lines)}; "
                    "use broadcast_frequent=False (shuffle anti-join) "
                    "or broadcast_frequent='auto'"
                ),
            ).isNull()
        )
    )
    kept_arr = F.filter(
        F.col("__la"),
        lambda line: ~F.array_contains(F.col("__freq"), line),
    )
    return base.crossJoin(F.broadcast(frequent)).select(
        F.col(id_col),
        F.concat_ws(sep, kept_arr).alias(text_col),
        F.size(kept_arr).cast("bigint").alias("n_lines_kept"),
        (F.size("__la") - F.size(kept_arr))
        .cast("bigint")
        .alias("n_lines_removed"),
    )


def dedup_lines_keep_first(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_line_chars: int = 1,
    persist_lines: bool = False,
) -> DataFrame:
    """Corpus-wide exact line dedup, keep-first (the RefinedWeb /
    MassiveText line-level rule): every repeated line survives ONLY at
    its globally first occurrence — smallest ``(id_col, position)`` —
    and is dropped everywhere else, preserving the order of surviving
    lines. Complements :func:`remove_boilerplate_lines` (which drops
    frequent lines from EVERY document, first occurrence included) and
    ``textops.cross_doc_span_dedup`` (same keep-first rule at word
    k-gram granularity).

    Lines shorter than ``min_line_chars`` (after trim) are exempt —
    one-word lines ("yes", list bullets) repeat naturally and mass-
    deleting them is noise, not dedup; ``0`` disables the exemption.

    Scale shape (r9 rewrite): one aggregation keyed by line text
    (min-struct keeper — map-side combinable), one line-keyed join of
    each document's DISTINCT lines against the keeper table, a tiny
    doc-keyed rollup of the matches into a per-document line→keeper
    map, and one doc-granular join back to the array relation for a
    row-local rebuild (``F.filter`` with the positional lambda +
    ``try_element_at`` map lookups).  The old shape instead shuffled
    every (line, pos) row of the corpus through the keeper join AND a
    collect_list reassembly — two corpus-wide line-granular shuffles
    replaced by doc-granular ones.  Same heavy-hitter caveat as the
    k-gram variant (a line shared by half the corpus skews its key —
    that is boilerplate, remove it first).

    ``persist_lines=True`` persists the tokenized array relation
    (three consumers: keeper aggregate, distinct-line probe, rebuild).
    Returns (id_col, text_col cleaned, n_lines_kept,
    n_lines_removed).

    Degenerate duplicate ``id_col`` values (r10): each duplicate row
    is rebuilt against the id's MERGED line→keeper map and emits its
    own output row (the pre-r9 relational form instead merged the
    rows' line multisets into one row) — ids are expected unique;
    this documents the divergence rather than defining it."""
    split_expr = F.split(F.col(text_col), re.escape(sep))
    # null-text rows produce no output row in the relational form
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), split_expr.alias("__la")
    )
    if persist_lines:
        base = base.persist()
    lines = base.select(
        F.col(id_col),
        F.posexplode(F.col("__la")).alias("pos", "line"),
    )
    eligible = F.length(F.trim(F.col("line"))) >= int(min_line_chars)
    keepers = (
        lines.filter(eligible)
        .groupBy("line")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__keep"),
            F.count(F.lit(1)).alias("__occ"),
        )
        .filter(F.col("__occ") >= 2)
        .select(
            "line",
            F.col(f"__keep.{id_col}").alias("__kdoc"),
            F.col("__keep.pos").alias("__kpos"),
        )
    )
    # per-document line→(kdoc, kpos) map over the doc's DISTINCT lines
    # that are globally repeated — metadata-sized relative to the
    # corpus (only repeated lines appear, once per containing doc)
    doc_hits = (
        base.select(
            F.col(id_col), F.explode(F.array_distinct("__la")).alias("line")
        )
        .join(keepers, "line")
        .groupBy(id_col)
        .agg(
            # collect_SET, not list: with duplicate id_col values
            # (degenerate input) the same line reaches this aggregate
            # once per duplicate row, and map_from_entries would throw
            # DUPLICATED_MAP_KEY under Spark's default
            # mapKeyDedupPolicy=EXCEPTION. Every occurrence of a line
            # carries the SAME global keeper (one keepers row per
            # line), so the set collapses them and degenerate inputs
            # degrade to the relational form's merge behavior instead
            # of erroring (ADVICE r9).
            F.map_from_entries(
                F.collect_set(
                    F.struct(
                        F.col("line"),
                        F.struct(
                            F.col("__kdoc").alias("d"),
                            F.col("__kpos").alias("p"),
                        ),
                    )
                )
            ).alias("__km")
        )
    )
    keep_line = lambda line, pos: (  # noqa: E731
        F.try_element_at(F.col("__km"), line).isNull()
        | (
            (F.try_element_at(F.col("__km"), line)["d"] == F.col(id_col))
            & (F.try_element_at(F.col("__km"), line)["p"] == pos)
        )
    )
    kept_arr = F.when(
        F.col("__km").isNotNull(), F.filter(F.col("__la"), keep_line)
    ).otherwise(F.col("__la"))
    return base.join(doc_hits, id_col, "left").select(
        F.col(id_col),
        F.concat_ws(sep, kept_arr).alias(text_col),
        F.size(kept_arr).cast("bigint").alias("n_lines_kept"),
        (F.size("__la") - F.size(kept_arr))
        .cast("bigint")
        .alias("n_lines_removed"),
    )


def dup_line_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style intra-document duplicate-line signals (Rae et al.
    2021, Table A1 repetition rules): per document,

    - ``n_lines``: non-empty lines;
    - ``dup_line_frac``: occurrences beyond the first of any repeated
      line, over all lines (the "fraction of duplicate lines" rule —
      Gopher drops docs above 0.30);
    - ``dup_char_frac``: the same fraction weighted by line length
      (the "fraction of characters in duplicate lines" rule, 0.20).

    Both 6dp-rounded; documents with no non-empty lines report
    (0, 0.0, 0.0).

    Scale shape (r9 rewrite): the signals are purely row-local, so the
    operator is ONE narrow projection — zero shuffles (the previous
    explode → (doc, line) aggregate → doc rollup → join shape shuffled
    every line of the corpus twice to compute per-document counts).
    ``array_distinct`` keeps first occurrences, so "occurrences beyond
    the first" is ``n_lines - n_distinct`` and the character-weighted
    twin is ``total_chars - distinct_chars`` — exact integer counts
    until the final division, identical to the relational form (pinned
    by tests). One row out per row in; duplicate ``id_col`` values are
    no longer merged across rows (a degenerate input for the
    relational form too — it combined their line multisets)."""
    lines_arr = F.filter(
        F.split(F.col(text_col), "\n"),
        lambda line: F.trim(line) != "",
    )
    char_sum = lambda arr: F.aggregate(  # noqa: E731
        arr,
        F.lit(0).cast("bigint"),
        lambda acc, line: acc + F.length(line),
    )
    base = df.select(
        F.col(id_col),
        F.coalesce(F.size(lines_arr), F.lit(0))
        .cast("bigint")
        .alias("n_lines"),
        F.coalesce(F.size(F.array_distinct(lines_arr)), F.lit(0))
        .cast("bigint")
        .alias("__ndist"),
        F.coalesce(char_sum(lines_arr), F.lit(0)).alias("__chars"),
        F.coalesce(char_sum(F.array_distinct(lines_arr)), F.lit(0)).alias(
            "__dchars"
        ),
    )
    return base.select(
        F.col(id_col),
        F.col("n_lines"),
        F.round(
            F.coalesce(
                (F.col("n_lines") - F.col("__ndist"))
                / F.nullif(F.col("n_lines"), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.coalesce(
                (F.col("__chars") - F.col("__dchars"))
                / F.nullif(F.col("__chars"), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("dup_char_frac"),
    )
