"""BM25 document ranking over a distributed corpus.

Okapi BM25 with the Lucene/Robertson idf form
``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))`` (always positive), the
natural companion to the engine's TF-IDF / inverted-index operators
(``queries/text`` q49/q64). The reference has no ranking operator;
this extends the training-data-curation surface (query-based corpus
slicing, retrieval-style quality probes).

Scale shape (100 TB):

- terms are filtered to the query vocabulary *before* the tf
  aggregation, so the only wide shuffle is ``groupBy(doc, term)`` over
  matching postings;
- document-frequency counts and the global (N, avgdl) scalars are
  O(|query|) / O(1) rows — both broadcast;
- float determinism follows the repo convention: per-term double
  arithmetic → ``DECIMAL(18,6)`` → SUM → ``DOUBLE``, so both engines
  add identically-rounded addends in any order.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    persist_tokens: bool = False,
) -> DataFrame:
    """Score every document containing >= 1 query term.

    Tokenization matches the engine's corpus-statistics convention
    (lowercase, collapse whitespace, split on single space). Returns
    (id_col, score DOUBLE, n_terms_hit BIGINT), one row per matching
    document.

    r9 rewrite: per-document term frequencies for a FIXED small query
    are row-local — one ``size(filter(tokens, == term))`` per query
    term — so the old explode → isin filter → (id, dl, term) hash
    aggregate SHUFFLE is gone entirely, and the persisted relation
    shrinks from full token arrays to ``(id, dl, per-term tf)``
    (identical tf counts: same tokenizer, same string equality).
    ``persist_tokens=True`` persists that slim relation, whose two
    consumers are the (N, avgdl) scalar agg and the postings scan —
    the input plan still evaluates exactly once (persist_sets
    convention).
    """
    toks = F.split(
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")), " "
    )
    # dedupe terms (order-preserving): the old isin + groupBy(term)
    # path counted a duplicated query term once; the per-term entries
    # below must do the same
    query_terms = list(dict.fromkeys(query_terms))
    if query_terms:
        tf_entries = F.array(
            *[
                F.struct(
                    F.lit(t).alias("term"),
                    F.size(
                        F.filter(F.col("__toks"), lambda x: x == F.lit(t))
                    )
                    .cast("double")
                    .alias("tf"),
                )
                for t in query_terms
            ]
        )
    else:  # no terms: empty entries, schema intact (old: empty isin)
        tf_entries = F.array().cast(
            "array<struct<term:string,tf:double>>"
        )
    docs = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .withColumn("dl", F.size("__toks").cast("double"))
        .select(F.col(id_col), "dl", tf_entries.alias("__tfs"))
    )
    if persist_tokens:
        docs = docs.persist()

    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    tf = (
        docs.select(id_col, "dl", F.explode("__tfs").alias("__e"))
        .select(
            F.col(id_col), "dl", F.col("__e.term").alias("term"),
            F.col("__e.tf").alias("tf"),
        )
        .filter(F.col("tf") > 0)
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct(id_col).cast("double").alias("df")
    )

    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(stats)
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    per_term = idf * F.col("tf") * F.lit(k1 + 1.0) / denom

    return (
        scored.withColumn(
            "__contrib", per_term.cast("decimal(18,6)")
        )
        .groupBy(id_col)
        .agg(
            F.sum("__contrib").cast("double").alias("score"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    *,
    k: int = 60,
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): fuse N retriever
    rankings into one score ``Σ 1/(k + rank_i)`` — the standard hybrid
    text+vector retrieval combiner (items missing from a list simply
    contribute nothing). Returns ``(id_col, rrf double)``.

    Scale shape: a union of the (already tiny — top-k per retriever)
    rank lists and ONE id-keyed aggregate; nothing touches the
    corpora. Per-list contributions are integer-quantized
    (``floor(1e15/(k+rank))`` → BIGINT) before the sum, so the fused
    score is bit-identical regardless of how many lists fuse or which
    order the partial sums reduce in — same convention as
    operators/graph.pagerank."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = []
    for r in rankings:
        parts.append(
            r.select(
                F.col(id_col).alias("__id"),
                F.floor(
                    F.lit(1e15)
                    / (F.lit(float(k)) + F.col(rank_col).cast("double"))
                )
                .cast("bigint")
                .alias("__c"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("__id")
        .agg(
            (F.sum("__c").cast("double") / F.lit(1e15)).alias("rrf")
        )
        .select(F.col("__id").alias(id_col), "rrf")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    query_vec_col: str,
    *,
    pool: int = 12,
    k: int = 5,
    lam: float = 0.5,
    pool_df: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` results per query from the exact
    cosine top-``pool``, maximizing
    ``lam·rel(d) − (1−lam)·max_{s∈selected} sim(d, s)`` — relevant
    results that aren't near-duplicates of each other, the standard
    diversity pass over retrieval-based data selection (and the
    in-engine answer to "my top-k are 5 copies of the same page").

    Output: (query_id, neighbor_id, cosine, rank) with rank =
    selection order 1..k.

    Determinism: rel and pairwise sims use the repo's 6dp-rounded
    cosine with id tie-breaks; with lam = .5 (or any exactly-
    representable lam) the scores are identical double arithmetic in
    any engine, so the greedy trace is exactly replayable.

    Scale shape: the pool bound makes everything downstream O(pool²)
    PER QUERY — the pairwise sim matrix and each of the k−1 selection
    rounds are query-keyed joins/windows on pool-sized relations; the
    only corpus-sized work is the initial top-pool scan (delegated to
    cosine_topk / any ANN tier). The greedy loop is a fixed-depth
    k−1-round plan, not data-dependent iteration."""
    from lsdm_motogp_data_integration_spark.operators.ann import (
        cosine_topk,
    )
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        norm_expr,
        precast_dot,
    )

    if pool_df is None:
        pool_df = cosine_topk(
            corpus, queries, vec_col, id_col, query_id_col,
            query_vec_col, k=pool,
        )
    cv = corpus.select(
        F.col(id_col).alias("__nid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "__v"
        ),
        norm_expr(F.col(vec_col)).alias("__n"),
    )
    # broadcast the O(queries×pool) pool into the corpus vector scan,
    # then TRUNCATE lineage eagerly: everything downstream (the sim
    # matrix and every greedy round) re-references this relation many
    # times, and without the checkpoint each reference would replay
    # the corpus-wide top-pool scan — measured 2× q26 wall time
    withv = (
        cv.join(
            F.broadcast(pool_df),
            cv["__nid"] == pool_df["neighbor_id"],
        )
        .select(
            "query_id", "neighbor_id", "cosine", "rank", "__v", "__n"
        )
        .localCheckpoint(eager=True)
    )
    a = withv.select(
        "query_id",
        F.col("neighbor_id").alias("__ia"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = withv.select(
        "query_id",
        F.col("neighbor_id").alias("__ib"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    sims = (
        a.join(b, "query_id")
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            "query_id",
            "__ia",
            "__ib",
            F.round(
                F.try_divide(
                    precast_dot(F.col("__va"), F.col("__vb")),
                    F.col("__na") * F.col("__nb"),
                ),
                6,
            ).alias("__sim"),
        )
        # O(queries·pool²) rows; the eager checkpoint both truncates
        # the self-join lineage (fresh attribute ids — the cogroup
        # below would otherwise trip the ambiguous-self-join check
        # against pool_slim) and evaluates the pairwise matrix once
        .localCheckpoint(eager=True)
    )
    # greedy selection as ONE cogrouped grouped-map: per-query state
    # is O(pool2), so the k-1 rounds run in-memory per group — one
    # shuffle on query_id for each input instead of ~4 micro-stage
    # shuffles per round (measured: the DataFrame-loop form spent
    # more time scheduling 60-row stages than computing). All
    # arithmetic uses the SAME 6dp-rounded doubles the unrolled SQL
    # oracle sees, so the trace still replays exactly.
    lam_f = float(lam)
    kk = int(k)

    def _greedy(key, pool_pdf, sims_pdf):
        import pandas as pd

        p = pool_pdf.sort_values("neighbor_id").reset_index(drop=True)
        if p.empty:
            return pd.DataFrame(
                columns=["query_id", "neighbor_id", "cosine", "rank"]
            )
        sim = {}
        for ia, ib, sv in zip(
            sims_pdf["__ia"], sims_pdf["__ib"], sims_pdf["__sim"]
        ):
            sim[(ia, ib)] = sv
        ids = list(p["neighbor_id"])
        rel = dict(zip(p["neighbor_id"], p["cosine"]))
        first = p.loc[p["rank"].idxmin()]
        selected = [int(first["neighbor_id"])]
        out = [(int(first["neighbor_id"]), float(first["cosine"]), 1)]
        remaining = [i for i in ids if i != selected[0]]
        for r in range(2, kk + 1):
            if not remaining:
                break
            best_id, best_score = None, None
            for cand in remaining:  # id order = tie-break order
                # NULL sims (zero-norm vectors) drop out of the MAX —
                # same as SQL MAX over a nullable column; a candidate
                # with NO non-null sim to the selected set gets no
                # penalty row (SQL inner join) and is skipped
                pens = [
                    sim[(cand, s)]
                    for s in selected
                    if (cand, s) in sim
                    and not pd.isna(sim[(cand, s)])
                ]
                if not pens:
                    continue
                score = lam_f * rel[cand] - (1.0 - lam_f) * max(pens)
                if best_score is None or score > best_score:
                    best_id, best_score = cand, score
            if best_id is None:
                break
            selected.append(best_id)
            out.append((int(best_id), float(rel[best_id]), r))
            remaining.remove(best_id)
        qid = key[0]
        return pd.DataFrame(
            [(qid, nid, cos, rk) for nid, cos, rk in out],
            columns=["query_id", "neighbor_id", "cosine", "rank"],
        )

    pool_slim = withv.select("query_id", "neighbor_id", "cosine", "rank")
    return (
        pool_slim.groupBy("query_id")
        .cogroup(sims.groupBy("query_id"))
        .applyInPandas(
            _greedy,
            "query_id bigint, neighbor_id bigint, cosine double, "
            "rank bigint",
        )
    )
