"""Training-data dedup operators: digest, near-duplicate pair,
decontamination, graph-cluster and repeated-span suites (beyond
reference parity — SURVEY.md §7 step 9)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from lsdm_motogp_data_integration_spark.operators.textops import fingerprint
from lsdm_motogp_data_integration_spark.queries.registry import (
    _suite_union,
    query,
)
from lsdm_motogp_data_integration_spark.sources import read_table


def _pagerank_iters_sql(
    n_iters: int = 5, prefix: str = "p", weighted: bool = False
) -> str:
    """PageRank oracle CTEs: every iteration unrolled with the same
    integer-quantized (floor(x*1e15) -> BIGINT) contribution sums as
    operators/graph.pagerank, so ranks match as exact doubles.
    Expects base CTEs ``{prefix}nodes(node)``, ``{prefix}edges(src,
    dst[, w])``, ``{prefix}degs(src, deg)``, ``{prefix}nn(n)`` and
    ``{prefix}r0(node, r)``; ``weighted=True`` multiplies each
    quantized per-copy contribution by ``e.w`` (the weight_col
    exploded-parity form)."""
    q = "SUM(CAST(floor(p.r / d.deg * 1e15) AS BIGINT)"
    q += " * e.w) AS s" if weighted else ") AS s"
    ctes = []
    for k in range(1, n_iters + 1):
        prev = f"{prefix}r{k - 1}"
        ctes.append(f"""{prefix}r{k} AS (
                SELECT nd.node,
                       (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                           / (SELECT n FROM {prefix}nn)
                       + CAST(0.85 AS DOUBLE) * (
                           CAST(COALESCE(s.s, 0) AS DOUBLE) / 1e15
                           + CAST(dm.dm AS DOUBLE) / 1e15
                             / (SELECT CAST(n AS DOUBLE) FROM {prefix}nn)
                       ) AS r
                FROM {prefix}nodes nd
                LEFT JOIN (
                    SELECT e.dst AS node,
                           {q}
                    FROM {prev} p
                    JOIN {prefix}degs d ON d.src = p.node
                    JOIN {prefix}edges e ON e.src = p.node
                    GROUP BY 1
                ) s ON s.node = nd.node
                CROSS JOIN (
                    SELECT COALESCE(SUM(CAST(floor(p.r * 1e15) AS BIGINT)), 0)
                           AS dm
                    FROM {prev} p LEFT JOIN {prefix}degs d ON d.src = p.node
                    WHERE d.src IS NULL
                ) dm
            )""")
    return ",\n            ".join(ctes)


def _doc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic near-dup variants (every 5th doc with
    its first 20 chars dropped, id offset +100000) — reproducible in
    SQL so dedup queries have known duplicates to find."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.expr("substr(text, 21)").alias("text"),
        )
    )
    return d.unionByName(variants)


_DOC_CORPUS_SQL = """
            corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, substr(text, 21) AS text
                FROM documents WHERE doc_id % 5 = 0
            )
"""


_JACCARD_PAIRS_SQL = f"""
            WITH {_DOC_CORPUS_SQL},
            w AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       ) AS ws
                FROM corpus
            ), g AS (
                SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
                FROM w, LATERAL (
                    SELECT unnest(generate_series(1, greatest(len(ws) - 4, 1))) AS i
                ) t
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1
            ), shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS sh
                FROM g a JOIN g b USING (gram)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(sh * 1.0 / (sa.n + sb.n - sh), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE sh * 1.0 / (sa.n + sb.n - sh) >= 0.8
"""


@query(
    oracle="""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text
                FROM documents WHERE doc_id % 5 = 0
            ), shouted AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000 AS doc_id, upper(text) AS text
                FROM documents WHERE doc_id % 7 = 0
            ), fps AS (
                SELECT doc_id,
                       md5(regexp_replace(
                           trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')),
                           '\\s+', ' ', 'g')) AS fp
                FROM shouted
            )
            SELECT 'raw' AS kind, MIN(doc_id) AS doc_id,
                   COUNT(*) AS n_copies
            FROM corpus GROUP BY md5(text)
            UNION ALL
            SELECT 'canonical', MIN(doc_id), COUNT(*)
            FROM fps GROUP BY fp
            UNION ALL
            SELECT 'url', MIN(doc_id), COUNT(*)
            FROM (
                WITH urls AS (
                    SELECT doc_id,
                        CASE WHEN doc_id % 5 = 0 THEN
                                 'https://Example.COM/page/'
                                 || CAST(doc_id % 100 AS VARCHAR)
                             WHEN doc_id % 5 = 1 THEN
                                 'https://www.example.com/page/'
                                 || CAST(doc_id % 100 AS VARCHAR) || '/'
                             WHEN doc_id % 5 = 2 THEN
                                 'https://example.com:443/page/'
                                 || CAST(doc_id % 100 AS VARCHAR)
                                 || '?utm_source=feed'
                             WHEN doc_id % 5 = 3 THEN
                                 'https://example.com/page/'
                                 || CAST(doc_id % 100 AS VARCHAR)
                                 || '#section2'
                             ELSE 'https://example.com/page/'
                                 || CAST(doc_id % 100 AS VARCHAR)
                                 || '?b=2&a=1' END AS url
                    FROM documents
                ), n1 AS (
                    SELECT doc_id,
                           regexp_replace(trim(url), '#.*$', '') AS nofrag
                    FROM urls
                ), n2 AS (
                    SELECT doc_id,
                           regexp_extract(nofrag, '^([^?]*)', 1) AS base,
                           array_to_string(list_sort(list_filter(
                               string_split(regexp_extract(nofrag,
                                   '\\?(.*)$', 1), '&'),
                               x -> x <> '' AND NOT starts_with(x, 'utm_')
                           )), '&') AS q2
                    FROM n1
                ), n3 AS (
                    SELECT doc_id, q2,
                           lower(regexp_extract(base,
                               '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)
                           ) AS scheme,
                           regexp_replace(base,
                               '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
                    FROM n2
                ), n4 AS (
                    SELECT doc_id, q2, scheme,
                           regexp_replace(lower(regexp_extract(rest,
                               '^([^/]*)', 1)), '^www\\.', '') AS host0,
                           regexp_replace(regexp_replace(rest,
                               '^[^/]*', ''), '/$', '') AS path
                    FROM n3
                )
                SELECT doc_id,
                       scheme || '://'
                       || CASE WHEN scheme = 'http'
                               THEN regexp_replace(host0, ':80$', '')
                               WHEN scheme = 'https'
                               THEN regexp_replace(host0, ':443$', '')
                               ELSE host0 END
                       || path
                       || CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS cu
                FROM n4
            ) GROUP BY cu
            UNION ALL
            -- url_blocked: the blocklist screen's survivor set — the
            -- zone semantics (host equals a pattern or sits under it)
            -- replayed as transparent endswith checks over the
            -- lowercased, port-stripped host
            SELECT 'url_blocked', doc_id, CAST(1 AS BIGINT)
            FROM (
                SELECT doc_id,
                    regexp_replace(lower(
                        CASE WHEN doc_id % 4 = 0 THEN 'Example.COM'
                             WHEN doc_id % 4 = 1 THEN 'ADS.Tracker.IO:443'
                             WHEN doc_id % 4 = 2 THEN 'news.portal.org'
                             ELSE 'spam.example.com' END
                    ), ':[0-9]+$', '') AS host
                FROM documents
            )
            WHERE NOT (host = 'tracker.io' OR host LIKE '%.tracker.io'
                       OR host = 'spam.example.com'
                       OR host LIKE '%.spam.example.com')
        """,
    tag="kind",
    scopes=("canonical", "raw", "url", "url_blocked"),
)
def q18_digest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-dedup family in one tagged union (merged from round-1/2
    q18 exact dedup + q25 fingerprint dedup): 'raw' = exact dedup by
    content digest over documents ∪ exact copies of every 5th doc;
    'canonical' = case/punctuation-insensitive fingerprint grouping
    over documents ∪ UPPERCASED variants of every 7th doc. Survivors
    keep min doc_id with group size; the md5 shuffle key is constant
    width regardless of document size.

    'url' (r3) = crawl-frontier dedup by canonical URL
    (operators/urls.normalize_url): each doc synthesizes one of five
    messy variants of its target page (scheme/host case, www prefix,
    default :443 port, utm_ tracking param, fragment, trailing slash,
    unsorted query params) and normalization must collapse exactly the
    variants that reference the same page — the oracle replays the
    whole normalization chain in DuckDB's RE2 + list functions."""
    from lsdm_motogp_data_integration_spark.operators.urls import (
        normalize_url,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    raw = exact_dedup(d.unionByName(copies), "text", "doc_id").select(
        F.lit("raw").alias("kind"), "doc_id", "n_copies"
    )
    shouted = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    canonical = (
        d.unionByName(shouted)
        .withColumn("fp", fingerprint("text"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(F.lit("canonical").alias("kind"), "doc_id", "n_copies")
    )
    ds_t = (F.col("doc_id") % 100).cast("string")
    v = F.col("doc_id") % 5
    raw_url = (
        F.when(v == 0, F.concat(F.lit("https://Example.COM/page/"), ds_t))
        .when(
            v == 1,
            F.concat(F.lit("https://www.example.com/page/"), ds_t, F.lit("/")),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://example.com:443/page/"),
                ds_t,
                F.lit("?utm_source=feed"),
            ),
        )
        .when(
            v == 3,
            F.concat(
                F.lit("https://example.com/page/"), ds_t, F.lit("#section2")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com/page/"), ds_t, F.lit("?b=2&a=1")
            )
        )
    )
    url_rows = (
        d.select("doc_id", normalize_url(raw_url).alias("cu"))
        .groupBy("cu")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(F.lit("url").alias("kind"), "doc_id", "n_copies")
    )
    # url_blocked (r3): the crawl blocklist screen
    # (operators/urls.filter_blocked_urls) — four deterministic source
    # hosts per doc (messy case/ports, so the host-suffix ladder must
    # normalize before matching), zone pattern 'tracker.io' kills the
    # ads subdomain, exact-host pattern 'spam.example.com' kills that
    # host only; survivors are the docs on the two clean hosts
    from lsdm_motogp_data_integration_spark.operators.urls import (
        filter_blocked_urls,
    )

    src = F.col("doc_id") % 4
    crawl_url = (
        F.when(src == 0, F.concat(F.lit("https://Example.COM/p/"), ds_t))
        .when(
            src == 1,
            F.concat(F.lit("https://ADS.Tracker.IO:443/px/"), ds_t),
        )
        .when(
            src == 2,
            F.concat(F.lit("https://news.portal.org/a/"), ds_t),
        )
        .otherwise(
            F.concat(F.lit("https://spam.example.com/x/"), ds_t)
        )
    )
    blocklist = spark.createDataFrame(
        [("tracker.io",), ("spam.example.com",)], "pattern string"
    )
    blocked_rows = filter_blocked_urls(
        d.select("doc_id", crawl_url.alias("url")), "url", blocklist
    ).select(
        F.lit("url_blocked").alias("kind"),
        "doc_id",
        F.lit(1).cast("bigint").alias("n_copies"),
    )
    return (
        raw.unionByName(canonical)
        .unionByName(url_rows)
        .unionByName(blocked_rows)
    )


@query(
    oracle=f"""
            WITH pairs AS ({_JACCARD_PAIRS_SQL})
            SELECT 'minhash_lsh' AS method, id_a, id_b, jaccard,
                   NULL::DOUBLE AS containment
            FROM pairs
            UNION ALL
            SELECT 'exact' AS method, id_a, id_b, jaccard,
                   NULL::DOUBLE AS containment
            FROM pairs
            UNION ALL
            -- incremental scope: only pairs straddling the index/new
            -- split (base ids < 100000, variant batch ids >= 100000)
            SELECT 'incremental' AS method, id_a, id_b, jaccard,
                   NULL::DOUBLE AS containment
            FROM pairs
            WHERE id_a < 100000 AND id_b >= 100000
            UNION ALL
            -- directed exact containment over the same gram sets:
            -- |A ∩ B| / |A| >= 0.8, a != b (both directions checked)
            SELECT 'containment' AS method, id_a, id_b,
                   NULL::DOUBLE AS jaccard, containment
            FROM (
                WITH {_DOC_CORPUS_SQL},
                w AS (
                    SELECT doc_id,
                           regexp_split_to_array(
                               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                           ) AS ws
                    FROM corpus
                ), g AS (
                    SELECT DISTINCT doc_id,
                           array_to_string(ws[i:i+4], ' ') AS gram
                    FROM w, LATERAL (
                        SELECT unnest(generate_series(1, greatest(len(ws) - 4, 1))) AS i
                    ) t
                ), sizes AS (
                    SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1
                ), shared AS (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                           COUNT(*) AS sh
                    FROM g a JOIN g b USING (gram)
                    WHERE a.doc_id != b.doc_id GROUP BY 1, 2
                )
                SELECT id_a, id_b,
                       ROUND(sh * 1.0 / sa.n, 6) AS containment
                FROM shared
                JOIN sizes sa ON sa.doc_id = id_a
                WHERE sh * 1.0 / sa.n >= 0.8
            )
        """,
    tag="method",
    scopes=("containment", "exact", "incremental", "minhash_lsh"),
    headline=True,
)
def q19_neardup_pairs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair detection — both Jaccard paths share one
    oracle-checked driver row (identical (id_a, id_b, jaccard) schema),
    tagged by ``method``:

    - ``minhash_lsh``: MinHash(64) + LSH(32 bands × 2 rows) candidate
      pairs, verified with exact word-5-gram Jaccard ≥ 0.8 — the scale
      path (band-bucket join is the only shuffle). The oracle computes
      exact Jaccard directly; LSH recall at this banding makes the two
      coincide (miss probability ≈ 6e-15 at j=0.8).
    - ``exact``: PPJoin-prefix-filtered exact n-gram-Jaccard join — the
      verification path, run standalone.
    - ``incremental``: the growing-corpus path
      (dedup.build_minhash_index → incremental_neardup → the suite's
      shared exact verification): the base documents are indexed once,
      the near-dup variants arrive as a NEW batch and are checked with
      one bucket-keyed join against the index (est-Jaccard ≥ 0.4
      candidate screen, wide enough that the exact ≥ 0.8 verdict
      decides), then candidate-restricted exact verification. The
      oracle is the same exact-Jaccard relation restricted to
      old×new pairs — a banding recall miss, estimator screen error,
      or verification bug all fail the hash.
    - ``containment`` (r3): DIRECTED near-containment
      (``|S_a∩S_b|/|S_a| >= 0.8``, Broder's resemblance-vs-containment
      distinction) — the quoted-subdocument screen symmetric Jaccard
      can't express; asymmetric prefix filter + size bound, verified
      on full sets. The oracle computes exact directed containment
      over the same gram sets (``containment`` column; ``jaccard``
      NULL for this scope).

    Suite-wide sharing (r3): ONE persisted ``dedup.shingle_sets``
    relation feeds the LSH signatures, both verification sides, the
    exact PPJoin, and the incremental verify via their ``sets_df``
    parameter — the shingle HOF pass runs once for the whole suite
    instead of once per scope (equivalence pinned in tests)."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        build_minhash_index,
        incremental_neardup,
    )

    # widen the derived corpus to compute width once: the union sits in
    # a couple of scan partitions (small BYTES), but every scope runs
    # heavy per-row shingle/signature HOFs over it — narrow input would
    # serialize them onto two cores
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        _compute_width,
    )

    corpus = _compute_width(_doc_corpus(spark, sf_dir))
    # ONE shingle pass for the whole suite: the sorted-set relation is
    # built once, persisted, and shared by the LSH signatures + both
    # verifications + the exact PPJoin + the incremental verify —
    # previously each scope re-ran the heavy per-row shingle HOFs
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        shingle_sets,
    )

    # r10: the 32-perm MinHash signature column rides the SAME persisted
    # relation — the LSH candidate scope, the historical index build,
    # and the incremental probe all read it, so the signature HOF pass
    # runs once per document instead of twice (the index/probe halves
    # previously re-derived signatures from the shared sets; identical
    # values by construction — minhash_signature over the same
    # shingles — and pinned by test_r10_rewrites.py)
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        minhash_signature,
    )

    sets = (
        shingle_sets(corpus, "text", "doc_id", k=5)
        .withColumn("__mins", minhash_signature(F.col("shingles"), 32))
        .persist()
    )
    mins = sets.select("doc_id", "__mins")
    # r9: every scope emits CANDIDATE pairs only; the exact
    # verification (two id-joins against the persisted sets + the
    # intersect/union measures) runs ONCE over the tagged union
    # instead of once per scope — 3 verification subplans (6 id-joins
    # + 3 measure passes) collapse to 1, with per-scope predicates
    # identical to the operators' own (equivalence: the measures are
    # the operators' verbatim expressions over the same joined rows;
    # oracle re-checked at 3 SFs)
    cand_lsh = minhash_lsh_pairs(
        corpus, "text", "doc_id", threshold=0.8, sets_df=sets,
        candidates_only=True, mins_df=mins,
    ).withColumn("method", F.lit("minhash_lsh"))
    cand_exact = jaccard_pairs(
        corpus, "text", "doc_id", threshold=0.8, sets_df=sets,
        candidates_only=True,
    ).withColumn("method", F.lit("exact"))
    historical = corpus.filter(F.col("doc_id") < 100000)
    new_batch = corpus.filter(F.col("doc_id") >= 100000)
    # r5: the incremental scope now rides the suite's ONE persisted
    # shingle pass too — index and probe signatures derive from the
    # shared sets (minhash_signature == fused path, pinned) instead
    # of re-running the shingle HOFs over both corpus halves
    index = build_minhash_index(
        historical, "text", "doc_id", k=5, num_perm=32, bands=16,
        sets_df=sets.filter(F.col("doc_id") < 100000),
        mins_df=mins.filter(F.col("doc_id") < 100000),
    )
    hits = incremental_neardup(
        new_batch, index, "text", "doc_id",
        k=5, num_perm=32, bands=16, threshold=0.4,
        sets_df=sets.filter(F.col("doc_id") >= 100000),
        mins_df=mins.filter(F.col("doc_id") >= 100000),
    )
    cand_incr = hits.select(
        F.col("ref_id").alias("id_a"), F.col("new_id").alias("id_b")
    ).withColumn("method", F.lit("incremental"))
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        containment_pairs,
    )

    cand_cont = containment_pairs(
        corpus, "text", "doc_id", k=5, threshold=0.8, sets_df=sets,
        candidates_only=True,
    ).withColumn("method", F.lit("containment"))
    cands = (
        cand_lsh.unionByName(cand_exact)
        .unionByName(cand_incr)
        .unionByName(cand_cont)
    )
    sa = sets.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("__sa")
    )
    sb = sets.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("__sb")
    )
    jac = F.size(F.array_intersect("__sa", "__sb")) / F.size(
        F.array_union("__sa", "__sb")
    )
    con = F.size(F.array_intersect("__sa", "__sb")) / F.size("__sa")
    is_cont = F.col("method") == "containment"
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__jac", jac)
        .withColumn("__con", con)
        .filter(
            F.when(is_cont, F.col("__con") >= 0.8).otherwise(
                F.col("__jac") >= 0.8
            )
        )
        .select(
            "method",
            "id_a",
            "id_b",
            F.when(~is_cont, F.round("__jac", 6)).alias("jaccard"),
            F.when(is_cont, F.round("__con", 6)).alias("containment"),
        )
    )


@query(
    # bit-arithmetic replay of the Spark SimHash sketch: identical
    # md5-derived 60-bit token hashes, per-bit ±1 votes, sign →
    # signature, all-pairs hamming (the Spark side prunes candidates
    # by 16-bit-chunk pigeonholing, which is lossless at hamming≤3)
    oracle=f"""
            WITH {_DOC_CORPUS_SQL},
            toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                )) AS term
                FROM corpus
            ), th AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h
                FROM toks
            ), votes AS (
                SELECT doc_id, b.bit,
                       SUM(CASE WHEN ((h >> b.bit) & 1) = 1
                                THEN 1 ELSE -1 END) AS v
                FROM th CROSS JOIN (
                    SELECT unnest(generate_series(0, 59)) AS bit
                ) b
                GROUP BY 1, 2
            ), sig AS (
                SELECT doc_id,
                       SUM(CASE WHEN v > 0
                                THEN (CAST(1 AS BIGINT) << bit)
                                ELSE 0 END) AS sh
                FROM votes GROUP BY 1
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
        """,
    headline=True,
)
def q21_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming ≤ 3, candidates via 16-bit
    chunk pigeonholing, run with the portable md5-based token hash so
    the ENTIRE sketch (token hashes → per-bit votes → signature →
    hamming) is replayed exactly by the DuckDB oracle in bit
    arithmetic. Production default stays xxhash64 (same algorithm,
    faster hash). Note: on the small-vocab synthetic corpus SimHash
    separates weakly (it sketches token distributions, which word-soup
    shares) — MinHash (q19) is the discriminative method there; recall
    characteristics are asserted in tests."""
    return simhash_pairs(
        _doc_corpus(spark, sf_dir),
        "text",
        "doc_id",
        max_hamming=3,
        token_hash="md5_60",
        persist_sketch=True,
    )


@query(
    oracle=f"""
            WITH {_DOC_CORPUS_SQL},
            w AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       ) AS ws
                FROM corpus
            ), grams AS (
                SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
                FROM w, LATERAL (
                    SELECT unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS i
                ) t
            ), eval_grams AS (
                SELECT DISTINCT gram FROM grams WHERE doc_id >= 100000
            ), overlap AS (
                SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared_grams
                FROM grams g JOIN eval_grams e USING (gram)
                WHERE g.doc_id < 100000
                GROUP BY g.doc_id
            )
            -- bloom screen + exact verify returns the identical exact
            -- relation (FPs removed, FNs impossible); one copy per tag
            SELECT s.scope, o.doc_id, o.n_shared_grams
            FROM overlap o
            CROSS JOIN (SELECT unnest(['exact', 'bloom']) AS scope) s
            UNION ALL
            SELECT 'semantic' AS scope, t.vec_id AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_grams
            FROM embeddings t
            JOIN (
                SELECT CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 20 = 0
                UNION ALL
                SELECT list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x + 0.35)
                FROM embeddings WHERE vec_id % 30 = 0
            ) h ON round(list_cosine_similarity(
                       CAST(t.embedding AS DOUBLE[]), h.v), 6) >= 0.99
            GROUP BY t.vec_id
        """,
    tag="scope",
    scopes=("bloom", "exact", "semantic"),
)
def q57_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination suite: flag "training" documents
    sharing any word-8-gram with a held-out set, with the count of
    distinct overlapping grams — the n-gram overlap screen run before
    training on scraped corpora. The held-out set is the derived
    suffix-variant corpus (ids ≥ 100000 in ``_doc_corpus``), so every
    5th original is a known contamination hit. Both formulations of
    ``operators.membership.ngram_decontaminate`` share this driver
    row, tagged by ``scope``:

    - ``exact``: broadcast equi-join on the gram strings — the
      verification formulation.
    - ``bloom``: Bloom-filter screen (deterministic double-hashed
      xxhash64 bit array, built distributed, shipped as O(m/64)
      literal metadata) prunes the corpus gram stream inside
      whole-stage codegen with no join and no shuffle, then the exact
      join removes the ~fpp false positives. Identical result, and
      the 100 TB plan: a few MB of bits broadcast instead of the full
      eval gram set.

    The oracle computes the exact overlap once per scope tag — a Bloom
    false NEGATIVE (which the screen guarantees cannot happen) or an
    unremoved false positive would break the hash.

    - ``semantic`` (r3): embedding-space decontamination
      (membership.semantic_decontaminate) — train vectors with cosine
      ≥ 0.99 to ANY holdout vector (holdout = exact copies of every
      20th embedding + a 0.35-shifted variant of every 30th), hit
      counts in ``n_shared_grams``. Broadcast-exact screen (the
      ann-exact-baseline pattern); the oracle recomputes every
      straddling cosine with ``list_cosine_similarity`` at the 6dp
      convention."""
    from lsdm_motogp_data_integration_spark.operators.membership import (
        ngram_decontaminate,
        semantic_decontaminate,
        word_gram_relation,
    )

    corpus = _doc_corpus(spark, sf_dir)
    train = corpus.filter(F.col("doc_id") < 100000)
    eval_set = corpus.filter(F.col("doc_id") >= 100000)
    # both scopes consume the same gram relations — one persisted
    # shingle pass per side instead of one per scope
    tg = word_gram_relation(train, "text", "doc_id", 8).persist()
    eg = word_gram_relation(eval_set, "text", None, 8).dropDuplicates().persist()
    exact = ngram_decontaminate(
        train, eval_set, n=8, method="exact", train_grams=tg, eval_grams=eg
    )
    bloom = ngram_decontaminate(
        train, eval_set, n=8, method="bloom", train_grams=tg, eval_grams=eg
    )
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    hold = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    ).unionByName(
        emb.filter(F.col("vec_id") % 30 == 0).select(
            (F.col("vec_id") + 600000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") + F.lit(0.35)
            ).alias("embedding"),
        )
    )
    semantic = semantic_decontaminate(
        emb, hold, "embedding", "vec_id", threshold=0.99
    ).select(
        F.col("vec_id").alias("doc_id"),
        F.col("n_sem_hits").alias("n_shared_grams"),
    )
    out = _suite_union(
        [("doc_id", "bigint"), ("n_shared_grams", "bigint")],
        ("exact", exact),
        ("bloom", bloom),
        ("semantic", semantic),
    )
    # the suite result is O(contaminated docs) — checkpoint it eagerly
    # and RELEASE the gram caches (the largest of the registry: the
    # exploded 8-gram relation is several times corpus text size), so
    # the 50-query driver session doesn't carry them forward
    out = out.localCheckpoint(eager=True)
    tg.unpersist()
    eg.unpersist()
    return out


@query(
    oracle=f"""
            WITH RECURSIVE {_DOC_CORPUS_SQL},
            w AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       ) AS ws
                FROM corpus
            ), g AS (
                SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
                FROM w, LATERAL (
                    SELECT unnest(generate_series(1, greatest(len(ws) - 4, 1))) AS i
                ) t
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1
            ), shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS sh
                FROM g a JOIN g b USING (gram)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ), pairs AS (
                SELECT id_a, id_b
                FROM shared
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE sh * 1.0 / (sa.n + sb.n - sh) >= 0.8
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ), reach AS (
                SELECT a AS node, b AS other FROM edges
                UNION
                SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
            )
            , pnodes AS (SELECT doc_id AS node FROM documents),
            pnn AS (SELECT COUNT(*) AS n FROM pnodes),
            pe0 AS (
                SELECT doc_id AS src,
                       (doc_id * 1 + 1) % (SELECT n FROM pnn) AS dst
                FROM documents
                UNION ALL
                SELECT doc_id, (doc_id * 2 + 2) % (SELECT n FROM pnn)
                FROM documents
                UNION ALL
                SELECT doc_id, (doc_id * 3 + 3) % (SELECT n FROM pnn)
                FROM documents
            ),
            pedges AS (SELECT src, dst FROM pe0 WHERE src % 10 <> 7),
            pdegs AS (SELECT src, COUNT(*) AS deg FROM pedges GROUP BY 1),
            pr0 AS (
                SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM pnn) AS r
                FROM pnodes
            ),
            {_pagerank_iters_sql(5)},
            wpe AS (
                SELECT 'h' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.com' AS src,
                       'h' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR)
                       || '.example.com' AS dst,
                       CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS w
                FROM documents
                UNION ALL
                SELECT 'h' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.com',
                       'h' || CAST((doc_id * 5 + 2) % 7 AS VARCHAR)
                       || '.example.com',
                       1
                FROM documents
            ),
            wedges AS (
                SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w
                FROM wpe WHERE src <> dst GROUP BY 1, 2
            ),
            wnodes AS (
                -- DISTINCT over UNION ALL, not UNION: inside a WITH
                -- RECURSIVE block DuckDB 1.x runs a bare UNION CTE
                -- through the recursive evaluator and SKIPS the
                -- global dedup (measured: 13 rows where 7 expected)
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM wpe
                    UNION ALL
                    SELECT dst FROM wedges
                )
            ),
            wnn AS (SELECT COUNT(*) AS n FROM wnodes),
            wdegs AS (
                SELECT src, CAST(SUM(w) AS BIGINT) AS deg
                FROM wedges GROUP BY 1
            ),
            wr0 AS (
                SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM wnn) AS r
                FROM wnodes
            ),
            {_pagerank_iters_sql(5, prefix="w", weighted=True)},
            ucanon AS (
                SELECT DISTINCT LEAST(src, dst) AS u,
                                GREATEST(src, dst) AS v
                FROM pedges WHERE src <> dst
            ),
            udeg AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
                FROM (
                    SELECT u AS node FROM ucanon
                    UNION ALL
                    SELECT v FROM ucanon
                ) GROUP BY 1
            ),
            udh AS (
                SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
                FROM udeg GROUP BY 1
            ),
            -- id-ordered triangle enumeration (x<y<z) — deliberately
            -- a DIFFERENT algorithm than the engine's degree-ordered
            -- wedge closing; identical per-node counts iff both are
            -- right
            utri AS (
                SELECT a.u AS x, a.v AS y, b.v AS z
                FROM ucanon a
                JOIN ucanon b ON b.u = a.v
                JOIN ucanon c ON c.u = a.u AND c.v = b.v
            ),
            utricnt AS (
                SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
                FROM (
                    SELECT x AS node FROM utri
                    UNION ALL SELECT y FROM utri
                    UNION ALL SELECT z FROM utri
                ) GROUP BY 1
            )
            SELECT 'components' AS scope, c.doc_id,
                   LEAST(c.doc_id, COALESCE(MIN(r.other), c.doc_id))
                       AS component,
                   CAST(NULL AS DOUBLE) AS rank,
                   CAST(NULL AS VARCHAR) AS host,
                   CAST(NULL AS VARCHAR) AS texts
            FROM corpus c LEFT JOIN reach r ON r.node = c.doc_id
            GROUP BY c.doc_id
            UNION ALL
            SELECT 'pagerank' AS scope, node AS doc_id,
                   CAST(NULL AS BIGINT) AS component, r AS rank,
                   CAST(NULL AS VARCHAR) AS host,
                   CAST(NULL AS VARCHAR) AS texts
            FROM pr5
            UNION ALL
            SELECT 'webrank' AS scope, CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS BIGINT) AS component, r AS rank,
                   node AS host,
                   CAST(NULL AS VARCHAR) AS texts
            FROM wr5
            UNION ALL
            SELECT 'degrees' AS scope, degree AS doc_id,
                   n_nodes AS component,
                   CAST(NULL AS DOUBLE) AS rank,
                   CAST(NULL AS VARCHAR) AS host,
                   CAST(NULL AS VARCHAR) AS texts
            FROM udh
            UNION ALL
            SELECT 'triangles' AS scope, node AS doc_id,
                   n_triangles AS component,
                   CAST(NULL AS DOUBLE) AS rank,
                   CAST(NULL AS VARCHAR) AS host,
                   CAST(NULL AS VARCHAR) AS texts
            FROM utricnt
            UNION ALL
            SELECT 'cooccur' AS scope, CAST(NULL AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS component,
                   CAST(NULL AS DOUBLE) AS rank,
                   a.event_type || '|' || b.event_type AS host,
                   CAST(NULL AS VARCHAR) AS texts
            FROM (SELECT DISTINCT user_id, event_type FROM events) a
            JOIN (SELECT DISTINCT user_id, event_type FROM events) b
                 USING (user_id)
            WHERE a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
            UNION ALL
            -- anchors: anchor-text aggregation per target, derived
            -- arithmetically (independent of the Spark side's real
            -- HTML parse/normalize/strip chain)
            SELECT 'anchors' AS scope, n_sources AS doc_id,
                   n_anchors AS component,
                   CAST(NULL AS DOUBLE) AS rank,
                   target AS host, texts
            FROM (
                WITH an AS (
                    SELECT doc_id,
                           'https://t' || CAST(doc_id % 9 AS VARCHAR)
                               || '.example.org/page' AS target,
                           'text ' || CAST(doc_id AS VARCHAR) AS txt
                    FROM documents
                    UNION ALL
                    SELECT doc_id,
                           'https://t' || CAST((doc_id * 2) % 9 AS VARCHAR)
                               || '.example.org/page' AS target,
                           'bold ' || CAST(doc_id AS VARCHAR) AS txt
                    FROM documents WHERE doc_id % 2 = 0
                )
                SELECT target,
                       CAST(COUNT(*) AS BIGINT) AS n_anchors,
                       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_sources,
                       string_agg(txt, '|' ORDER BY txt) AS texts
                FROM an GROUP BY target
            )
        """,
    tag="scope",
    scopes=(
        "anchors", "components", "cooccur", "degrees", "pagerank", "triangles",
        "webrank",
    ),
)
def q58_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-operator suite (tagged union, ``scope``) — both iterative
    distributed graph computations share one driver row:

    - ``components``: near-dup PAIRS (q19's MinHash output) closed
      into components via iterative min-label propagation
      (dedup.connected_components) — every doc labeled with its
      cluster representative (smallest reachable id), singletons
      included. The oracle computes the same closure with a recursive
      CTE.
    - ``pagerank`` (r3): fixed-5-iteration PageRank
      (operators/graph.pagerank, damping 0.85) over a deterministic
      synthetic link graph (3 modular out-edges per doc; docs with
      ``doc_id % 10 == 7`` get none, exercising the dangling-mass
      path). Per-iteration contribution sums are integer-quantized
      (floor(x·1e15) → BIGINT), so the oracle unrolls all 5
      iterations in SQL and ranks compare as EXACT doubles.
    - ``webrank`` (r3): the ENTIRE web-graph pipeline
      (pipelines/webgraph: parse_pages → dedup_pages → host_graph →
      weighted host PageRank) over synthetic pages built from
      documents (7 hosts, 2-3 links per page with deterministic
      duplicates so edge WEIGHTS vary). The oracle derives the
      weighted host graph arithmetically — independently of the HTML
      parsing the Spark side really performs — and unrolls the
      weighted PageRank; host ranks compare as exact doubles, so a
      bug anywhere in the parse/normalize/graph/rank chain fails the
      hash.
    - ``degrees`` / ``triangles`` (r3): structural graph statistics
      over the UNDIRECTED form of the same synthetic link graph
      (graph.undirected_canonical collapses both orientations,
      drops self-loops): the degree histogram (doc_id=degree,
      component=node count) and per-node triangle participation
      (doc_id=node, component=its triangle count) via degree-ordered
      wedge closing (graph.triangle_counts). Pure integer outputs —
      the oracle replays both with SQL joins.
    - ``cooccur`` (r3): bipartite projection
      (graph.bipartite_project) of the events (user, event_type)
      relation onto event types — distinct users connected to both
      types of each pair (host = 'a|b', component = count)."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        connected_components,
    )
    from lsdm_motogp_data_integration_spark.operators.graph import (
        bipartite_project,
        degree_histogram,
        pagerank,
        triangle_counts,
        undirected_canonical,
    )
    from lsdm_motogp_data_integration_spark.pipelines.webgraph import (
        dedup_pages,
        host_ranks,
        parse_pages,
    )

    corpus = _doc_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        corpus, "text", "doc_id", threshold=0.8, persist_sets=True
    )
    comp = connected_components(
        corpus.select("doc_id"), pairs, node_col="doc_id"
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = None
    for k in (1, 2, 3):
        ek = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * k + k) % F.lit(n)).alias("dst"),
        )
        edges = ek if edges is None else edges.unionByName(ek)
    edges = edges.filter(F.col("src") % 10 != 7)
    pr = pagerank(
        docs,
        edges,
        node_col="doc_id",
        src_col="src",
        dst_col="dst",
        n_iters=5,
    )
    ds = F.col("doc_id").cast("string")
    ha = ((F.col("doc_id") * 3 + 1) % 7).cast("string")
    hb = ((F.col("doc_id") * 5 + 2) % 7).cast("string")
    link_a = F.concat(
        F.lit('<a href="https://h'), ha, F.lit('.example.com/x">a</a>')
    )
    link_b = F.concat(
        F.lit('<a href="https://h'), hb, F.lit('.example.com/y">b</a>')
    )
    html = F.concat(
        F.lit("<html><body><p>doc "),
        ds,
        F.lit("</p>"),
        link_a,
        F.when(F.col("doc_id") % 2 == 0, link_a).otherwise(F.lit("")),
        link_b,
        F.lit("</body></html>"),
    )
    url = F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p/"),
        ds,
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    webrank = host_ranks(
        dedup_pages(parse_pages(pages, "url", "html")), n_iters=5
    )
    canon = undirected_canonical(edges)
    deg_hist = degree_histogram(canon).select(
        F.col("degree").alias("doc_id"),
        F.col("n_nodes").alias("component"),
    )
    tri = triangle_counts(canon).select(
        F.col("node").alias("doc_id"),
        F.col("n_triangles").alias("component"),
    )
    co = bipartite_project(
        read_table(spark, sf_dir, "events"),
        left_col="user_id",
        right_col="event_type",
    ).select(
        F.concat_ws("|", "item_a", "item_b").alias("host"),
        F.col("n_common").alias("component"),
    )
    # anchors (r3): anchor-text aggregation per link target
    # (pipelines/webgraph.anchor_texts) — the retrieval-training
    # signal; every doc links one of 9 targets with a per-doc anchor
    # text (even docs add a second, markup-wrapped anchor — t0 gets
    # BOTH anchors from doc_id%18==0 docs, so n_sources < n_anchors is
    # exercised), plus a relative href the SCHEME filter must drop.
    # The oracle derives targets/texts arithmetically — independent of
    # the HTML parsing the Spark side really performs.
    from lsdm_motogp_data_integration_spark.pipelines.webgraph import (
        anchor_texts,
    )

    t1 = (F.col("doc_id") % 9).cast("string")
    t2 = ((F.col("doc_id") * 2) % 9).cast("string")
    apages = docs.select(
        F.concat(F.lit("https://s"), ds, F.lit(".example.org/p")).alias(
            "url"
        ),
        F.concat(
            F.lit('<a href="https://t'),
            t1,
            F.lit('.example.org/page">text '),
            ds,
            F.lit("</a>"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit('<a href="https://t'),
                    t2,
                    F.lit('.example.org/page"><b>bold</b> '),
                    ds,
                    F.lit("</a>"),
                ),
            ).otherwise(F.lit("")),
            F.lit('<a href="/rel">skip</a>'),
        ).alias("html"),
    )
    # max_texts high enough never to bite at any test sf: the oracle
    # derives the UNCAPPED sorted text list, so the query must too
    # (the cap's hub-bounding behavior is pinned in pytest instead)
    anch = anchor_texts(apages, "url", "html", max_texts=10_000_000).select(
        F.col("n_sources").alias("doc_id"),
        F.col("n_anchors").alias("component"),
        F.col("target").alias("host"),
        "texts",
    )
    return _suite_union(
        [
            ("doc_id", "bigint"),
            ("component", "bigint"),
            ("rank", "double"),
            ("host", "string"),
            ("texts", "string"),
        ],
        ("components", comp),
        ("pagerank", pr),
        ("webrank", webrank),
        ("degrees", deg_hist),
        ("triangles", tri),
        ("cooccur", co),
        ("anchors", anch),
    )


@query(
    oracle="""
            WITH docs AS (
                SELECT doc_id,
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
                           AS t
                FROM documents
            ), salted AS (
                SELECT doc_id,
                       t || ' ' || array_to_string(
                           (string_split(t, ' '))[1:10], ' ') AS text
                FROM docs
            ), w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM salted
            ), grams AS (
                SELECT doc_id, t.s,
                       array_to_string(ws[(t.s+1):(t.s+5)], ' ') AS g
                FROM w, UNNEST(generate_series(
                    0, len(ws) - 5)) AS t(s)
            ), rep AS (
                SELECT doc_id, s FROM (
                    SELECT doc_id, s, ROW_NUMBER() OVER (
                        PARTITION BY doc_id, g ORDER BY s) AS r
                    FROM grams
                ) WHERE r > 1
            ), cov AS (
                SELECT DISTINCT doc_id, u.p
                FROM rep, UNNEST(generate_series(s, s + 4)) AS u(p)
            ), pos AS (
                SELECT doc_id, t.i - 1 AS p, ws[t.i] AS word
                FROM w, UNNEST(generate_series(1, len(ws))) AS t(i)
            ), kept AS (
                SELECT pos.doc_id, pos.p, pos.word
                FROM pos ANTI JOIN cov
                  ON pos.doc_id = cov.doc_id AND pos.p = cov.p
            ), re AS (
                SELECT doc_id,
                       string_agg(word, ' ' ORDER BY p) AS cleaned,
                       COUNT(*) AS n_kept
                FROM kept GROUP BY doc_id
            ), tot AS (
                SELECT doc_id, len(ws) AS n FROM w
            ), w2 AS (
                SELECT doc_id, string_split(t, ' ') AS ws FROM docs
            ), g2 AS (
                SELECT doc_id, t2.s,
                       array_to_string(ws[(t2.s+1):(t2.s+5)], ' ') AS g
                FROM w2, UNNEST(generate_series(
                    0, len(ws) - 5)) AS t2(s)
            ), nd2 AS (
                SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g2 GROUP BY g
            ), rk2 AS (
                SELECT doc_id, s, g, ROW_NUMBER() OVER (
                    PARTITION BY g ORDER BY doc_id, s) AS rn
                FROM g2
            ), m2 AS (
                SELECT rk2.doc_id, rk2.s
                FROM rk2 JOIN nd2 USING (g)
                WHERE nd2.nd >= 2 AND rk2.rn > 1
            ), cov2 AS (
                SELECT DISTINCT doc_id, u.p
                FROM m2, UNNEST(generate_series(s, s + 4)) AS u(p)
            ), pos2 AS (
                SELECT doc_id, t.i - 1 AS p, ws[t.i] AS word
                FROM w2, UNNEST(generate_series(1, len(ws))) AS t(i)
            ), kept2 AS (
                SELECT pos2.doc_id, pos2.p, pos2.word
                FROM pos2 ANTI JOIN cov2
                  ON pos2.doc_id = cov2.doc_id AND pos2.p = cov2.p
            ), re2 AS (
                SELECT doc_id,
                       string_agg(word, ' ' ORDER BY p) AS cleaned,
                       COUNT(*) AS n_kept
                FROM kept2 GROUP BY doc_id
            ), tot2 AS (
                SELECT doc_id, len(ws) AS n FROM w2
            )
            SELECT t.doc_id,
                   COALESCE(r.cleaned, '') AS text,
                   CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_words_kept,
                   CAST(t.n - COALESCE(r.n_kept, 0) AS BIGINT)
                       AS n_words_removed,
                   'intra' AS scope
            FROM tot t LEFT JOIN re r USING (doc_id)
            UNION ALL
            SELECT t.doc_id,
                   COALESCE(r.cleaned, '') AS text,
                   CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_words_kept,
                   CAST(t.n - COALESCE(r.n_kept, 0) AS BIGINT)
                       AS n_words_removed,
                   'cross' AS scope
            FROM tot2 t LEFT JOIN re2 r USING (doc_id)
        """,
    tag="scope",
    scopes=("cross", "intra"),
    headline=True,
)
def q67_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span removal suite — BOTH cases of Lee et al.
    training-data dedup share one driver correctness row, tagged by
    ``scope``:

    - ``intra``: within-document repeats
      (operators/textops.mask_repeated_ngrams, k=5). The synthetic
      corpus rarely repeats 5-grams inside one doc, so the query
      simulates the classic scraped-page duplication by appending each
      document's first 10 words to its end (same formula both
      engines); the operator must drop exactly the appended repeat
      spans while leaving unique text intact.
    - ``cross``: across-document exact-substring dedup
      (operators/textops.cross_doc_span_dedup, k=5) over the
      normalized corpus — the documents table carries near-duplicate
      groups, so shared 5-grams survive only at their globally first
      (doc_id, start) occurrence."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        _compute_width,
    )
    from lsdm_motogp_data_integration_spark.operators.textops import (
        cross_doc_span_dedup,
        mask_repeated_ngrams,
    )

    # widen the derived corpora (r9): the documents scan is a single
    # small-bytes partition, but both operators run heavy per-row gram
    # HOFs — narrow input would serialize them onto one core (the
    # q19/_compute_width lesson; no-op on already-wide scans)
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    normalized = _compute_width(d.select("doc_id", norm.alias("text")))
    salted = _compute_width(
        d.select(
            "doc_id",
            F.concat(
                norm,
                F.lit(" "),
                F.concat_ws(" ", F.slice(F.split(norm, " "), 1, 10)),
            ).alias("text"),
        )
    )
    intra = mask_repeated_ngrams(
        salted, id_col="doc_id", text_col="text", k=5, persist_words=True
    ).withColumn("scope", F.lit("intra"))
    cross = cross_doc_span_dedup(
        normalized, id_col="doc_id", text_col="text", k=5, persist_words=True
    ).withColumn("scope", F.lit("cross"))
    return intra.unionByName(cross)
