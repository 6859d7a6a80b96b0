"""Training-data text operators: signals, chunking and sampling,
corpus indexes, dataset-card statistics, packing, redaction,
boilerplate, ranking, quality and selection suites, shard export
(beyond reference parity — SURVEY.md §7 step 9)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.operators.ann import cosine_topk
from lsdm_motogp_data_integration_spark.operators.dedup import normalized_words
from lsdm_motogp_data_integration_spark.operators.textops import (
    bpe_ish_token_count,
    lang_id,
    quality_score,
    token_count,
)
from lsdm_motogp_data_integration_spark.queries.multimodal import (
    _build_multimodal_media,
)
from lsdm_motogp_data_integration_spark.queries.registry import (
    _suite_union,
    query,
)
from lsdm_motogp_data_integration_spark.sources import read_table


def _bpe_ctes(n_merges: int, max_words: int) -> str:
    """CTE chain replaying textops.learn_bpe_merges bit-for-bit:
    word-freq bounded to the ``max_words`` most frequent words (ties
    word-asc), char-spaced segmentations, then ``n_merges`` unrolled
    generations — per-generation weighted adjacent-pair counts, top
    pair by (count DESC, left ASC, right ASC), and the canonical
    double-space merge rewrite (plain ``replace``; gap doubling makes
    adjacent occurrences non-overlapping = greedy left-to-right BPE).
    Exposes ``bm1..bm{n}`` (a, b, c) single-row merge CTEs."""
    parts = [
        f"""bwf AS (
                SELECT w, freq FROM (
                    SELECT w, COUNT(*) AS freq,
                           ROW_NUMBER() OVER (
                               ORDER BY COUNT(*) DESC, w ASC
                           ) AS rn
                    FROM (
                        SELECT unnest(regexp_split_to_array(
                            trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                            ' '
                        )) AS w
                        FROM documents
                    ) GROUP BY w
                ) WHERE rn <= {max_words}
            ), bseg0 AS (
                SELECT w, freq,
                       trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seg
                FROM bwf
            )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""bp{i} AS (
                SELECT ws[j] AS a, ws[j + 1] AS b,
                       CAST(SUM(freq) AS BIGINT) AS c
                FROM (
                    SELECT freq, regexp_split_to_array(seg, ' ') AS ws
                    FROM bseg{i - 1}
                ), LATERAL (
                    SELECT unnest(generate_series(1, len(ws) - 1)) AS j
                ) t
                WHERE len(ws) >= 2
                GROUP BY 1, 2
            ), bm{i} AS (
                SELECT a, b, c FROM bp{i}
                ORDER BY c DESC, a ASC, b ASC LIMIT 1
            ), bseg{i} AS (
                SELECT s.w, s.freq,
                       trim(regexp_replace(
                           replace(' ' || replace(s.seg, ' ', '  ') || ' ',
                                   ' ' || m.a || '  ' || m.b || ' ',
                                   ' ' || m.a || m.b || ' '),
                           ' +', ' ', 'g')) AS seg
                FROM bseg{i - 1} s CROSS JOIN bm{i} m
            )"""
        )
    return ", ".join(parts)


def _bpe_branch_sql(n_merges: int = 8, max_words: int = 10000) -> str:
    """The q49 ``bpe`` scope branch: the merge table as suite rows."""
    gens = "\n                UNION ALL ".join(
        f"SELECT {i} AS rk, a, b, c FROM bm{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
            SELECT 'bpe' AS scope, CAST(-1 AS BIGINT) AS doc_id,
                   a || b AS term, c AS tf, NULL::BIGINT AS df,
                   NULL::DOUBLE AS tfidf, CAST(rk AS BIGINT) AS rk,
                   a || ' ' || b AS postings, NULL::BIGINT AS est
            FROM (
                WITH {_bpe_ctes(n_merges, max_words)}
                {gens}
            )"""


def _logit_train_ctes(n_iters: int, train_sample: int, lr: float) -> str:
    """CTE chain replaying scoring.train_quality_classifier
    bit-for-bit: quality_features in sorted-name order (f0=alpha,
    f1=digit, f2=mean_word_len, f3=punct, f4=space, f5=stopword),
    self-distilled labels (quality_score ≥ 0.5), the md5('lrq|'||id)
    top-``train_sample`` training set, and ``n_iters`` unrolled
    batch-GD iterations — decimal(18,6)-quantized gradient sums,
    ROUND-6 mean gradients and weight updates, z accumulated in the
    same sorted-feature order. Exposes ``lfeats`` (per-doc features)
    and ``lw{n_iters}`` (b, w0..w5)."""
    z = (
        "w.b + w.w0*t.f0 + w.w1*t.f1 + w.w2*t.f2 "
        "+ w.w3*t.f3 + w.w4*t.f4 + w.w5*t.f5"
    )
    parts = [
        f"""lraw AS (
                SELECT doc_id,
                       CAST(greatest(length(text), 1) AS DOUBLE) AS n,
                       CAST(greatest(
                           CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                           END, 1) AS DOUBLE) AS nt,
                       len(regexp_extract_all(text, '[A-Za-z]')) AS c_alpha,
                       len(regexp_extract_all(text, '[0-9]')) AS c_digit,
                       len(regexp_extract_all(text, '[^\\w\\s]')) AS c_punct,
                       len(regexp_extract_all(text, '\\s')) AS c_space,
                       len(regexp_extract_all(
                           text, '(?i)\\b(the|a|an|and|or|of|to|in|is|it)\\b'
                       )) AS c_stop,
                       len(regexp_extract_all(text, '[^\\s]')) AS c_nonspace
                FROM documents
            ), lfeats AS (
                SELECT doc_id,
                       c_alpha / n AS f0, c_digit / n AS f1,
                       c_nonspace / nt AS f2, c_punct / n AS f3,
                       c_space / n AS f4, c_stop / nt AS f5
                FROM lraw
            ), llab AS (
                SELECT doc_id,
                       CASE WHEN ROUND(greatest(least(
                            0.4 * (c_alpha / n)
                            + 0.3 * least((c_stop / nt) * 4, 1.0)
                            + 0.3 * greatest(
                                  0.0, 1.0 - abs((c_nonspace / nt) - 5.0) / 5.0)
                            - 0.2 * (c_digit / n)
                            - 0.2 * (c_punct / n), 1.0), 0.0), 6) >= 0.5
                            THEN 1.0 ELSE 0.0 END AS y
                FROM lraw
            ), ltrain AS (
                SELECT f.f0, f.f1, f.f2, f.f3, f.f4, f.f5, l.y
                FROM lfeats f
                JOIN llab l USING (doc_id)
                JOIN (
                    SELECT doc_id, ROW_NUMBER() OVER (
                        ORDER BY md5('lrq|' || CAST(doc_id AS VARCHAR)),
                                 doc_id
                    ) AS trk
                    FROM documents
                ) r USING (doc_id)
                WHERE r.trk <= {train_sample}
            ), lw0 AS (
                SELECT 0.0 AS b, 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,
                       0.0 AS w3, 0.0 AS w4, 0.0 AS w5
            )"""
    ]
    gsum = (
        "COALESCE(CAST(SUM(CAST(e{mul} AS DECIMAL(18,6))) AS DOUBLE), 0.0)"
    )
    for i in range(1, n_iters + 1):
        gcols = ", ".join(
            gsum.format(mul=f" * f{j}") + f" AS g{j}" for j in range(6)
        )
        wcols = ", ".join(
            f"ROUND(w.w{j} - {lr} * ROUND(t.g{j} / t.nn, 6), 6) AS w{j}"
            for j in range(6)
        )
        parts.append(
            f"""lt{i} AS (
                SELECT greatest(CAST(COUNT(*) AS DOUBLE), 1.0) AS nn,
                       {gsum.format(mul="")} AS gb,
                       {gcols}
                FROM (
                    SELECT t.f0, t.f1, t.f2, t.f3, t.f4, t.f5,
                           1.0 / (1.0 + exp(-({z}))) - t.y AS e
                    FROM ltrain t CROSS JOIN lw{i - 1} w
                )
            ), lw{i} AS (
                SELECT ROUND(w.b - {lr} * ROUND(t.gb / t.nn, 6), 6) AS b,
                       {wcols}
                FROM lw{i - 1} w CROSS JOIN lt{i} t
            )"""
        )
    return ", ".join(parts)


_LANG2_SQL_CTES = """            ), h AS (
                -- textops.LANG_MARKERS (r6: 11 Latin languages; every
                -- marker starts/ends with an ASCII letter so Java and
                -- RE2 agree on the \\b semantics)
                SELECT doc_id,
                       len(regexp_extract_all(text, '(?i)\\b(der|die|das|und|ist|mit|ein)\\b')) AS h_de,
                       len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|is|that|with)\\b')) AS h_en,
                       len(regexp_extract_all(text, '(?i)\\b(el|la|los|las|que|de|con|una)\\b')) AS h_es,
                       len(regexp_extract_all(text, '(?i)\\b(le|la|les|et|est|avec|une|des)\\b')) AS h_fr,
                       len(regexp_extract_all(text, '(?i)\\b(il|la|gli|che|di|con|una|per)\\b')) AS h_it,
                       len(regexp_extract_all(text, '(?i)\\b(het|een|van|niet|zijn|voor|ook)\\b')) AS h_nl,
                       len(regexp_extract_all(text, '(?i)\\b(jest|oraz|przez|bardzo|które|także|tylko)\\b')) AS h_pl,
                       len(regexp_extract_all(text, '(?i)\\b(não|são|uma|pelo|pela|também)\\b')) AS h_pt,
                       len(regexp_extract_all(text, '(?i)\\b(pentru|dintre|acest|aceasta|către|fiind)\\b')) AS h_ro,
                       len(regexp_extract_all(text, '(?i)\\b(och|att|det|som|från|inte|denna)\\b')) AS h_sv,
                       len(regexp_extract_all(text, '(?i)\\b(bir|için|olarak|değil|ancak|daha|gibi)\\b')) AS h_tr
                FROM documents
            ), m AS (
                SELECT *, greatest(h_de, h_en, h_es, h_fr, h_it, h_nl,
                                   h_pl, h_pt, h_ro, h_sv, h_tr) AS hmax
                FROM h
            ), lang AS (
                -- CASE order = code ascending == the engine's
                -- smallest-code tie-break
                SELECT doc_id,
                       CASE WHEN hmax <= 0 THEN 'und'
                            WHEN h_de = hmax THEN 'de'
                            WHEN h_en = hmax THEN 'en'
                            WHEN h_es = hmax THEN 'es'
                            WHEN h_fr = hmax THEN 'fr'
                            WHEN h_it = hmax THEN 'it'
                            WHEN h_nl = hmax THEN 'nl'
                            WHEN h_pl = hmax THEN 'pl'
                            WHEN h_pt = hmax THEN 'pt'
                            WHEN h_ro = hmax THEN 'ro'
                            WHEN h_sv = hmax THEN 'sv'
                            ELSE 'tr'
                       END AS pred_lang
                FROM m
            ), scr AS (
                -- textops.script_id (r4): chars per Unicode block,
                -- literal-character classes identical to the Spark
                -- side's patterns
                SELECT doc_id,
                       len(regexp_extract_all(text, '[؀-ۿ]')) AS s_arabic,
                       len(regexp_extract_all(text, '[一-鿿]')) AS s_cjk,
                       len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS s_cyrillic,
                       len(regexp_extract_all(text, '[ऀ-ॿ]')) AS s_devanagari,
                       len(regexp_extract_all(text, '[Ͱ-Ͽ]')) AS s_greek,
                       len(regexp_extract_all(text, '[가-힯]')) AS s_hangul,
                       len(regexp_extract_all(text, '[぀-ヿ]')) AS s_kana,
                       -- Latin LETTERS only: the class skips U+00D7
                       -- (×) and U+00F7 (÷), mirroring SCRIPT_RANGES
                       len(regexp_extract_all(text, '[A-Za-zÀ-ÖØ-öø-ɏ]'))
                           AS s_latin
                FROM documents
            ), scrm AS (
                SELECT *, greatest(s_arabic, s_cjk, s_cyrillic,
                                   s_devanagari, s_greek, s_hangul,
                                   s_kana, s_latin) AS smax
                FROM scr
            ), script AS (
                -- CASE order = script name ascending == the engine's
                -- smallest-code tie-break
                SELECT doc_id,
                       CASE WHEN smax <= 0 THEN 'und'
                            WHEN s_arabic = smax THEN 'arabic'
                            WHEN s_cjk = smax THEN 'cjk'
                            WHEN s_cyrillic = smax THEN 'cyrillic'
                            WHEN s_devanagari = smax THEN 'devanagari'
                            WHEN s_greek = smax THEN 'greek'
                            WHEN s_hangul = smax THEN 'hangul'
                            WHEN s_kana = smax THEN 'kana'
                            ELSE 'latin'
                       END AS script
                FROM scrm
            ), l2c AS (
                -- textops.lang_id2 (r5): per-script discrimination
                -- marker counts, same literal classes as the engine
                SELECT doc_id,
                       len(regexp_extract_all(text, '[぀-ヿ]')) AS c_kana,
                       len(regexp_extract_all(text, '[가-힯]')) AS c_hangul,
                       len(regexp_extract_all(text, '[ъЪ]')) AS c_bg,
                       len(regexp_extract_all(text, '[ыэёЫЭЁ]')) AS c_ru,
                       len(regexp_extract_all(text, '[јљњђћџЈЉЊЂЋЏ]'))
                           AS c_sr,
                       len(regexp_extract_all(text, '[іїєґІЇЄҐ]')) AS c_uk,
                       len(regexp_extract_all(text, '[ةًٌٍ]')) AS c_ar,
                       len(regexp_extract_all(text, '[پچژگ]')) AS c_fa,
                       len(regexp_extract_all(text, '[ٹڈڑںےہ]')) AS c_ur,
                       len(regexp_extract_all(text, '(है|का|की|के|में|और)'))
                           AS c_hi,
                       len(regexp_extract_all(text, '(आहे|आणि|मध्ये|येथे)'))
                           AS c_mr,
                       len(regexp_extract_all(text, '(छन्|गरेको|लागि|भएको)'))
                           AS c_ne
                FROM documents
            ), l2 AS (
                -- CASE order within each script = code ascending ==
                -- the engine's argmax smallest-code tie-break
                SELECT s.doc_id,
                       CASE
                         WHEN s.script IN ('cjk', 'kana', 'hangul') THEN
                           CASE WHEN c.c_kana > 0 THEN 'ja'
                                WHEN c.c_hangul > 0 THEN 'ko'
                                ELSE 'zh' END
                         WHEN s.script = 'latin' THEN lang.pred_lang
                         WHEN s.script = 'cyrillic' THEN
                           CASE WHEN greatest(c_bg, c_ru, c_sr, c_uk) <= 0
                                    THEN 'und'
                                WHEN c_bg = greatest(c_bg, c_ru, c_sr, c_uk)
                                    THEN 'bg'
                                WHEN c_ru = greatest(c_bg, c_ru, c_sr, c_uk)
                                    THEN 'ru'
                                WHEN c_sr = greatest(c_bg, c_ru, c_sr, c_uk)
                                    THEN 'sr'
                                ELSE 'uk' END
                         WHEN s.script = 'arabic' THEN
                           CASE WHEN greatest(c_ar, c_fa, c_ur) <= 0
                                    THEN 'und'
                                WHEN c_ar = greatest(c_ar, c_fa, c_ur)
                                    THEN 'ar'
                                WHEN c_fa = greatest(c_ar, c_fa, c_ur)
                                    THEN 'fa'
                                ELSE 'ur' END
                         WHEN s.script = 'greek' THEN 'el'
                         WHEN s.script = 'devanagari' THEN
                           CASE WHEN greatest(c_hi, c_mr, c_ne) <= 0
                                    THEN 'und'
                                WHEN c_hi = greatest(c_hi, c_mr, c_ne)
                                    THEN 'hi'
                                WHEN c_mr = greatest(c_hi, c_mr, c_ne)
                                    THEN 'mr'
                                ELSE 'ne' END
                         ELSE 'und'
                       END AS lang2
                FROM script s
                JOIN l2c c USING (doc_id)
                JOIN lang USING (doc_id)
"""


@query(
    oracle="""
            WITH tok AS (
                SELECT doc_id,
                       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END AS BIGINT) AS n_tokens,
                       CAST(len(regexp_extract_all(
                           text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'
                       )) AS BIGINT) AS n_subtokens
                FROM documents
            ), feats AS (
                SELECT doc_id,
                       CAST(greatest(length(text), 1) AS DOUBLE) AS n,
                       CAST(greatest(
                           CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                           END, 1) AS DOUBLE) AS nt,
                       len(regexp_extract_all(text, '[A-Za-z]')) AS c_alpha,
                       len(regexp_extract_all(text, '[0-9]')) AS c_digit,
                       len(regexp_extract_all(text, '[^\\w\\s]')) AS c_punct,
                       len(regexp_extract_all(
                           text, '(?i)\\b(the|a|an|and|or|of|to|in|is|it)\\b'
                       )) AS c_stop,
                       len(regexp_extract_all(text, '[^\\s]')) AS c_nonspace,
                       len(regexp_extract_all(text, '#|\\.\\.\\.|…'))
                           AS c_sym,
                       len(list_filter(
                           regexp_split_to_array(trim(text), '\\s+'),
                           w -> regexp_matches(w, '[A-Za-z]')
                       )) AS c_alphaw
                FROM documents
            ), score AS (
                SELECT doc_id,
                       0.4 * (c_alpha / n)
                       + 0.3 * least((c_stop / nt) * 4, 1.0)
                       + 0.3 * greatest(
                             0.0, 1.0 - abs((c_nonspace / nt) - 5.0) / 5.0)
                       - 0.2 * (c_digit / n)
                       - 0.2 * (c_punct / n) AS s
                FROM feats
            ), qual AS (
                SELECT doc_id,
                       ROUND(greatest(least(s, 1.0), 0.0), 6) AS quality
                FROM score
""" + _LANG2_SQL_CTES + """
            ), nbnorm AS (
                -- scoring.char_ngram_buckets normalization (r5):
                -- trim -> squeeze whitespace -> lower, then char
                -- 3-grams hashed md5-60 mod 64
                SELECT doc_id, lang,
                       lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
                           AS norm
                FROM documents
            ), nbbuckets AS (
                SELECT doc_id, lang,
                       CAST(('0x' || substr(md5(
                           substr(norm, i, 3)), 1, 15)) AS BIGINT) % 64
                           AS bucket
                FROM nbnorm, LATERAL (
                    SELECT unnest(generate_series(1, length(norm) - 2))
                        AS i
                ) t
                WHERE length(norm) >= 3
            ), nbcounts AS (
                SELECT lang, bucket, COUNT(*) AS cnt
                FROM nbbuckets GROUP BY 1, 2
            ), nbtot AS (
                SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot
                FROM nbcounts GROUP BY 1
            ), nbgrid AS (
                -- complete (label x bucket) grid with add-one
                -- smoothing; 6dp decimal quantization = the engine's
                -- cross-float-op convention
                SELECT l.lang, b.bucket,
                       ROUND(CAST(CAST(ln(
                           (COALESCE(c.cnt, 0) + 1.0)
                           / (COALESCE(t.tot, 0) + 64.0)
                       ) AS DECIMAL(18,6)) AS DOUBLE), 6) AS logp
                FROM (SELECT DISTINCT lang FROM documents) l
                CROSS JOIN (
                    SELECT unnest(generate_series(0, 63)) AS bucket
                ) b
                LEFT JOIN nbtot t USING (lang)
                LEFT JOIN nbcounts c USING (lang, bucket)
            ), nbpriors AS (
                SELECT lang,
                       ROUND(CAST(CAST(ln(
                           COUNT(*) / CAST((SELECT COUNT(*) FROM documents)
                                           AS DOUBLE)
                       ) AS DECIMAL(18,6)) AS DOUBLE), 6) AS logprior
                FROM documents GROUP BY 1
            ), nbdoc AS (
                SELECT doc_id, bucket, COUNT(*) AS cnt
                FROM nbbuckets GROUP BY 1, 2
            ), nbgsum AS (
                SELECT db.doc_id, m.lang,
                       CAST(SUM(CAST(db.cnt * m.logp AS DECIMAL(18,6)))
                            AS DOUBLE) AS gsum
                FROM nbdoc db JOIN nbgrid m USING (bucket)
                GROUP BY 1, 2
            ), nbscore AS (
                SELECT d.doc_id, p.lang,
                       ROUND(p.logprior + COALESCE(g.gsum, 0.0), 6)
                           AS score
                FROM (SELECT DISTINCT doc_id FROM documents) d
                CROSS JOIN nbpriors p
                LEFT JOIN nbgsum g
                    ON g.doc_id = d.doc_id AND g.lang = p.lang
            ), nbpred AS (
                SELECT doc_id, lang AS lang_nb FROM (
                    SELECT doc_id, lang,
                           ROW_NUMBER() OVER (
                               PARTITION BY doc_id
                               ORDER BY score DESC, lang ASC
                           ) AS rk
                    FROM nbscore
                ) WHERE rk = 1
            ), terms AS (
                SELECT doc_id, unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                )) AS term
                FROM documents
            ), per_term AS (
                SELECT doc_id, term, COUNT(*) AS cnt
                FROM terms GROUP BY 1, 2
            ), rep AS (
                SELECT doc_id,
                       ROUND(COUNT(*) * 1.0 / SUM(cnt), 6) AS distinct_ratio,
                       ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top_token_share
                FROM per_term GROUP BY doc_id
            ), vocab AS (
                SELECT term, CAST(SUM(cnt) AS BIGINT) AS ccnt
                FROM per_term GROUP BY 1
            ), tot AS (
                SELECT CAST(SUM(ccnt) AS BIGINT) AS total FROM vocab
            ), lm_sum AS (
                SELECT doc_id,
                       CAST(SUM(cnt) AS BIGINT) AS n_toks,
                       CAST(SUM(CAST(cnt * (-ln(
                           CAST(ccnt AS DOUBLE) / CAST(total AS DOUBLE)
                       )) AS DECIMAL(18,6))) AS DOUBLE) AS nll_sum
                FROM per_term JOIN vocab USING (term) CROSS JOIN tot
                GROUP BY doc_id
            ), lm AS (
                SELECT doc_id,
                       ROUND(nll_sum / CAST(n_toks AS DOUBLE), 6) AS nll,
                       ROUND(EXP(nll_sum / CAST(n_toks AS DOUBLE)), 6)
                           AS ppl
                FROM lm_sum
            ), bg2 AS (
                -- scoring.bigram_nll replay: positional bigram tf per
                -- (doc, a, b) rides the existing bg_counts relation
                SELECT doc_id, string_split(bgram, ' ')[1] AS a,
                       string_split(bgram, ' ')[2] AS b, cnt AS tf
                FROM bg_counts
            ), big2 AS (
                SELECT a, b, CAST(SUM(tf) AS BIGINT) AS cab
                FROM bg2 GROUP BY 1, 2
            ), left2 AS (
                SELECT a, CAST(SUM(cab) AS BIGINT) AS ca
                FROM big2 GROUP BY 1
            ), lm2sum AS (
                -- (1.0 - 0.7) spelled as the SUBTRACTION, not 0.3:
                -- the engine computes lam via IEEE 1.0-0.7 and the
                -- two literals differ in the last ulp
                SELECT g.doc_id,
                       CAST(SUM(g.tf) AS BIGINT) AS nbg,
                       CAST(SUM(CAST(g.tf * (-ln(
                           0.7 * (CAST(b2.cab AS DOUBLE)
                                  / CAST(l2.ca AS DOUBLE))
                           + (1.0 - 0.7) * (CAST(v.ccnt AS DOUBLE)
                                  / CAST(tot.total AS DOUBLE))
                       )) AS DECIMAL(18,6))) AS DOUBLE) AS s
                FROM bg2 g
                JOIN big2 b2 USING (a, b)
                JOIN left2 l2 USING (a)
                JOIN vocab v ON v.term = g.b
                CROSS JOIN tot
                GROUP BY g.doc_id
            ), lm2 AS (
                -- floor(x·1e6 + 0.5)/1e6, NOT ROUND: engine round
                -- semantics diverge at an exact half-microunit (see
                -- scoring.bigram_nll) — this op sequence is identical
                -- IEEE arithmetic in both engines
                SELECT doc_id,
                       floor(s / CAST(nbg AS DOUBLE) * 1000000.0 + 0.5)
                           / 1000000.0 AS nll2,
                       floor(EXP(s / CAST(nbg AS DOUBLE)) * 1000000.0
                             + 0.5) / 1000000.0 AS ppl2
                FROM lm2sum
            ), lmb AS (
                -- scoring.ccnet_buckets (Wenzek et al. 2020): exact
                -- global rank on (6dp nll, doc_id), tier index by
                -- INTEGER division — no float near tier boundaries
                SELECT doc_id, nll, ppl,
                       CAST(ROW_NUMBER() OVER (
                           ORDER BY nll ASC, doc_id ASC
                       ) AS BIGINT) AS ppl_rank,
                       (['head', 'middle', 'tail'])[
                           CAST((3 * (ROW_NUMBER() OVER (
                               ORDER BY nll ASC, doc_id ASC
                           ) - 1)) // (COUNT(*) OVER ()) AS INTEGER) + 1
                       ] AS ppl_bucket
                FROM lm
            ), gopher AS (
                -- textops.gopher_flags (Rae et al. 2021 rule subset)
                SELECT doc_id,
                       ROUND(c_nonspace / nt, 6) AS mean_word_len,
                       ROUND(c_sym / nt, 6) AS symbol_word_ratio,
                       ROUND(c_alphaw / nt, 6) AS frac_alpha_words
                FROM feats
            ), bg AS (
                SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bgram
                FROM (
                    SELECT doc_id, regexp_split_to_array(
                        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                        ' '
                    ) AS ws
                    FROM documents
                ), LATERAL (
                    SELECT unnest(generate_series(1, len(ws) - 1)) AS i
                ) t
                WHERE len(ws) >= 2
            ), bg_counts AS (
                SELECT doc_id, bgram, COUNT(*) AS cnt
                FROM bg GROUP BY 1, 2
            ), bg_share AS (
                SELECT doc_id,
                       ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6)
                           AS top_bigram_share
                FROM bg_counts GROUP BY doc_id
            ), chars AS (
                -- textops.char_entropy: per-character counts, the
                -- Sigma c*ln(c) decimal-quantized for order
                -- independence, entropy = ln(n) - Sigma/n, portable
                -- floor-based 6dp rounding
                SELECT d.doc_id, substr(d.text, t.i, 1) AS ch
                FROM documents d, LATERAL (
                    SELECT unnest(generate_series(1, length(d.text))) AS i
                ) t
                WHERE length(d.text) >= 1
            ), char_counts AS (
                SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2
            ), entq AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n_chars,
                       CAST(SUM(CAST(
                           CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                           AS DECIMAL(18,6))) AS DOUBLE) AS clnc
                FROM char_counts GROUP BY 1
            ), entropy AS (
                SELECT d.doc_id,
                       COALESCE(e.n_chars, 0) AS n_chars,
                       COALESCE(
                           FLOOR((ln(CAST(e.n_chars AS DOUBLE))
                                  - e.clnc / CAST(e.n_chars AS DOUBLE))
                                 * 1e6 + 0.5) / 1e6,
                           0.0) AS char_entropy
                FROM (SELECT DISTINCT doc_id FROM documents) d
                LEFT JOIN entq e USING (doc_id)
            )
            SELECT tok.doc_id, tok.n_tokens, tok.n_subtokens,
                   qual.quality, lang.pred_lang, script.script,
                   l2.lang2, nbpred.lang_nb,
                   gopher.mean_word_len, gopher.symbol_word_ratio,
                   gopher.frac_alpha_words,
                   rep.distinct_ratio, rep.top_token_share,
                   COALESCE(bg_share.top_bigram_share, 0.0)
                       AS top_bigram_share,
                   lmb.nll, lmb.ppl, lmb.ppl_rank, lmb.ppl_bucket,
                   lm2.nll2, lm2.ppl2,
                   entropy.n_chars, entropy.char_entropy,
                   (tok.n_tokens >= 50 AND tok.n_tokens <= 100000
                    AND gopher.mean_word_len >= 3.0
                    AND gopher.mean_word_len <= 10.0
                    AND gopher.symbol_word_ratio <= 0.1
                    AND gopher.frac_alpha_words >= 0.8
                    AND rep.top_token_share <= 0.2
                    AND COALESCE(bg_share.top_bigram_share, 0.0) <= 0.18)
                       AS gopher_keep
            FROM tok
            JOIN qual USING (doc_id)
            JOIN lang USING (doc_id)
            JOIN script USING (doc_id)
            JOIN l2 USING (doc_id)
            JOIN nbpred USING (doc_id)
            JOIN gopher USING (doc_id)
            JOIN rep USING (doc_id)
            LEFT JOIN bg_share USING (doc_id)
            JOIN lmb USING (doc_id)
            LEFT JOIN lm2 USING (doc_id)
            JOIN entropy USING (doc_id)
        """,
)
def q22_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis signals, the full curation screen in
    one pass: token counts (whitespace + BPE-ish regex subwords),
    quality score (char-class/stopword/word-length heuristic), marker-
    stopword language ID, and repetition signals (distinct-token ratio,
    top-token share). All pure Column expressions except the repetition
    aggregate (explode → per-term counts → per-doc rollup), joined back
    on doc_id. (Merged from round-1 q22/q23/q24/q52 so the four text
    operators share one driver row.) Round 2 adds the unigram-LM
    score (``operators.scoring.unigram_nll`` — the CCNet-style
    perplexity filter, self-trained, decimal-exact per-doc
    reduction). Round 3 adds the Gopher rule set
    (``textops.gopher_flags``, Rae et al. 2021): mean word length,
    symbol-per-word ratio, alphabetic-word fraction, top-BIGRAM share
    (the 2-gram repetition rule, sharing the explode shuffle shape of
    the term aggregate), and the combined ``gopher_keep`` verdict
    (50 ≤ words ≤ 100k, 3 ≤ mean_word_len ≤ 10, symbol ratio ≤ 0.1,
    alpha fraction ≥ 0.8, top-token share ≤ 0.2, top-bigram share
    ≤ 0.18 — the paper's thresholds where applicable). This round adds
    the CCNet perplexity partition (``scoring.ccnet_buckets``, Wenzek
    et al. 2020): exact distributed rank on the LM score and
    integer-arithmetic head/middle/tail tiers — the
    keep-the-Wikipedia-like-third curation cut — plus the interpolated
    bigram LM (``scoring.bigram_nll``, Jelinek-Mercer λ=0.7): one
    Markov order above the unigram filter, per-transition
    ``λ·c(a,b)/c(a,·) + (1−λ)·c(b)/N``, decimal-exact per-doc
    reduction (``nll2``/``ppl2``; NULL for 1-token docs)."""
    from lsdm_motogp_data_integration_spark.operators.scoring import (
        bigram_nll,
        ccnet_buckets,
    )
    from lsdm_motogp_data_integration_spark.operators.textops import (
        gopher_flags,
        lang_id2,
        script_id,
    )

    d = read_table(spark, sf_dir, "documents")
    gf = gopher_flags("text")
    base = d.select(
        "doc_id",
        "text",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_subtokens"),
        quality_score("text").alias("quality"),
        lang_id("text").alias("pred_lang"),
        # r4: dominant Unicode script (textops.script_id) — the
        # route-by-script-first curation signal; literal-character
        # classes keep Java regex and RE2 agreeing
        script_id("text").alias("script"),
        F.round(gf["mean_word_len"], 6).alias("mean_word_len"),
        F.round(gf["symbol_word_ratio"], 6).alias("symbol_word_ratio"),
        F.round(gf["frac_alpha_words"], 6).alias("frac_alpha_words"),
    ).select(
        # r5: per-script language ID (textops.lang_id2) — reuses the
        # already-computed script verdict (named column, evaluated
        # once) instead of re-running the eight SCRIPT_RANGES counts
        "*",
        lang_id2("text", script=F.col("script")).alias("lang2"),
    ).drop("text")
    # the engine-wide tokenization (operators/dedup.normalized_words) —
    # oracle parity depends on query-side and operator-side tokenizers
    # staying identical
    words = normalized_words("text")
    per_term = (
        d.select("doc_id", F.explode(words).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rep = (
        per_term.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("__n"),
            F.count(F.lit(1)).alias("__d"),
            F.max("cnt").alias("__top"),
        )
        .select(
            "doc_id",
            F.round(F.col("__d") / F.col("__n"), 6).alias("distinct_ratio"),
            F.round(F.col("__top") / F.col("__n"), 6).alias(
                "top_token_share"
            ),
        )
    )
    # top-bigram share (Gopher's 2-gram repetition rule): positional
    # bigrams (NOT the distinct shingle set), same explode→count→rollup
    # shuffle shape as per_term; docs with < 2 words have no bigrams
    # and share 0.0
    words_arr = F.col("__w")
    bigrams = d.select("doc_id", words.alias("__w")).select(
        "doc_id",
        F.explode(
            F.transform(
                # guard: Spark's sequence(1, 0) DESCENDS ([1, 0]), so a
                # 1-word doc must take the empty-array branch
                F.when(
                    F.size(words_arr) >= 2,
                    F.sequence(F.lit(1), F.size(words_arr) - 1),
                ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)")),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(words_arr, i),
                    F.element_at(words_arr, i + 1),
                ),
            )
        ).alias("bg"),
    )
    bg_share = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("cnt") / F.sum("cnt"), 6).alias(
                "top_bigram_share"
            )
        )
    )
    lm = ccnet_buckets(d).select(
        "doc_id", "nll", "ppl", "ppl_rank", "ppl_bucket"
    )
    lm2 = bigram_nll(d).select("doc_id", "nll2", "ppl2")
    from lsdm_motogp_data_integration_spark.operators.textops import (
        char_entropy,
    )

    ent = char_entropy(d).select("doc_id", "n_chars", "char_entropy")
    # r5: TRAINED language verdict — self-trained multinomial NB over
    # hashed char 3-grams (scoring.train_lang_nb, closed-form one-pass
    # training on the corpus's own lang labels; portable md5-60
    # hashing so the oracle replays training AND scoring in DuckDB)
    from lsdm_motogp_data_integration_spark.operators.scoring import (
        classify_lang_nb,
        train_lang_nb,
    )

    nb_model = train_lang_nb(
        d, "lang", "text", n_buckets=64, char_n=3, portable=True
    )
    nb = classify_lang_nb(
        d, nb_model, "doc_id", "text",
        n_buckets=64, char_n=3, portable=True,
    ).select("doc_id", "lang_nb")
    out = (
        base.join(rep, "doc_id", "inner")
        .join(bg_share, "doc_id", "left")
        .join(lm, "doc_id", "inner")
        # LEFT: 1-token docs have no transitions, nll2/ppl2 stay NULL
        .join(lm2, "doc_id", "left")
        .join(ent, "doc_id", "inner")
        .join(nb, "doc_id", "inner")
        .withColumn(
            "top_bigram_share",
            F.coalesce(F.col("top_bigram_share"), F.lit(0.0)),
        )
    )
    return out.withColumn(
        "gopher_keep",
        (F.col("n_tokens") >= 50)
        & (F.col("n_tokens") <= 100000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("top_token_share") <= 0.2)
        & (F.col("top_bigram_share") <= 0.18),
    )


@query(
    oracle="""
            WITH h AS (
                SELECT doc_id, source,
                       md5('shuf|' || CAST(doc_id AS VARCHAR)) AS hx
                FROM documents
            )
            SELECT doc_id, source,
                   CAST(CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 8
                        AS BIGINT) AS shard,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY CAST(('0x' || substr(hx, 1, 8))
                                         AS BIGINT) % 8
                       ORDER BY hx ASC, doc_id ASC
                   ) - 1 AS BIGINT) AS pos
            FROM h
        """,
)
def q70_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment
    (operators/keys.training_shards, 8 shards): the training-export
    step — every document gets a reproducible (shard, pos) from
    md5(salt|id), no RNG. One hash shuffle + per-shard sort, the same
    work a shard writer does anyway."""
    from lsdm_motogp_data_integration_spark.operators.keys import (
        training_shards,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return training_shards(d, "doc_id", n_shards=8).select(
        "doc_id", "source", "shard", "pos"
    )


@query(
    oracle="""
            WITH w AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       ) AS ws
                FROM documents
            ), chunks AS (
                SELECT doc_id,
                       CAST(s AS BIGINT) AS chunk_start,
                       array_to_string(ws[s:s+49], ' ') AS chunk_text
                FROM w, LATERAL (
                    SELECT unnest(generate_series(
                        1, greatest(len(ws) - 10, 1), 40
                    )) AS s
                ) t
            )
            SELECT 'chunks' AS scope, doc_id, chunk_start, chunk_text,
                   CAST(len(regexp_split_to_array(chunk_text, ' ')) AS BIGINT)
                       AS chunk_tokens,
                   CAST(NULL AS VARCHAR) AS lang
            FROM chunks
            WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':'
                             || CAST(chunk_start AS VARCHAR)), 1, 1)
                  IN ('0', '1', '2')
            UNION ALL
            SELECT 'rate' AS scope, doc_id,
                   CAST(NULL AS BIGINT) AS chunk_start,
                   CAST(NULL AS VARCHAR) AS chunk_text,
                   CAST(NULL AS BIGINT) AS chunk_tokens,
                   lang
            FROM documents
            WHERE CAST(('0x' || substr(md5(
                      COALESCE(lang, '__null__') || '|'
                      || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                  / CAST(4294967296 AS DOUBLE)
                  < CASE lang WHEN 'en' THEN CAST(0.25 AS DOUBLE)
                              WHEN 'fr' THEN CAST(0.5 AS DOUBLE)
                              WHEN 'de' THEN CAST(0.1 AS DOUBLE)
                              ELSE CAST(0.05 AS DOUBLE) END
            UNION ALL
            SELECT 'exact' AS scope, doc_id,
                   CAST(NULL AS BIGINT) AS chunk_start,
                   CAST(NULL AS VARCHAR) AS chunk_text,
                   CAST(NULL AS BIGINT) AS chunk_tokens,
                   lang
            FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY md5(COALESCE(lang, '__null__')
                                        || '|'
                                        || CAST(doc_id AS VARCHAR)),
                                    doc_id
                       ) AS rk,
                       COUNT(*) OVER (PARTITION BY lang) AS cnt
                FROM documents
            )
            WHERE rk <= CEIL(cnt * CAST(0.1 AS DOUBLE))
            UNION ALL
            -- weighted: Efraimidis-Spirakis A-ES keys replayed —
            -- u = (md5-52 + 0.5)/2^52, key = ln(u)/weight, top-100
            SELECT 'weighted' AS scope, doc_id,
                   CAST(NULL AS BIGINT) AS chunk_start,
                   CAST(NULL AS VARCHAR) AS chunk_text,
                   CAST(NULL AS BIGINT) AS chunk_tokens,
                   lang
            FROM (
                SELECT doc_id, lang,
                       ln((CAST(('0x' || substr(md5('ws|'
                               || CAST(doc_id AS VARCHAR)), 1, 13))
                               AS BIGINT) + 0.5) / 4503599627370496.0)
                       / CAST(n_chars AS DOUBLE) AS skey
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
                ORDER BY skey DESC, doc_id ASC LIMIT 100
            )
        """,
    tag="scope",
    scopes=("chunks", "exact", "rate", "weighted"),
)
def q47_chunk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking + deterministic-sampling suite (tagged by ``scope``;
    no RNG anywhere — training splits must be reproducible across
    engines, runs, and partitionings):

    - ``chunks``: fixed-window chunking (50-token windows, stride 40)
      followed by content-hash sampling of the CHUNKS — keep chunks
      whose md5(doc_id:chunk_start) starts with 0-2 (~3/16 ≈ 19%).
    - ``rate`` (r3): per-stratum RATE sampling of documents by lang
      (textops.stratified_sample — md5(lang|id) as a uniform [0,1)
      draw under per-lang rates, default rate for unlisted langs).
      Zero-shuffle: one filter expression.
    - ``exact`` (r3): EXACT-allocation stratified sampling
      (textops.stratified_allocate) — exactly ceil(0.1·n_lang) docs
      per lang in md5 order; nested-prefix property for scaling-law
      subsamples. One window shuffle on the stratum key.
    - ``weighted`` (r3): Efraimidis–Spirakis weighted sampling
      WITHOUT replacement (textops.weighted_sample) — top-100 docs by
      ``ln(md5-uniform)/n_chars``; inclusion ∝ length, deterministic
      (no RNG), distributed TakeOrdered. The oracle replays the key
      math and the cut exactly."""
    from lsdm_motogp_data_integration_spark.operators.textops import (
        stratified_allocate,
        stratified_sample,
        weighted_sample,
    )

    chunks = q48_chunking(spark, sf_dir)
    bucket = F.substring(
        F.md5(
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("chunk_start").cast("string"),
            )
        ),
        1,
        1,
    )
    sampled = chunks.filter(bucket.isin("0", "1", "2"))
    docs = read_table(spark, sf_dir, "documents")
    rate = stratified_sample(
        docs,
        "lang",
        {"en": 0.25, "fr": 0.5, "de": 0.1},
        "doc_id",
        default_fraction=0.05,
    ).select("doc_id", "lang")
    exact = stratified_allocate(docs, "lang", 0.1, "doc_id").select(
        "doc_id", "lang"
    )
    weighted = weighted_sample(docs, "n_chars", 100, "doc_id").select(
        "doc_id", "lang"
    )
    return _suite_union(
        [
            ("doc_id", "bigint"),
            ("chunk_start", "bigint"),
            ("chunk_text", "string"),
            ("chunk_tokens", "bigint"),
            ("lang", "string"),
        ],
        ("chunks", sampled),
        ("rate", rate),
        ("exact", exact),
        ("weighted", weighted),
    )


def q48_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training pipelines: fixed 50-token windows
    with stride 40 (10-token overlap), exploded to one row per chunk
    with its text and token count. (Not separately registered — the
    driver row is q47_chunk_sample, which composes this with the
    deterministic sampler.)"""
    d = read_table(spark, sf_dir, "documents")
    window_size, stride = 50, 40
    # the engine-wide tokenization (operators/dedup.normalized_words) —
    # oracle parity depends on query-side and operator-side tokenizers
    # staying identical
    words = normalized_words("text")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(words) - (window_size - stride), F.lit(1)),
        F.lit(stride),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.array_join(F.slice(words, s, window_size), " ").alias("chunk"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.start").cast("bigint").alias("chunk_start"),
            F.col("c.chunk").alias("chunk_text"),
            F.size(F.split(F.col("c.chunk"), " ")).cast("bigint").alias(
                "chunk_tokens"
            ),
        )
    )


@query(
    oracle=f"""
            SELECT 'tfidf' AS scope, t.*, NULL::VARCHAR AS postings,
                   NULL::BIGINT AS est
            FROM (
            WITH terms AS (
                SELECT doc_id, unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                )) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf
                FROM terms GROUP BY 1, 2
            ), dfc AS (
                SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1
            ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
                       ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfc.df), 6)
                           AS tfidf
                FROM tf JOIN dfc USING (term) CROSS JOIN n
            ), ranked AS (
                SELECT *, CAST(ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
                ) AS BIGINT) AS rk
                FROM scored
            )
            SELECT doc_id, term, tf, df, tfidf, rk FROM ranked WHERE rk <= 3
            UNION ALL
            SELECT CAST(-1 AS BIGINT) AS doc_id, ngram AS term,
                   n_occ AS tf, n_docs AS df,
                   ROUND(n_occ * ln(CAST(
                       (SELECT COUNT(*) FROM documents) AS DOUBLE
                   ) / n_docs), 6) AS tfidf,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY n_occ DESC, ngram ASC
                   ) AS BIGINT) AS rk
            FROM (
                SELECT ngram, COUNT(*) AS n_occ,
                       COUNT(DISTINCT doc_id) AS n_docs
                FROM (
                    SELECT doc_id, string_split(trim(regexp_replace(
                        lower(text), '\\s+', ' ', 'g')), ' ') AS ts
                    FROM documents
                ) toks,
                UNNEST([ts[i] || ' ' || ts[i+1]
                        FOR i IN generate_series(1, len(ts)-1)]) AS g(ngram)
                GROUP BY 1
                ORDER BY n_occ DESC, ngram ASC LIMIT 20
            )
            ) t
            UNION ALL
            SELECT 'index' AS scope, NULL::BIGINT AS doc_id, term,
                   NULL::BIGINT AS tf, df, NULL::DOUBLE AS tfidf,
                   NULL::BIGINT AS rk, postings, NULL::BIGINT AS est
            FROM (
                WITH dterms AS (
                    SELECT DISTINCT doc_id, unnest(regexp_split_to_array(
                        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                    )) AS term
                    FROM documents
                )
                SELECT term, COUNT(*) AS df,
                       string_agg(CAST(doc_id AS VARCHAR), ','
                                  ORDER BY doc_id) AS postings
                FROM dterms GROUP BY term HAVING COUNT(*) >= 10
            )
            UNION ALL
            SELECT 'vocab' AS scope, NULL::BIGINT AS doc_id,
                   token AS term, tf, df, NULL::DOUBLE AS tfidf,
                   vocab_id AS rk, NULL::VARCHAR AS postings,
                   NULL::BIGINT AS est
            FROM (
                WITH vterms AS (
                    SELECT doc_id, unnest(regexp_split_to_array(
                        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                    )) AS token
                    FROM documents
                ), vcounts AS (
                    SELECT token, COUNT(*) AS tf,
                           COUNT(DISTINCT doc_id) AS df
                    FROM vterms WHERE token != '' GROUP BY 1
                    HAVING COUNT(*) >= 2
                )
                SELECT token, tf, df,
                       CAST(ROW_NUMBER() OVER (
                           ORDER BY tf DESC, token ASC
                       ) AS BIGINT) AS vocab_id
                FROM vcounts
            )
            UNION ALL
            {_bpe_branch_sql(8, 10000)}
            UNION ALL
            SELECT 'cms' AS scope, NULL::BIGINT AS doc_id, term, tf,
                   NULL::BIGINT AS df, NULL::DOUBLE AS tfidf, rk,
                   NULL::VARCHAR AS postings, est
            FROM (
                WITH cterms AS (
                    SELECT unnest(regexp_split_to_array(
                        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                        ' '
                    )) AS term
                    FROM documents
                ), rowsq AS (SELECT unnest([0, 1, 2]) AS r),
                fan AS (
                    SELECT c.term, rowsq.r,
                           CAST(('0x' || substr(md5(
                               'cms|' || CAST(rowsq.r AS VARCHAR) || '|'
                               || c.term), 1, 15)) AS BIGINT) % 16 AS bucket
                    FROM cterms c CROSS JOIN rowsq
                ), sketch AS (
                    SELECT r, bucket, COUNT(*) AS cnt FROM fan GROUP BY 1, 2
                ), probes AS (SELECT DISTINCT term FROM cterms),
                pfan AS (
                    SELECT p.term, rowsq.r,
                           CAST(('0x' || substr(md5(
                               'cms|' || CAST(rowsq.r AS VARCHAR) || '|'
                               || p.term), 1, 15)) AS BIGINT) % 16 AS bucket
                    FROM probes p CROSS JOIN rowsq
                ), probed AS (
                    SELECT pf.term, COALESCE(s.cnt, 0) AS cnt
                    FROM pfan pf LEFT JOIN sketch s
                         ON s.r = pf.r AND s.bucket = pf.bucket
                ), estq AS (
                    SELECT term, CAST(MIN(cnt) AS BIGINT) AS est
                    FROM probed GROUP BY 1
                ), totals AS (
                    SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
                    FROM cterms GROUP BY 1
                )
                SELECT e.term, t.tf, e.est,
                       CAST(ROW_NUMBER() OVER (
                           ORDER BY e.est DESC, e.term ASC
                       ) AS BIGINT) AS rk
                FROM estq e JOIN totals t USING (term)
                ORDER BY e.est DESC, e.term ASC LIMIT 40
            )
            UNION ALL
            -- oov: per-document coverage of the min_count=2 vocab —
            -- tf = token count, df = OOV count (corpus tf < 2),
            -- tfidf = OOV rate; token-less docs report (0, 0, 0.0)
            SELECT 'oov' AS scope, doc_id, NULL::VARCHAR AS term,
                   tf, df, tfidf, NULL::BIGINT AS rk,
                   NULL::VARCHAR AS postings, NULL::BIGINT AS est
            FROM (
                WITH oterms AS (
                    SELECT doc_id, unnest(regexp_split_to_array(
                        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                    )) AS token
                    FROM documents
                ), onz AS (
                    SELECT doc_id, token FROM oterms WHERE token != ''
                ), ovocab AS (
                    SELECT token AS vtok FROM onz GROUP BY token
                    HAVING COUNT(*) >= 2
                ), per_doc AS (
                    SELECT o.doc_id,
                           CAST(COUNT(*) AS BIGINT) AS n_tokens,
                           CAST(SUM(CASE WHEN v.vtok IS NULL
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
                    FROM onz o LEFT JOIN ovocab v ON o.token = v.vtok
                    GROUP BY 1
                )
                SELECT d.doc_id,
                       COALESCE(p.n_tokens, 0) AS tf,
                       COALESCE(p.n_oov, 0) AS df,
                       ROUND(COALESCE(
                           p.n_oov * 1.0 / p.n_tokens, 0.0), 6) AS tfidf
                FROM (SELECT DISTINCT doc_id FROM documents) d
                LEFT JOIN per_doc p USING (doc_id)
            )
        """,
    tag="scope",
    scopes=("bpe", "cms", "index", "oov", "tfidf", "vocab"),
)
def q49_corpus_index_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-index suite — the corpus-statistics family shares one
    oracle-checked driver row (tagged union), ``scope``:

    - ``tfidf``: per-document top-3 terms by tf·idf (idf = ln(N/df),
      natural log in both engines), ties alphabetical — explode →
      document frequencies → broadcast join back → rank; plus the
      corpus-level top-20 bigram table (``textops.ngram_stats`` — one
      explode, one n-gram-keyed shuffle with map-side partials,
      distributed TakeOrdered for the top-k) as tagged ``doc_id = -1``
      rows.
    - ``index``: inverted index — term → document frequency + sorted
      posting list (comma-joined for engine-agnostic comparison) for
      terms in ≥ 10 documents. Scale note: at 100 TB the inverted
      index IS the (term, doc_id) relation plus the df table — a
      stopword's posting list must stay a term-keyed ROW SET (query
      it with joins, as q64's BM25 does), never one concatenated
      value; the string form here exists for the oracle's
      value-comparison only.
    - ``vocab``: tokenizer-prep vocabulary (textops.build_vocab,
      min_count=2) — every surviving token with total count, document
      frequency, and a DENSE deterministic id by (count desc, token
      asc) assigned via the two-phase distributed ranking
      (keys.add_surrogate_key_distributed — no single-partition
      window; a 100 TB vocabulary is tens of millions of rows).
      ``rk`` carries the vocab id.
    - ``bpe`` (r3): tokenizer TRAINING — the first 8 BPE merges
      learned from the corpus (textops.learn_bpe_merges: one
      distributed word-freq pass bounded to the top-10k words, then
      the deterministic driver-side merge loop — the codebook
      pattern). ``term`` = merged symbol, ``postings`` = the merged
      pair, ``tf`` = pair frequency, ``rk`` = merge rank. The oracle
      UNROLLS THE WHOLE LEARNING LOOP in SQL (word-freq → char-spaced
      segmentations → per-generation pair counts → canonical
      double-space merge rewrite) and must land on the same table.
    - ``cms`` (r3): count-min-sketch heavy hitters
      (operators/sketches — Cormode & Muthukrishnan 2005): a 3×16
      md5-bucketed counter grid deliberately NARROWER than the 31-term
      vocabulary so collisions actually happen, probed with the
      distinct terms and ranked by estimate. ``est`` carries the
      sketch estimate, ``tf`` the exact count — the oracle replays
      buckets → counters → min-estimates in SQL and the one-sided
      ``est >= tf`` guarantee is visible in the checked values.
    - ``oov`` (r3): per-document coverage of the min_count=2 vocab
      (textops.vocab_coverage — explode + broadcast vocab join + one
      doc-keyed aggregate): ``tf`` = token count, ``df`` = OOV count,
      ``tfidf`` = OOV rate. Positive rates measure exactly the
      truncated min_count tail — the number a tokenizer trainer
      watches when sizing the vocabulary."""
    from lsdm_motogp_data_integration_spark.operators.sketches import (
        cms_heavy_hitters,
    )
    from lsdm_motogp_data_integration_spark.operators.textops import (
        build_vocab,
        learn_bpe_merges,
        ngram_stats,
        vocab_coverage,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = d.count()
    # the engine-wide tokenization (operators/dedup.normalized_words) —
    # oracle parity depends on query-side and operator-side tokenizers
    # staying identical
    words = normalized_words("text")
    terms = d.select("doc_id", F.explode(words).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = tf.join(F.broadcast(df_counts), "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    per_doc = (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )
    corpus_bigrams = ngram_stats(d, "doc_id", "text", n=2, top_k=20).select(
        F.lit(-1).cast("bigint").alias("doc_id"),
        F.col("ngram").alias("term"),
        F.col("n_occurrences").alias("tf"),
        F.col("n_docs").alias("df"),
        F.round(
            F.col("n_occurrences")
            * F.log(F.lit(float(n_docs)) / F.col("n_docs")),
            6,
        ).alias("tfidf"),
        F.col("rank").alias("rk"),
    )
    index_rows = (
        d.select("doc_id", F.explode(F.array_distinct(words)).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.sort_array(F.collect_list("doc_id")), ","
            ).alias("postings"),
        )
        .filter(F.col("df") >= 10)
    )
    vocab = build_vocab(d, "text", "doc_id", min_count=2)
    vocab_rows = vocab.select(
        F.col("token").alias("term"),
        "tf",
        "df",
        F.col("vocab_id").alias("rk"),
    )
    oov_rows = vocab_coverage(d, vocab, "text", "doc_id").select(
        "doc_id",
        F.col("n_tokens").alias("tf"),
        F.col("n_oov").alias("df"),
        F.col("oov_rate").alias("tfidf"),
    )
    merges = learn_bpe_merges(d, "text", n_merges=8, max_words=10000)
    bpe_rows = spark.createDataFrame(
        [
            (-1, a + b, int(c), i + 1, f"{a} {b}")
            for i, (a, b, c) in enumerate(merges)
        ],
        "doc_id bigint, term string, tf bigint, rk bigint, postings string",
    )
    hh = cms_heavy_hitters(terms, "term", width=16, depth=3, top_k=40)
    totals = tf.groupBy("term").agg(F.sum("tf").alias("tf"))
    cms_rows = hh.join(F.broadcast(totals), "term").select(
        "term", F.col("tf").cast("bigint").alias("tf"), "est", "rk"
    )
    return _suite_union(
        [
            ("doc_id", "bigint"),
            ("term", "string"),
            ("tf", "bigint"),
            ("df", "bigint"),
            ("tfidf", "double"),
            ("rk", "bigint"),
            ("postings", "string"),
            ("est", "bigint"),
        ],
        ("tfidf", per_doc.unionByName(corpus_bigrams)),
        ("index", index_rows),
        ("vocab", vocab_rows),
        ("bpe", bpe_rows),
        ("cms", cms_rows),
        ("oov", oov_rows),
    )


@query(
    oracle="""
            WITH per_source AS (
                SELECT source,
                       COUNT(*) AS n_docs,
                       CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) / COUNT(*)
                            AS DOUBLE) AS mean_chars,
                       COUNT(DISTINCT lang) AS n_langs,
                       MIN(n_chars) AS min_chars,
                       MAX(n_chars) AS max_chars
                FROM documents GROUP BY source
            -- langmix scope replays textops.lang_id2 via the SAME
            -- shared CTE fragment as q22's lang2 column (the two
            -- oracles cannot drift)
""" + _LANG2_SQL_CTES + """
            ), prof AS (
                SELECT 'doc_id' AS "column", 'bigint' AS dtype,
                       COUNT(*) AS n_rows,
                       CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_nulls,
                       COUNT(DISTINCT doc_id) AS n_distinct,
                       CAST(MIN(CAST(doc_id AS DECIMAL(38,6))) AS DOUBLE)
                           AS min_num,
                       CAST(MAX(CAST(doc_id AS DECIMAL(38,6))) AS DOUBLE)
                           AS max_num,
                       CAST(SUM(CAST(doc_id AS DECIMAL(38,6)))
                            / COUNT(doc_id) AS DOUBLE) AS mean_num,
                       CAST(NULL AS VARCHAR) AS min_str,
                       CAST(NULL AS VARCHAR) AS max_str
                FROM documents
                UNION ALL
                SELECT 'n_chars', 'bigint', COUNT(*),
                       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT),
                       COUNT(DISTINCT n_chars),
                       CAST(MIN(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE),
                       CAST(MAX(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE),
                       CAST(SUM(CAST(n_chars AS DECIMAL(38,6)))
                            / COUNT(n_chars) AS DOUBLE),
                       NULL, NULL
                FROM documents
                UNION ALL
                SELECT 'text', 'string', COUNT(*),
                       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT),
                       COUNT(DISTINCT text), NULL, NULL, NULL,
                       MIN(text), MAX(text)
                FROM documents
                UNION ALL
                SELECT 'lang', 'string', COUNT(*),
                       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT),
                       COUNT(DISTINCT lang), NULL, NULL, NULL,
                       MIN(lang), MAX(lang)
                FROM documents
                UNION ALL
                SELECT 'source', 'string', COUNT(*),
                       CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT),
                       COUNT(DISTINCT source), NULL, NULL, NULL,
                       MIN(source), MAX(source)
                FROM documents
            )
            SELECT 'source' AS scope, source, n_docs, mean_chars, n_langs,
                   min_chars, max_chars,
                   CAST(NULL AS VARCHAR) AS "column",
                   CAST(NULL AS VARCHAR) AS dtype,
                   CAST(NULL AS BIGINT) AS n_rows,
                   CAST(NULL AS BIGINT) AS n_nulls,
                   CAST(NULL AS BIGINT) AS n_distinct,
                   CAST(NULL AS DOUBLE) AS min_num,
                   CAST(NULL AS DOUBLE) AS max_num,
                   CAST(NULL AS DOUBLE) AS mean_num,
                   CAST(NULL AS VARCHAR) AS min_str,
                   CAST(NULL AS VARCHAR) AS max_str,
                   CAST(NULL AS VARCHAR) AS lang,
                   CAST(NULL AS BIGINT) AS sum_chars,
                   CAST(NULL AS BIGINT) AS grp,
                   CAST(NULL AS BIGINT) AS n_de,
                   CAST(NULL AS BIGINT) AS n_en,
                   CAST(NULL AS BIGINT) AS n_es,
                   CAST(NULL AS BIGINT) AS n_fr,
                   CAST(NULL AS BIGINT) AS n_zh,
                   CAST(NULL AS DOUBLE) AS std_chars
            FROM per_source
            UNION ALL
            SELECT 'profile', NULL, NULL, NULL, NULL, NULL, NULL,
                   "column", dtype, n_rows, n_nulls, n_distinct,
                   min_num, max_num, mean_num, min_str, max_str,
                   NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
                   CAST(NULL AS DOUBLE) AS std_chars
            FROM prof
            UNION ALL
            SELECT 'rollup' AS scope, source,
                   COUNT(*) AS n_docs,
                   CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   lang,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(GROUPING(source, lang) AS BIGINT) AS grp,
                   NULL, NULL, NULL, NULL, NULL,
                   CAST(NULL AS DOUBLE) AS std_chars
            FROM documents
            GROUP BY ROLLUP (source, lang)
            UNION ALL
            SELECT 'pivot' AS scope, source,
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(COUNT(*) FILTER (WHERE lang = 'de') AS BIGINT) AS n_de,
                   CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
                   CAST(COUNT(*) FILTER (WHERE lang = 'es') AS BIGINT) AS n_es,
                   CAST(COUNT(*) FILTER (WHERE lang = 'fr') AS BIGINT) AS n_fr,
                   CAST(COUNT(*) FILTER (WHERE lang = 'zh') AS BIGINT) AS n_zh,
                   CAST(NULL AS DOUBLE) AS std_chars
            FROM documents
            GROUP BY source
            UNION ALL
            -- incremental scope: aggregate the FULL table directly —
            -- the engine's 3-batch partial-agg merge must equal this
            -- one-pass computation exactly (lossless combine)
            SELECT 'incremental' AS scope, source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
                       / COUNT(*) AS mean_chars,
                   CAST(NULL AS BIGINT) AS n_langs,
                   MIN(n_chars) AS min_chars,
                   MAX(n_chars) AS max_chars,
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   -- sample stddev from the SAME decimal moments the
                   -- engine's merged state carries (merge.finalize_aggs)
                   CASE WHEN COUNT(*) > 1 THEN SQRT(GREATEST(
                       (CAST(SUM(CAST(n_chars * n_chars
                                      AS DECIMAL(38,6))) AS DOUBLE)
                        - CAST(SUM(CAST(n_chars AS DECIMAL(38,6)))
                               AS DOUBLE)
                          * CAST(SUM(CAST(n_chars AS DECIMAL(38,6)))
                                 AS DOUBLE)
                          / COUNT(*))
                       / (COUNT(*) - 1.0), 0.0)) END AS std_chars
            FROM documents
            GROUP BY source
            UNION ALL
            -- langmix scope (r5): per PREDICTED language (lang_id2)
            -- doc counts + char sums — the dataset-card mix table
            SELECT 'langmix' AS scope,
                   CAST(NULL AS VARCHAR) AS source,
                   COUNT(*) AS n_docs,
                   CAST(NULL AS DOUBLE) AS mean_chars,
                   CAST(NULL AS BIGINT) AS n_langs,
                   CAST(NULL AS BIGINT) AS min_chars,
                   CAST(NULL AS BIGINT) AS max_chars,
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   l.lang2 AS lang,
                   CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
                   CAST(NULL AS BIGINT) AS grp,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE) AS std_chars
            FROM documents d JOIN l2 l USING (doc_id)
            GROUP BY l.lang2
            UNION ALL
            -- pdf scope (r7): the expected text of each skeleton PDF
            -- replays closed-form (page1 = chars 1-120, page2 =
            -- 'page two: ' || chars 121-240, blank-line joined);
            -- md5 + length over the engine's extraction catch any
            -- xref/Flate/escape/line-move defect in the walker.
            -- n_distinct carries n_objects (3 + 2 per page = 7),
            -- n_rows the page count, dtype the header version.
            SELECT 'pdf' AS scope, source,
                   CAST(doc_id AS BIGINT) AS n_docs,
                   CAST(NULL AS DOUBLE) AS mean_chars,
                   CAST(NULL AS BIGINT) AS n_langs,
                   CAST(NULL AS BIGINT) AS min_chars,
                   CAST(NULL AS BIGINT) AS max_chars,
                   CAST(NULL AS VARCHAR) AS "column",
                   -- even docs: classic 1.4 (7 objects: catalog,
                   -- pages, info, 2 page dicts, 2 content streams);
                   -- odd docs: 1.5 compressed (those 5 packed in an
                   -- ObjStm + 2 content streams + ObjStm + XRef = 9)
                   CASE WHEN doc_id % 2 = 0 THEN '1.4' ELSE '1.5' END
                       AS dtype,
                   CAST(2 AS BIGINT) AS n_rows,
                   CAST(NULL AS BIGINT) AS n_nulls,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 7 ELSE 9 END
                        AS BIGINT) AS n_distinct,
                   CAST(NULL AS DOUBLE) AS min_num,
                   CAST(NULL AS DOUBLE) AS max_num,
                   CAST(NULL AS DOUBLE) AS mean_num,
                   md5(substr(text, 1, 120) || chr(10) || chr(10) ||
                       'page two: ' || substr(text, 121, 120))
                       AS min_str,
                   CAST(NULL AS VARCHAR) AS max_str,
                   CAST(NULL AS VARCHAR) AS lang,
                   CAST(length(substr(text, 1, 120)) + 12
                        + length(substr(text, 121, 120)) AS BIGINT)
                       AS sum_chars,
                   CAST(NULL AS BIGINT) AS grp,
                   CAST(NULL AS BIGINT) AS n_de,
                   CAST(NULL AS BIGINT) AS n_en,
                   CAST(NULL AS BIGINT) AS n_es,
                   CAST(NULL AS BIGINT) AS n_fr,
                   CAST(NULL AS BIGINT) AS n_zh,
                   CAST(NULL AS DOUBLE) AS std_chars
            FROM documents
            UNION ALL
            -- card scope (r9): the unified dataset_card — text
            -- per-source + per-lang_id2 sections (unit 'chars',
            -- mean over COUNT(text)) and the media per-(kind,fmt)
            -- section over the constant bmp/pgm fixtures (unit
            -- 'bytes', 198/31 bytes, 7x6 / 5x4 dims, all kept)
            SELECT 'card' AS scope, source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CAST(LENGTH(text) AS DECIMAL(18,6)))
                        / COUNT(text) AS DOUBLE) AS mean_chars,
                   CAST(NULL AS BIGINT) AS n_langs,
                   CAST(MIN(LENGTH(text)) AS BIGINT) AS min_chars,
                   CAST(MAX(LENGTH(text)) AS BIGINT) AS max_chars,
                   'text' AS "column", 'source' AS dtype,
                   COUNT(*) AS n_rows,
                   CAST(NULL AS BIGINT) AS n_nulls,
                   CAST(NULL AS BIGINT) AS n_distinct,
                   CAST(NULL AS DOUBLE) AS min_num,
                   CAST(NULL AS DOUBLE) AS max_num,
                   CAST(NULL AS DOUBLE) AS mean_num,
                   CAST(NULL AS VARCHAR) AS min_str,
                   CAST(NULL AS VARCHAR) AS max_str,
                   'chars' AS lang,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
                   CAST(NULL AS BIGINT) AS grp,
                   NULL, NULL, NULL, NULL, NULL,
                   CAST(NULL AS DOUBLE) AS std_chars
            FROM documents GROUP BY source
            UNION ALL
            SELECT 'card', l.lang2,
                   COUNT(*),
                   CAST(SUM(CAST(LENGTH(d.text) AS DECIMAL(18,6)))
                        / COUNT(d.text) AS DOUBLE),
                   CAST(NULL AS BIGINT),
                   CAST(MIN(LENGTH(d.text)) AS BIGINT),
                   CAST(MAX(LENGTH(d.text)) AS BIGINT),
                   'text', 'lang',
                   COUNT(*),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   'chars',
                   CAST(SUM(LENGTH(d.text)) AS BIGINT),
                   CAST(NULL AS BIGINT),
                   NULL, NULL, NULL, NULL, NULL,
                   CAST(NULL AS DOUBLE)
            FROM documents d JOIN l2 l USING (doc_id)
            GROUP BY l.lang2
            UNION ALL
            SELECT 'card', f.fmt,
                   COUNT(*),
                   CAST(f.nb AS DOUBLE),
                   CAST(NULL AS BIGINT),
                   CAST(f.nb AS BIGINT), CAST(f.nb AS BIGINT),
                   'image', 'fmt',
                   COUNT(*),
                   CAST(f.w AS BIGINT), CAST(f.w AS BIGINT),
                   CAST(f.h AS DOUBLE), CAST(f.h AS DOUBLE),
                   CAST(NULL AS DOUBLE),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   'bytes',
                   CAST(COUNT(*) * f.nb AS BIGINT),
                   CAST(NULL AS BIGINT),
                   NULL, NULL, NULL, NULL, NULL,
                   CAST(NULL AS DOUBLE)
            FROM documents, (
                SELECT * FROM (VALUES ('bmp', 198, 7, 6),
                                      ('pgm', 31, 5, 4))
                       t(fmt, nb, w, h)
            ) f
            GROUP BY f.fmt, f.nb, f.w, f.h
            UNION ALL
            -- pdf_img scope (r9): one FlateDecode DeviceGray image
            -- (4x6, the ':pi:' chain) embedded per doc, walked by
            -- pdf_images -> re-encoded PNG -> media_stats; the chain
            -- replay pins the whole composition
            SELECT 'pdf_img' AS scope,
                   CAST(NULL AS VARCHAR) AS source,
                   CAST(doc_id AS BIGINT) AS n_docs,
                   CAST(NULL AS DOUBLE) AS mean_chars,
                   CAST(NULL AS BIGINT) AS n_langs,
                   CAST(NULL AS BIGINT) AS min_chars,
                   CAST(NULL AS BIGINT) AS max_chars,
                   'Im0' AS "column",
                   CAST(NULL AS VARCHAR) AS dtype,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(6 AS BIGINT) AS n_nulls,
                   CAST(4 AS BIGINT) AS n_distinct,
                   CAST(NULL AS DOUBLE) AS min_num,
                   CAST(NULL AS DOUBLE) AS max_num,
                   CAST(NULL AS DOUBLE) AS mean_num,
                   CAST(NULL AS VARCHAR) AS min_str,
                   CAST(NULL AS VARCHAR) AS max_str,
                   CAST(NULL AS VARCHAR) AS lang,
                   CAST(SUM(v) AS BIGINT) AS sum_chars,
                   CAST(SUM(v * (j + 1)) AS BIGINT) AS grp,
                   CAST(NULL AS BIGINT) AS n_de,
                   CAST(NULL AS BIGINT) AS n_en,
                   CAST(NULL AS BIGINT) AS n_es,
                   CAST(NULL AS BIGINT) AS n_fr,
                   CAST(NULL AS BIGINT) AS n_zh,
                   CAST(NULL AS DOUBLE) AS std_chars
            FROM (
                SELECT doc_id, j,
                       (strpos('0123456789abcdef',
                               substr(hx, 2*j+1, 1))-1)*16
                     + (strpos('0123456789abcdef',
                               substr(hx, 2*j+2, 1))-1) AS v
                FROM (
                    SELECT doc_id,
                           string_agg(md5(text || ':pi:' || i), ''
                                      ORDER BY i) AS hx
                    FROM documents, generate_series(0, 1) AS t(i)
                    GROUP BY doc_id
                ) c, generate_series(0, 23) AS t(j)
            ) pix
            GROUP BY doc_id
        """,
    tag="scope",
    scopes=(
        "card", "incremental", "langmix", "pdf", "pdf_img", "pivot", "profile",
        "rollup", "source",
    ),
)
def q53_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics suite — the corpus-statistics rollup
    family shares one driver row, tagged by ``scope``:

    - ``source``: per-source corpus statistics (document counts,
      decimal-exact mean length, language breadth) — the grouped
      rollup every curation pipeline ends with.
    - ``profile`` (operators/profile.profile_columns): the generic
      per-COLUMN profile of the documents table (row/null/exact-
      distinct counts, decimal-quantized numeric ranges and means,
      string extremes) computed in ONE aggregation pass — every metric
      for every column in a single agg, pivoted to rows by an
      O(#columns) struct explode.
    - ``rollup`` (r3): multi-level aggregation — per (source, lang)
      doc counts and char sums with ROLLUP subtotals and the grand
      total, ``grp`` = grouping id disambiguating rollup-NULLs from
      data NULLs (0 = leaf, 1 = per-source subtotal, 3 = grand
      total). One pass; Spark expands grouping sets before the same
      single shuffle a plain groupBy takes.
    - ``pivot`` (r3): wide reshaping — per-source doc counts pivoted
      into one column per language (``DataFrame.pivot`` with an
      EXPLICIT value list, the plan-static form that needs no eager
      distinct scan; absent combinations surface as 0). The oracle is
      conditional aggregation (``COUNT(*) FILTER``) — the relational
      identity pivot compiles to.
    - ``incremental`` (r3): incremental statistics maintenance
      (operators/merge.partial_aggs + merge_partial_aggs) — the
      documents table split into 3 disjoint delta batches
      (doc_id mod 3), each reduced to a decomposable per-source
      state, the states merged, and mean/stddev/min/max derived from
      the MERGED state (merge.finalize_aggs — the sum-of-squares
      moment makes VARIANCE incrementally maintainable too, r3). The
      oracle aggregates the full table directly, so the hash proves
      the algebraic combine is lossless — the never-re-scan-history
      contract a 100 TB stats pipeline needs.
    - ``langmix`` (r5): the language-mix table every multilingual
      dataset card leads with — per PREDICTED language
      (``textops.lang_id2``, the per-script discriminator; the
      metadata ``lang`` column is what the rollup/pivot scopes
      already count) doc counts and char sums. One groupBy over a
      pure Column verdict; the oracle replays the full per-script
      CASE via the same shared SQL fragment as q22's ``lang2``
      column (``_LANG2_SQL_CTES`` — single-sourced, the two oracles
      cannot drift).
    - ``card`` (r9, VERDICT r8 ask #4): the UNIFIED dataset card
      (``pipelines/curation.dataset_card``) — text per-source and
      per-``lang_id2`` sections plus a media per-(kind, fmt) section
      in one modality/grouping/key schema, run over the documents
      table and the closed-form bmp+pgm fixture pair.  The oracle
      replays every reshaped number (unit-suffixed stats, the
      ``count(text)`` mean denominator, width/height spreads, the
      constant 198-/31-byte container sizes), so the card's
      reshaping logic is hash-pinned, not just pytest-pinned.
    - ``pdf_img`` (r9): embedded-IMAGE extraction — each doc's PDF
      carries one FlateDecode DeviceGray XObject (4×6 pixels from
      the ':pi:' md5 chain); ``pdfcodec.pdf_images`` walks the
      resource dictionary and inflates the stream,
      ``multimodal.pdf_image_extract`` re-encodes it as PNG, and
      ``media_stats`` decodes THAT — the oracle's chain replay pins
      the whole pdf→image→png→stats composition (sum + weighted
      checksum + dims + XObject name).
    - ``pdf`` (r7, VERDICT r6 #4): PDF as a curation SOURCE — a
      2-page skeleton PDF per document (page 1 = chars 1–120, page 2
      = 'page two: ' + chars 121–240) is text-extracted by the
      pure-Python ISO 32000 walker (operators/pdfcodec via
      multimodal.pdf_text). Even docs use the classic 1.4 layout
      (xref table, FlateDecode content streams); odd docs the 1.5
      COMPRESSED layout (object stream + PNG-predictor-coded xref
      stream), so both walkers are driver-verified. The oracle
      replays the expected extraction closed-form from
      ``documents.text`` and compares md5 + length per document
      (plus the per-layout object count and version), so a wrong
      xref offset, /W field, predictor row, ObjStm pair, Flate
      error, string-escape slip, or line-move newline anywhere in
      the walker flips the hash."""
    from lsdm_motogp_data_integration_spark.operators.merge import (
        finalize_aggs,
        merge_partial_aggs,
        partial_aggs,
    )
    from lsdm_motogp_data_integration_spark.operators.profile import (
        profile_columns,
    )

    d = read_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,6)"))
            / F.count(F.lit(1))
        ).cast("double").alias("mean_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    prof = profile_columns(d)
    roll = d.rollup("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.grouping_id().cast("bigint").alias("grp"),
    )
    batches = [
        partial_aggs(
            d.filter(F.col("doc_id") % 3 == i), ["source"], "n_chars"
        )
        for i in range(3)
    ]
    merged = merge_partial_aggs(batches, ["source"])
    inc = finalize_aggs(merged).select(
        "source",
        F.col("n").alias("n_docs"),
        # double(exact decimal sum) / n — NOT decimal division: Spark
        # and DuckDB disagree on result scale for wide decimals
        F.col("mean_v").alias("mean_chars"),
        F.col("min_v").alias("min_chars"),
        F.col("max_v").alias("max_chars"),
        F.col("std_v").alias("std_chars"),
    )
    from lsdm_motogp_data_integration_spark.operators.textops import (
        lang_id2,
    )

    langmix = d.groupBy(lang_id2("text").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    # pdf scope (r7): build → extract → verify, all executor-side;
    # the only shuffle is the 2-column join back to source
    from lsdm_motogp_data_integration_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        pdf_text,
    )

    def _build_pdf_media(docs: DataFrame) -> DataFrame:
        import pandas as _pd

        from lsdm_motogp_data_integration_spark.operators.pdfcodec import (
            encode_pdf_skeleton,
        )

        def run(batches):
            for pb in batches:
                ids, kinds, contents, metas = [], [], [], []
                for did, text in zip(pb["doc_id"], pb["text"]):
                    t = "" if text is None else str(text)
                    pages = [t[:120], "page two: " + t[120:240]]
                    ids.append(int(did))
                    kinds.append("document")
                    # even docs: classic 1.4 layout; odd docs: the
                    # PDF 1.5 compressed layout (ObjStm + predictor-
                    # coded xref stream) — the oracle CASEs on parity,
                    # so BOTH walkers are driver-verified
                    contents.append(
                        encode_pdf_skeleton(
                            pages,
                            layout=(
                                "classic"
                                if did % 2 == 0
                                else "xref_stream"
                            ),
                        )
                    )
                    metas.append(None)
                yield _pd.DataFrame(
                    {
                        "media_id": ids,
                        "kind": kinds,
                        "content": contents,
                        "meta": metas,
                    }
                )

        return docs.select("doc_id", "text").mapInPandas(
            run, schema=MEDIA_SCHEMA
        )

    pdfrows = (
        pdf_text(_build_pdf_media(d))
        .join(
            d.select(F.col("doc_id").alias("media_id"), "source"),
            "media_id",
        )
        .select(
            "source",
            F.col("media_id").cast("bigint").alias("n_docs"),
            F.col("n_pages").cast("bigint").alias("n_rows"),
            F.col("n_objects").cast("bigint").alias("n_distinct"),
            F.col("pdf_version").alias("dtype"),
            F.md5(F.col("text")).alias("min_str"),
            F.length("text").cast("bigint").alias("sum_chars"),
        )
    )
    # pdf_img scope (r9): embedded-image extraction as a driver-
    # verified path — each doc gets a PDF embedding ONE FlateDecode
    # DeviceGray image whose 24 pixels are the ':pi:' md5 chain
    # (4 rows × 6 cols); pdfcodec.pdf_images walks the XObject dict,
    # inflates the stream, and multimodal.pdf_image_extract re-emits
    # it as PNG; media_stats then decodes THAT — so the oracle's
    # chain replay pins the whole pdf→image→png→stats composition.
    from lsdm_motogp_data_integration_spark.operators.multimodal import (
        media_stats as _media_stats_q53,
        pdf_image_extract,
    )

    def _build_pdf_img_media(docs: DataFrame) -> DataFrame:
        import hashlib as _hl

        import numpy as _np
        import pandas as _pd

        from lsdm_motogp_data_integration_spark.operators.multimodal import (  # noqa: E501
            MEDIA_SCHEMA,
        )
        from lsdm_motogp_data_integration_spark.operators.pdfcodec import (
            encode_pdf_with_images,
        )

        def run(batches):
            for pb in batches:
                ids, kinds, contents, metas = [], [], [], []
                for did, text in zip(pb["doc_id"], pb["text"]):
                    t = "" if text is None else str(text)
                    px = b"".join(
                        _hl.md5(f"{t}:pi:{i}".encode()).digest()
                        for i in range(2)
                    )[:24]
                    arr = _np.frombuffer(px, _np.uint8).reshape(4, 6)
                    ids.append(int(did))
                    kinds.append("document")
                    contents.append(
                        encode_pdf_with_images(
                            [("flate_gray", arr)], text=t[:40]
                        )
                    )
                    metas.append(None)
                yield _pd.DataFrame(
                    {
                        "media_id": ids,
                        "kind": kinds,
                        "content": contents,
                        "meta": metas,
                    }
                )

        return docs.select("doc_id", "text").mapInPandas(
            run, schema=MEDIA_SCHEMA
        )

    extracted = pdf_image_extract(_build_pdf_img_media(d))
    pdfimg = _media_stats_q53(
        extracted.select(
            "media_id",
            F.lit("image").alias("kind"),
            "content",
            F.lit(None).cast("binary").alias("meta"),
        )
    ).join(
        extracted.select("media_id", "name"), "media_id"
    ).select(
        F.lit(None).cast("string").alias("source"),
        F.col("media_id").cast("bigint").alias("n_docs"),
        F.col("name").alias("column"),
        F.col("n_values").alias("n_rows"),
        F.col("width").cast("bigint").alias("n_nulls"),
        F.col("height").cast("bigint").alias("n_distinct"),
        F.col("sum_values").alias("sum_chars"),
        F.col("weighted_sum").alias("grp"),
    )
    # card scope (r9, VERDICT r8 ask #4): the UNIFIED dataset card
    # (pipelines/curation.dataset_card — text per-source + per-lang
    # sections AND a media per-(kind,fmt) section in ONE schema),
    # driver-verified end-to-end: the media input is the closed-form
    # bmp+pgm fixture pair (constant 198-/31-byte containers, 7×6 /
    # 5×4 dims), so the oracle replays every reshaped number — the
    # unit-suffixed stats, the modality/grouping/key keying, and the
    # text mean's count(text) denominator (the r9 advisor fix) —
    # mapped onto this suite's columns (column←modality, dtype←
    # grouping, lang←unit, n_rows←n_kept, n_nulls/n_distinct←width
    # spread, min/max_num←height spread).
    from lsdm_motogp_data_integration_spark.pipelines.curation import (
        dataset_card,
    )

    card_media = _build_multimodal_media(d, kinds=(0, 1))
    card = dataset_card(d, card_media).select(
        F.col("key").alias("source"),
        F.col("n_items").alias("n_docs"),
        F.col("mean_units").alias("mean_chars"),
        F.col("max_duration_ms").cast("bigint").alias("n_langs"),
        F.col("min_units").alias("min_chars"),
        F.col("max_units").alias("max_chars"),
        F.col("modality").alias("column"),
        F.col("grouping").alias("dtype"),
        F.col("n_kept").alias("n_rows"),
        F.col("min_width").cast("bigint").alias("n_nulls"),
        F.col("max_width").cast("bigint").alias("n_distinct"),
        F.col("min_height").cast("double").alias("min_num"),
        F.col("max_height").cast("double").alias("max_num"),
        F.col("sum_duration_ms").cast("double").alias("mean_num"),
        F.col("unit").alias("lang"),
        F.col("sum_units").alias("sum_chars"),
        F.col("min_duration_ms").cast("bigint").alias("grp"),
    )
    langs = ["de", "en", "es", "fr", "zh"]
    piv = (
        d.groupBy("source")
        .pivot("lang", langs)
        .count()
        .select(
            "source",
            *[
                F.coalesce(F.col(lg), F.lit(0))
                .cast("bigint")
                .alias(f"n_{lg}")
                for lg in langs
            ],
        )
    )
    return _suite_union(
        [
            ("source", "string"),
            ("n_docs", "bigint"),
            ("mean_chars", "double"),
            ("n_langs", "bigint"),
            ("min_chars", "bigint"),
            ("max_chars", "bigint"),
            ("column", "string"),
            ("dtype", "string"),
            ("n_rows", "bigint"),
            ("n_nulls", "bigint"),
            ("n_distinct", "bigint"),
            ("min_num", "double"),
            ("max_num", "double"),
            ("mean_num", "double"),
            ("min_str", "string"),
            ("max_str", "string"),
            ("lang", "string"),
            ("sum_chars", "bigint"),
            ("grp", "bigint"),
            ("n_de", "bigint"),
            ("n_en", "bigint"),
            ("n_es", "bigint"),
            ("n_fr", "bigint"),
            ("n_zh", "bigint"),
            ("std_chars", "double"),
        ],
        ("source", per_source),
        ("profile", prof),
        ("rollup", roll),
        ("pivot", piv),
        ("incremental", inc),
        ("langmix", langmix),
        ("pdf", pdfrows),
        ("card", card),
        ("pdf_img", pdfimg),
    )


@query(
    oracle="""
            WITH toks AS (
                SELECT doc_id, source, text,
                       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END AS BIGINT) AS n_tokens
                FROM documents
            ), packed AS (
                SELECT doc_id, source, text, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING
                       ), 0) AS prev
                FROM toks
            ), assigned AS (
                SELECT doc_id, source, text, n_tokens,
                       CAST(prev // 2048 AS BIGINT) AS seq_id,
                       CAST(prev % 2048 AS BIGINT) AS seq_offset
                FROM packed
            )
            SELECT 'assign' AS scope, doc_id, source, n_tokens,
                   seq_id, seq_offset,
                   CAST(NULL AS VARCHAR) AS seq_text,
                   CAST(NULL AS BIGINT) AS n_docs,
                   CAST(NULL AS BIGINT) AS seq_tokens
            FROM assigned
            UNION ALL
            SELECT 'sequences', NULL, source, NULL, seq_id, NULL,
                   string_agg(text, ' ' ORDER BY doc_id),
                   COUNT(*), SUM(n_tokens)
            FROM assigned
            GROUP BY source, seq_id
        """,
    tag="scope",
    scopes=("assign", "sequences"),
)
def q61_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence suite — both halves of sequence construction
    share one driver row, tagged by ``scope``:

    - ``assign`` (operators/textops.pack_sequences): documents are
      assigned to fixed-token-budget sequences by contiguous
      start-offset packing within each source shard (one window pass,
      no driver loop). Deterministic: (source, doc_id) ordering,
      2048-token budget.
    - ``sequences`` (operators/textops.materialize_sequences): the
      assignments turned into the ACTUAL concatenated sequence text a
      tokenizer consumes — one shuffle on (source, seq_id), per-group
      state bounded by the pack budget, in-group order via array_sort
      (no window)."""
    from lsdm_motogp_data_integration_spark.operators.textops import (
        materialize_sequences,
        pack_sequences,
    )

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", token_count("text").alias("n_tokens")
    )
    packed = pack_sequences(
        d,
        "n_tokens",
        ["doc_id"],
        budget=2048,
        partition_by=["source"],
    )
    assign = packed.select(
        "doc_id", "source", "n_tokens", "seq_id", "seq_offset"
    )
    seqs = materialize_sequences(
        packed,
        "text",
        ["doc_id"],
        partition_by=["source"],
        token_count_col="n_tokens",
    ).select(
        "source",
        "seq_id",
        F.col("text").alias("seq_text"),
        "n_docs",
        "seq_tokens",
    )
    return _suite_union(
        [
            ("doc_id", "bigint"),
            ("source", "string"),
            ("n_tokens", "bigint"),
            ("seq_id", "bigint"),
            ("seq_offset", "bigint"),
            ("seq_text", "string"),
            ("n_docs", "bigint"),
            ("seq_tokens", "bigint"),
        ],
        ("assign", assign),
        ("sequences", seqs),
    )


@query(
    oracle="""
            WITH salted AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-01'
                            || CAST(doc_id AS VARCHAR) AS text
                FROM documents
            ), pii AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'
                   )) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                       '\\+?\\d{1,3}[-. ]\\d{3}[-. ]\\d{3,4}([-. ]\\d{3,4})?'
                   )) AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(text,
                       '\\b\\d{3}-\\d{2}-\\d{4}\\b'
                   )) AS BIGINT) AS n_ssn,
                   CAST(length(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(text,
                                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                   '[PII]', 'g'),
                               '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[PII]', 'g'),
                           '\\+?\\d{1,3}[-. ]\\d{3}[-. ]\\d{3,4}([-. ]\\d{3,4})?',
                           '[PII]', 'g')
                   ) AS BIGINT) AS redacted_len
            FROM salted
            ), page AS (
                SELECT doc_id,
                       '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                       || '</title><script type="text/javascript">var x = 1; '
                       || '// <not a tag></script><style>.main { color: #fff; }'
                       || '</style></head><body><h1>Doc '
                       || CAST(doc_id AS VARCHAR)
                       || '</h1><!-- build ' || CAST(doc_id AS VARCHAR)
                       || ' --><p>' || substr(text, 1, 150)
                       || ' &amp; more &lt;escaped&gt; &#39;quoted&#39;</p>'
                       || '<a href="https://example.com/doc/'
                       || CAST(doc_id AS VARCHAR)
                       || '">self</a> <a href="https://mirror.example.org/'
                       || CAST(doc_id AS VARCHAR)
                       || '">mirror</a></body></html>' AS html
                FROM documents
            ), stripped AS (
                SELECT doc_id, html,
                       trim(regexp_replace(
                           replace(replace(replace(replace(replace(replace(
                               regexp_replace(
                                   regexp_replace(
                                       regexp_replace(
                                           regexp_replace(html,
                                               '(?is)<script\\b[^>]*>.*?</script\\s*>',
                                               ' ', 'g'),
                                           '(?is)<style\\b[^>]*>.*?</style\\s*>',
                                           ' ', 'g'),
                                       '(?s)<!--.*?-->', ' ', 'g'),
                                   '<[^>]+>', ' ', 'g'),
                               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                               '&quot;', '"'), '&#39;', chr(39)),
                               '&amp;', '&'),
                           '\\s+', ' ', 'g')) AS extracted
                FROM page
            ), html_rows AS (
                SELECT doc_id, extracted,
                       regexp_extract(html,
                           '(?is)<title[^>]*>(.*?)</title', 1) AS page_title,
                       CAST(len(regexp_extract_all(html,
                           '(?i)href="([^"]*)"', 1)) AS BIGINT) AS n_links,
                       regexp_extract_all(html,
                           '(?i)href="([^"]*)"', 1)[1] AS first_href,
                       round(CAST(length(extracted) AS DOUBLE)
                             / length(html), 6) AS text_ratio
                FROM stripped
            )
            SELECT 'pii' AS scope, doc_id, n_email, n_phone, n_ssn,
                   redacted_len,
                   CAST(NULL AS VARCHAR) AS extracted,
                   CAST(NULL AS VARCHAR) AS page_title,
                   CAST(NULL AS BIGINT) AS n_links,
                   CAST(NULL AS VARCHAR) AS first_href,
                   CAST(NULL AS DOUBLE) AS text_ratio,
                   CAST(NULL AS BIGINT) AS n_bad,
                   CAST(NULL AS BOOLEAN) AS bw_keep
            FROM pii
            UNION ALL
            SELECT 'html' AS scope, doc_id,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   extracted, page_title, n_links, first_href, text_ratio,
                   CAST(NULL AS BIGINT) AS n_bad,
                   CAST(NULL AS BOOLEAN) AS bw_keep
            FROM html_rows
            UNION ALL
            -- badwords: the C4 whole-word content blocklist, recounted
            -- in RE2 over the same planted terms
            SELECT 'badwords' AS scope, doc_id,
                   CAST(NULL AS BIGINT) AS n_email,
                   CAST(NULL AS BIGINT) AS n_phone,
                   CAST(NULL AS BIGINT) AS n_ssn,
                   CAST(NULL AS BIGINT) AS redacted_len,
                   CAST(NULL AS VARCHAR) AS extracted,
                   CAST(NULL AS VARCHAR) AS page_title,
                   CAST(NULL AS BIGINT) AS n_links,
                   CAST(NULL AS VARCHAR) AS first_href,
                   CAST(NULL AS DOUBLE) AS text_ratio,
                   n_bad, n_bad = 0 AS bw_keep
            FROM (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(
                           CASE WHEN doc_id % 5 = 0
                                THEN text || ' zzzCrude stuff zzzlewd here'
                                ELSE text END,
                           '(?i)\\b(zzzcrude|zzzlewd)\\b', 1
                       )) AS BIGINT) AS n_bad
                FROM documents
            )
        """,
    tag="scope",
    scopes=("badwords", "html", "pii"),
)
def q62_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-transform suite (tagged union, ``scope``) — the two
    string-rewrite stages of a web-corpus ingest, each planted
    deterministically because testdata has neither PII nor markup:

    - ``pii``: deterministic synthetic contact strings are appended to
      each document, then counted and redacted with the portable regex
      set (operators/textops.PII_PATTERNS) — the scrub step between
      dedup and packing.
    - ``html`` (r3): each document is wrapped into a full synthetic
      page (head/title, a ``<script>`` whose body contains a fake tag,
      a ``<style>`` block, a comment, escaped entities, two
      ``href`` links), then run through the C4-style extraction
      (textops.strip_html — script/style/comment subtrees dropped,
      tags stripped BEFORE entities decode, whitespace collapsed)
      plus title/outlink extraction and the text-to-markup boilerplate
      ratio. The oracle replays the exact regex chain in DuckDB's RE2
      — a cross-regex-engine parity check of the Java patterns.
    - ``badwords`` (r3): the C4 content blocklist
      (textops.badword_screen — whole-word case-insensitive
      alternation; ANY hit drops the page): every 5th doc gets two
      planted list terms (one case-twisted), the rest stay clean; the
      oracle recounts hits and the keep verdict in RE2."""
    from lsdm_motogp_data_integration_spark.operators.textops import (
        badword_screen,
        html_links,
        html_text_ratio,
        html_title,
        pii_counts,
        redact_pii,
        strip_html,
    )

    d = read_table(spark, sf_dir, "documents")
    salted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    counts = pii_counts("text")
    pii = salted.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ssn_like"].alias("n_ssn"),
        F.length(redact_pii("text")).cast("bigint").alias("redacted_len"),
    )
    ds = F.col("doc_id").cast("string")
    page = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            ds,
            F.lit(
                "</title><script type=\"text/javascript\">var x = 1; "
                "// <not a tag></script><style>.main { color: #fff; }"
                "</style></head><body><h1>Doc "
            ),
            ds,
            F.lit("</h1><!-- build "),
            ds,
            F.lit(" --><p>"),
            F.substring(F.col("text"), 1, 150),
            F.lit(
                " &amp; more &lt;escaped&gt; &#39;quoted&#39;</p>"
                "<a href=\"https://example.com/doc/"
            ),
            ds,
            F.lit("\">self</a> <a href=\"https://mirror.example.org/"),
            ds,
            F.lit("\">mirror</a></body></html>"),
        ).alias("__html"),
    )
    html = page.select(
        "doc_id",
        strip_html(F.col("__html")).alias("extracted"),
        html_title(F.col("__html")).alias("page_title"),
        F.size(html_links(F.col("__html"))).cast("bigint").alias("n_links"),
        F.element_at(html_links(F.col("__html")), 1).alias("first_href"),
        html_text_ratio(F.col("__html"), strip_html(F.col("__html"))).alias(
            "text_ratio"
        ),
    )
    bw_salted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"), F.lit(" zzzCrude stuff zzzlewd here")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bw = badword_screen("text", ("zzzcrude", "zzzlewd"))
    bwrows = bw_salted.select(
        "doc_id",
        bw["n_badwords"].alias("n_bad"),
        bw["badword_keep"].alias("bw_keep"),
    )
    return _suite_union(
        [
            ("doc_id", "bigint"),
            ("n_email", "bigint"),
            ("n_phone", "bigint"),
            ("n_ssn", "bigint"),
            ("redacted_len", "bigint"),
            ("extracted", "string"),
            ("page_title", "string"),
            ("n_links", "bigint"),
            ("first_href", "string"),
            ("text_ratio", "double"),
            ("n_bad", "bigint"),
            ("bw_keep", "boolean"),
        ],
        ("pii", pii),
        ("html", html),
        ("badwords", bwrows),
    )


@query(
    oracle="""
            WITH docs AS (
                SELECT doc_id,
                       string_split(lower(regexp_replace(trim(text),
                           '\\s+', ' ', 'g')), ' ') AS words
                FROM documents
            ), lined_text AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0
                            THEN 'subscribe to our newsletter for updates'
                                 || chr(10) ELSE '' END
                       || (SELECT string_agg(
                               array_to_string(
                                   words[(i*8+1):(i*8+8)], ' '),
                               chr(10) ORDER BY i)
                           FROM UNNEST(generate_series(0,
                               CAST(ceil(len(words)/8.0) AS BIGINT)-1))
                               AS t(i))
                       || chr(10)
                       || 'all rights reserved example corpus inc'
                           AS text
                FROM docs
            ), lines AS (
                SELECT doc_id, t.i - 1 AS pos, arr[t.i] AS line
                FROM (SELECT doc_id,
                             string_split(text, chr(10)) AS arr
                      FROM lined_text),
                     UNNEST(generate_series(1, len(arr))) AS t(i)
            ), freq AS (
                SELECT line FROM (
                    SELECT line, COUNT(DISTINCT doc_id) AS n
                    FROM lines GROUP BY line
                ) WHERE n >= 3
            ), kept AS (
                SELECT l.doc_id, l.pos, l.line
                FROM lines l ANTI JOIN freq f USING (line)
            ), rebuilt AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS cleaned,
                       COUNT(*) AS n_kept
                FROM kept GROUP BY doc_id
            ), totals AS (
                SELECT doc_id, len(string_split(text, chr(10))) AS n_total
                FROM lined_text
            ),
            -- dedup_lines_keep_first replay: eligibility (non-blank)
            -- is a property of the line TEXT, so every row of a line
            -- partition shares it and one window gives occ + keeper
            lk AS (
                SELECT doc_id, pos, line,
                       ROW_NUMBER() OVER (
                           PARTITION BY line ORDER BY doc_id, pos
                       ) AS rn,
                       COUNT(*) OVER (PARTITION BY line) AS occ,
                       length(trim(line)) >= 1 AS elig
                FROM lines
            ), kept2 AS (
                SELECT doc_id, pos, line FROM lk
                WHERE NOT elig OR occ < 2 OR rn = 1
            ), rebuilt2 AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS cleaned,
                       COUNT(*) AS n_kept
                FROM kept2 GROUP BY doc_id
            )
            SELECT 'boilerplate' AS scope, t.doc_id,
                   COALESCE(r.cleaned, '') AS cleaned_text,
                   CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_lines_kept,
                   CAST(t.n_total - COALESCE(r.n_kept, 0) AS BIGINT)
                       AS n_lines_removed,
                   NULL::DOUBLE AS dup_line_frac,
                   NULL::DOUBLE AS dup_char_frac
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)
            UNION ALL
            SELECT 'linededup' AS scope, t.doc_id,
                   COALESCE(r.cleaned, '') AS cleaned_text,
                   CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_lines_kept,
                   CAST(t.n_total - COALESCE(r.n_kept, 0) AS BIGINT)
                       AS n_lines_removed,
                   NULL::DOUBLE AS dup_line_frac,
                   NULL::DOUBLE AS dup_char_frac
            FROM totals t LEFT JOIN rebuilt2 r USING (doc_id)
            UNION ALL
            -- dupfrac: Gopher intra-doc duplicate-line fractions over
            -- the corpus with the 4th-doc first-line re-append
            -- base is ALL docs (left join + coalesce) to mirror the
            -- Spark side, which emits (0, 0.0, 0.0) for docs with no
            -- non-empty lines via its base left join
            SELECT 'dupfrac' AS scope, doc_id,
                   NULL::VARCHAR AS cleaned_text,
                   COALESCE(n_lines, 0) AS n_lines_kept,
                   NULL::BIGINT AS n_lines_removed,
                   COALESCE(dup_line_frac, 0.0) AS dup_line_frac,
                   COALESCE(dup_char_frac, 0.0) AS dup_char_frac
            FROM (
                WITH duped_text AS (
                    SELECT lt.doc_id,
                           lt.text || CASE WHEN lt.doc_id % 4 = 0
                               THEN chr(10) || array_to_string(
                                   d.words[1:8], ' ')
                               ELSE '' END AS text
                    FROM lined_text lt JOIN docs d USING (doc_id)
                ), dlines AS (
                    SELECT doc_id, arr[t.i] AS line
                    FROM (SELECT doc_id,
                                 string_split(text, chr(10)) AS arr
                          FROM duped_text),
                         UNNEST(generate_series(1, len(arr))) AS t(i)
                    WHERE trim(arr[t.i]) != ''
                ), dl_counts AS (
                    SELECT doc_id, line, COUNT(*) AS c,
                           length(line) AS ln
                    FROM dlines GROUP BY 1, 2
                ), per_doc AS (
                    SELECT doc_id,
                           CAST(SUM(c) AS BIGINT) AS n_lines,
                           ROUND(SUM(c - 1) * 1.0 / SUM(c), 6)
                               AS dup_line_frac,
                           ROUND(SUM((c - 1) * ln) * 1.0
                                 / SUM(c * ln), 6) AS dup_char_frac
                    FROM dl_counts GROUP BY 1
                )
                SELECT b.doc_id, p.n_lines, p.dup_line_frac,
                       p.dup_char_frac
                FROM (SELECT DISTINCT doc_id FROM duped_text) b
                LEFT JOIN per_doc p USING (doc_id)
            )
        """,
    tag="scope",
    scopes=("boilerplate", "dupfrac", "linededup"),
    headline=True,
)
def q63_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate-line removal (CCNet-style,
    operators/boilerplate.remove_boilerplate_lines — no reference
    equivalent; training-data-curation extension). The synthetic corpus
    is flat word soup, so the query (a) regroups each document into
    8-word content lines with an identical formula in both engines and
    (b) plants deterministic template boilerplate the way q62 plants
    PII: every doc gets a license footer, every third doc a newsletter
    header. Two line-hygiene policies share the driver row (tagged
    union, ``scope``):

    - ``boilerplate`` (remove_boilerplate_lines, min_docs=3): planted
      template lines (and the one naturally-repeated short tail line)
      are dropped from EVERY document; unique content lines survive
      in order.
    - ``linededup`` (dedup_lines_keep_first, the RefinedWeb /
      MassiveText exact-line rule): every repeated line survives ONLY
      at its globally first (doc_id, position) occurrence — so the
      planted footer keeps exactly one copy corpus-wide instead of
      zero, which is the observable difference the oracle checks."""
    from lsdm_motogp_data_integration_spark.operators.boilerplate import (
        dedup_lines_keep_first,
        remove_boilerplate_lines,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the engine-wide tokenization (operators/dedup.normalized_words) —
    # oracle parity depends on query-side and operator-side tokenizers
    # staying identical
    words = normalized_words("text")
    n_lines = F.ceil(F.size(words) / F.lit(8.0)).cast("int")
    content = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), n_lines - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(words, i * 8 + 1, 8)),
        ),
    )
    header = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit("subscribe to our newsletter for updates\n"),
    ).otherwise(F.lit(""))
    footer = F.lit("\nall rights reserved example corpus inc")
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        _compute_width,
    )

    # widen the derived corpus (r9): the documents scan is one
    # small-bytes partition but the line-regroup HOF + the operators'
    # per-row array passes are compute-heavy (the q19/_compute_width
    # lesson; no-op on already-wide scans). Persist it ONCE here —
    # the regroup HOF previously re-ran inside each operator's own
    # persist; the operators' remaining re-reads are cheap splits of
    # the cached strings (persist_lines=False)
    lined = _compute_width(
        d.select(
            "doc_id", F.concat(header, content, footer).alias("text")
        )
    ).persist()
    boiler = remove_boilerplate_lines(
        lined,
        id_col="doc_id",
        text_col="text",
        sep="\n",
        min_docs=3,
        persist_lines=False,
    ).select(
        "doc_id",
        F.col("text").alias("cleaned_text"),
        "n_lines_kept",
        "n_lines_removed",
    )
    linededup = dedup_lines_keep_first(
        lined,
        id_col="doc_id",
        text_col="text",
        sep="\n",
        min_line_chars=1,
        persist_lines=False,
    ).select(
        "doc_id",
        F.col("text").alias("cleaned_text"),
        "n_lines_kept",
        "n_lines_removed",
    )
    # dupfrac (r3): Gopher intra-document duplicate-line fractions
    # (boilerplate.dup_line_stats) — every 4th doc re-appends its
    # FIRST content line, so those docs carry a known positive
    # duplicate fraction the oracle recomputes exactly
    from lsdm_motogp_data_integration_spark.operators.boilerplate import (
        dup_line_stats,
    )

    first_line = F.concat_ws(" ", F.slice(words, 1, 8))
    duped = d.select(
        "doc_id",
        F.concat(
            header,
            content,
            footer,
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit("\n"), first_line),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    dupfrac = dup_line_stats(_compute_width(duped), "text", "doc_id").select(
        "doc_id",
        F.col("n_lines").alias("n_lines_kept"),
        "dup_line_frac",
        "dup_char_frac",
    )
    return _suite_union(
        [
            ("doc_id", "bigint"),
            ("cleaned_text", "string"),
            ("n_lines_kept", "bigint"),
            ("n_lines_removed", "bigint"),
            ("dup_line_frac", "double"),
            ("dup_char_frac", "double"),
        ],
        ("boilerplate", boiler),
        ("linededup", linededup),
        ("dupfrac", dupfrac),
    )


@query(
    oracle="""
            WITH docs AS (
                SELECT doc_id,
                       string_split(lower(regexp_replace(trim(text),
                           '\\s+', ' ', 'g')), ' ') AS toks
                FROM documents
            ), d2 AS (
                SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks
                FROM docs
            ), stats AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                       AVG(dl) AS avgdl
                FROM d2
            ), terms AS (
                SELECT doc_id, dl, unnest(toks) AS term FROM d2
            ), hits AS (
                SELECT doc_id, dl, term,
                       CAST(COUNT(*) AS DOUBLE) AS tf
                FROM terms
                WHERE term IN ('spark', 'shuffle', 'window')
                GROUP BY doc_id, dl, term
            ), dfreq AS (
                SELECT term,
                       CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
                FROM hits GROUP BY term
            ), scored AS (
                SELECT h.doc_id,
                       CAST(ln(1.0 + (s.n_docs - f.df + 0.5)
                                     / (f.df + 0.5))
                            * h.tf * 2.2
                            / (h.tf + 1.2 * (0.25 + 0.75 * h.dl
                                                    / s.avgdl))
                            AS DECIMAL(18,6)) AS contrib
                FROM hits h
                JOIN dfreq f USING (term)
                CROSS JOIN stats s
            ), agg AS (
                SELECT doc_id,
                       CAST(SUM(contrib) AS DOUBLE) AS bm25,
                       COUNT(*) AS n_terms_hit
                FROM scored GROUP BY doc_id
            )
            , btop AS (
                SELECT doc_id, bm25, n_terms_hit,
                       ROW_NUMBER() OVER (
                           ORDER BY bm25 DESC, doc_id ASC) AS rk
                FROM agg
                ORDER BY bm25 DESC, doc_id ASC LIMIT 100
            ), qv AS (
                SELECT CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id = 0
            ), vtop AS (
                SELECT vec_id AS doc_id,
                       ROW_NUMBER() OVER (ORDER BY c DESC, vec_id ASC)
                           AS rank
                FROM (
                    SELECT e.vec_id,
                           round(list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]), qv.v), 6)
                               AS c
                    FROM embeddings e CROSS JOIN qv
                )
                ORDER BY c DESC, vec_id ASC LIMIT 20
            ), contribs AS (
                SELECT doc_id,
                       CAST(floor(1e15 / (60.0 + rk)) AS BIGINT) AS c
                FROM btop WHERE rk <= 20
                UNION ALL
                SELECT doc_id,
                       CAST(floor(1e15 / (60.0 + rank)) AS BIGINT) AS c
                FROM vtop
            ), fused AS (
                SELECT doc_id,
                       CAST(SUM(c) AS DOUBLE) / 1e15 AS rrf
                FROM contribs GROUP BY doc_id
            ), htop AS (
                SELECT doc_id, rrf,
                       ROW_NUMBER() OVER (
                           ORDER BY rrf DESC, doc_id ASC) AS rk
                FROM fused
                ORDER BY rrf DESC, doc_id ASC LIMIT 10
            )
            SELECT 'bm25' AS scope, doc_id, bm25, n_terms_hit,
                   CAST(rk AS BIGINT) AS rk, CAST(NULL AS DOUBLE) AS rrf
            FROM btop
            UNION ALL
            SELECT 'hybrid' AS scope, doc_id,
                   CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
                   CAST(rk AS BIGINT), rrf
            FROM htop
        """,
    tag="scope",
    scopes=("bm25", "hybrid"),
    headline=True,
)
def q64_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (operators/ranking.bm25_scores, Lucene idf variant)
    over the documents corpus for a fixed three-term query — the
    retrieval-style companion to TF-IDF q49 / inverted index q50.
    avgdl is exact in both engines (integer doc lengths sum exactly in
    double); per-term contributions follow the decimal-sum float
    convention, so the final rank is deterministic.

    The global ranking is orderBy+limit (Spark's distributed
    TakeOrdered: per-partition top-k, then a k-sized merge on the
    driver) — NOT a single-reducer global window; row_number runs only
    over the 100 surviving rows, the same scale shape as
    textops.corpus_ngram_stats' top_k path.

    - ``hybrid`` (r3): hybrid text+vector retrieval — the BM25 top-20
      fused with the cosine top-20 (each document's embedding scored
      against the vec_id-0 query vector, 6dp convention; doc_id ↔
      vec_id is the corpus correspondence) via reciprocal-rank fusion
      (ranking.rrf_fuse, k=60, integer-quantized contributions).
      Fused top-10 with ``rrf`` score and rank — ``rk`` restarts per
      scope."""
    from lsdm_motogp_data_integration_spark.operators.ann import (
        cosine_topk,
    )
    from lsdm_motogp_data_integration_spark.operators.ranking import (
        bm25_scores,
        rrf_fuse,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = bm25_scores(
        d, ["spark", "shuffle", "window"], persist_tokens=True
    ).select("doc_id", F.col("score").alias("bm25"), "n_terms_hit")
    top = scored.orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    ).limit(100)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    # 100 rows, consumed by BOTH the bm25 branch and the hybrid
    # fusion — checkpoint eagerly or the whole BM25 pipeline
    # (tokenize/tf/df/scalars) evaluates twice in one suite action
    bm25_rows = top.withColumn(
        "rk", F.row_number().over(w).cast("bigint")
    ).localCheckpoint(eager=True)

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("bigint").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # the shared exact-ANN path (6dp cosine, id tie-break) — one
    # implementation of the query-vector ranking, not a local rebuild
    vec_ranked = cosine_topk(
        emb, qdf, "embedding", "vec_id", "query_id", "query_vec",
        k=20, exclude_self=False,
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank"))
    text_ranked = bm25_rows.filter(F.col("rk") <= 20).select(
        "doc_id", F.col("rk").alias("rank")
    )
    fused = rrf_fuse([text_ranked, vec_ranked], "doc_id", k=60)
    wf = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    hybrid_rows = (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
        .withColumn("rk", F.row_number().over(wf).cast("bigint"))
    )
    return _suite_union(
        [
            ("doc_id", "bigint"),
            ("bm25", "double"),
            ("n_terms_hit", "bigint"),
            ("rk", "bigint"),
            ("rrf", "double"),
        ],
        ("bm25", bm25_rows),
        ("hybrid", hybrid_rows),
    )


@query(
    oracle=f"""
            WITH {_logit_train_ctes(5, 256, 1.0)},
            fixed_z AS (
                -- weights added in sorted-feature-name order, exactly
                -- like the engine builds the expression
                SELECT doc_id,
                       -1.0
                       + 2.0 * f0
                       + -3.0 * f1
                       + -0.1 * f2
                       + -2.0 * f3
                       + 0.5 * f4
                       + 1.5 * f5 AS z
                FROM lfeats
            ),
            trained_p AS (
                SELECT f.doc_id,
                       ROUND(1.0 / (1.0 + exp(-(
                           w.b + w.w0*f.f0 + w.w1*f.f1 + w.w2*f.f2
                           + w.w3*f.f3 + w.w4*f.f4 + w.w5*f.f5
                       ))), 6) AS quality_prob
                FROM lfeats f CROSS JOIN lw5 w
            )
            SELECT 'fixed' AS scope, doc_id,
                   ROUND(1.0 / (1.0 + exp(-z)), 6) AS quality_prob,
                   ROUND(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep,
                   NULL::VARCHAR AS feature, NULL::DOUBLE AS weight
            FROM fixed_z
            UNION ALL
            SELECT 'trained', doc_id, quality_prob,
                   quality_prob >= 0.5, NULL::VARCHAR, NULL::DOUBLE
            FROM trained_p
            UNION ALL
            SELECT 'weights', NULL::BIGINT, NULL::DOUBLE, NULL::BOOLEAN,
                   f.name, f.val
            FROM lw5 w, LATERAL (
                SELECT unnest(['__bias', 'alpha_ratio', 'digit_ratio',
                               'mean_word_len', 'punct_ratio',
                               'space_ratio', 'stopword_ratio']) AS name,
                       unnest([w.b, w.w0, w.w1, w.w2, w.w3, w.w4, w.w5])
                           AS val
            ) f
        """,
    tag="scope",
    scopes=("fixed", "trained", "weights"),
)
def q65_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier suite, tagged by ``scope``:

    - ``fixed``: sigmoid(w·x + b) inference over quality_features with
      literal (offline) weights — the fastText/logistic screen of
      public curation pipelines (CCNet, FineWeb) without a Python
      model server in the scan path; whole-stage codegen end to end.
    - ``trained`` / ``weights`` (r3): IN-ENGINE training
      (scoring.train_quality_classifier): batch-GD logistic regression
      on a deterministic md5-top-256 sample (binding at the sf0.01
      gate), labels self-distilled from the quality_score heuristic
      (y = score ≥ 0.5 — deterministic in both engines), 5 iterations
      with decimal-quantized gradients and round-6 weight updates.
      ``weights`` rows carry the learned (feature, weight) table +
      bias; ``trained`` rows apply those weights to the FULL corpus.
      The oracle unrolls all 5 gradient iterations in SQL and must
      land on the same weights, probabilities, and keep verdicts."""
    from lsdm_motogp_data_integration_spark.operators.scoring import (
        classify_quality,
        train_quality_classifier,
    )
    from lsdm_motogp_data_integration_spark.operators.textops import (
        quality_score,
    )

    d = read_table(spark, sf_dir, "documents")
    fixed = classify_quality(d)
    labeled = d.withColumn(
        "__label", (quality_score("text") >= F.lit(0.5)).cast("int")
    )
    w, b = train_quality_classifier(
        labeled, "__label", n_iters=5, lr=1.0, train_sample=256
    )
    trained = classify_quality(labeled, weights=w, bias=b)
    weight_rows = spark.createDataFrame(
        [(n, float(w[n])) for n in sorted(w)] + [("__bias", float(b))],
        "feature string, weight double",
    )
    return _suite_union(
        [
            ("doc_id", "bigint"),
            ("quality_prob", "double"),
            ("keep", "boolean"),
            ("feature", "string"),
            ("weight", "double"),
        ],
        ("fixed", fixed),
        ("trained", trained),
        ("weights", weight_rows),
    )


@query(
    oracle="""
            WITH counts AS (
                SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
            ), rates AS (
                SELECT lang,
                       least(1.0,
                             (CASE lang WHEN 'en' THEN 0.5
                                        WHEN 'zh' THEN 0.2
                                        WHEN 'es' THEN 0.1
                                        WHEN 'de' THEN 0.1
                                        WHEN 'fr' THEN 0.1
                                        ELSE 0.0 END)
                             * 200.0 / CAST(n AS DOUBLE)) AS rate
                FROM counts
            ), mixture AS (
                SELECT d.doc_id, d.lang, d.source
                FROM documents d JOIN rates r USING (lang)
                WHERE CAST(('0x' || substr(md5(
                          d.lang || '|' || CAST(d.doc_id AS VARCHAR)
                      ), 1, 8)) AS BIGINT) / 4294967296.0 < r.rate
            ),
            -- DSIR replay: md5-60 hashed unigram+bigram buckets (mod
            -- 4096), add-one-smoothed target/raw log ratio, decimal-
            -- quantized per-doc sum, deterministic top-100
            ws AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                       ) AS w
                FROM documents
            ), feats AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
                           % 4096 AS bucket
                FROM (
                    SELECT doc_id, unnest(w) AS g FROM ws
                    UNION ALL
                    SELECT doc_id, w[i] || ' ' || w[i+1] AS g
                    FROM ws, LATERAL (
                        SELECT unnest(generate_series(1, len(w) - 1)) AS i
                    ) t
                    WHERE len(w) >= 2
                ) WHERE g != ''
            ), per_doc AS (
                SELECT doc_id, bucket, COUNT(*) AS c
                FROM feats GROUP BY 1, 2
            ), raw_dist AS (
                SELECT bucket, SUM(c) AS rc FROM per_doc GROUP BY 1
            ), tgt_dist AS (
                SELECT f.bucket, COUNT(*) AS tc
                FROM feats f JOIN documents d USING (doc_id)
                WHERE d.lang = 'en'
                GROUP BY 1
            ), tots AS (
                SELECT (SELECT SUM(rc) FROM raw_dist) AS rtot,
                       (SELECT SUM(tc) FROM tgt_dist) AS ttot
            ), scored AS (
                SELECT p.doc_id,
                       CAST(SUM(CAST(p.c * (
                           ln((COALESCE(t.tc, 0) + 1.0)
                              / (CAST(tots.ttot AS DOUBLE) + 4096.0))
                         - ln((r.rc + 1.0)
                              / (CAST(tots.rtot AS DOUBLE) + 4096.0))
                       ) AS DECIMAL(18,6))) AS DOUBLE) AS lw
                FROM per_doc p
                JOIN raw_dist r USING (bucket)
                LEFT JOIN tgt_dist t USING (bucket)
                CROSS JOIN tots
                GROUP BY p.doc_id
            ), ranked AS (
                SELECT doc_id, ROUND(lw, 6) AS log_weight,
                       ROW_NUMBER() OVER (
                           ORDER BY ROUND(lw, 6) DESC, doc_id ASC
                       ) AS rn
                FROM scored
            )
            SELECT 'mixture' AS scope, doc_id, lang, source,
                   CAST(NULL AS DOUBLE) AS log_weight,
                   CAST(NULL AS BIGINT) AS n_tokens,
                   CAST(NULL AS BIGINT) AS cum_tokens
            FROM mixture
            UNION ALL
            SELECT 'dsir' AS scope, d.doc_id, d.lang, d.source,
                   r.log_weight,
                   CAST(NULL AS BIGINT) AS n_tokens,
                   CAST(NULL AS BIGINT) AS cum_tokens
            FROM ranked r JOIN documents d USING (doc_id)
            WHERE r.rn <= 100
            UNION ALL
            -- temperature_mixture_sample replay: p_g ∝ n_g^0.5 with
            -- the n^alpha weights quantized to BIGINT (exact sum),
            -- rate = min(1, (qa/qtot)·budget/n), md5-threshold keep
            SELECT 'temperature' AS scope, t.doc_id, t.lang, t.source,
                   CAST(NULL AS DOUBLE) AS log_weight,
                   CAST(NULL AS BIGINT) AS n_tokens,
                   CAST(NULL AS BIGINT) AS cum_tokens
            FROM (
                WITH tcnt AS (
                    SELECT lang, COUNT(*) AS n,
                           CAST(floor(pow(CAST(COUNT(*) AS DOUBLE), 0.5)
                                      * 1000000.0) AS BIGINT) AS qa
                    FROM documents GROUP BY lang
                ), ttot AS (
                    SELECT CAST(SUM(qa) AS BIGINT) AS qtot FROM tcnt
                ), trate AS (
                    SELECT lang,
                           least(1.0,
                                 (CAST(qa AS DOUBLE) / CAST(qtot AS DOUBLE))
                                 * 150.0 / CAST(n AS DOUBLE)) AS rate
                    FROM tcnt CROSS JOIN ttot
                )
                SELECT d.doc_id, d.lang, d.source
                FROM documents d JOIN trate r USING (lang)
                WHERE CAST(('0x' || substr(md5(
                          d.lang || '|' || CAST(d.doc_id AS VARCHAR)
                      ), 1, 8)) AS BIGINT) / 4294967296.0 < r.rate
            ) t
            UNION ALL
            -- token_budget_sample replay: md5-order greedy prefix per
            -- lang until the token budget is crossed (crossing doc
            -- kept); unlisted langs dropped
            SELECT 'token_budget' AS scope, doc_id, lang, source,
                   CAST(NULL AS DOUBLE) AS log_weight,
                   n_tokens, cum_tokens
            FROM (
                WITH tb AS (
                    SELECT doc_id, lang, source,
                           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(regexp_split_to_array(
                                    trim(text), '\\s+'))
                           END AS BIGINT) AS n_tokens,
                           md5(COALESCE(lang, '__null__') || '|'
                               || CAST(doc_id AS VARCHAR)) AS h
                    FROM documents
                ), tcum AS (
                    SELECT doc_id, lang, source, n_tokens,
                           CAST(SUM(n_tokens) OVER (
                               PARTITION BY lang ORDER BY h, doc_id
                               ROWS UNBOUNDED PRECEDING
                           ) AS BIGINT) AS cum_tokens
                    FROM tb
                )
                SELECT doc_id, lang, source, n_tokens, cum_tokens
                FROM tcum
                WHERE (lang = 'en' AND cum_tokens - n_tokens < 4000)
                   OR (lang = 'zh' AND cum_tokens - n_tokens < 1500)
            )
        """,
    tag="scope",
    scopes=("dsir", "mixture", "temperature", "token_budget"),
)
def q66_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection suite — the selection policies share one driver
    row, tagged by ``scope`` (mixture / dsir / temperature /
    token_budget — the last (r3) samples by TOKEN budget, the unit
    real data recipes are written in):

    - ``mixture`` (operators/textops.mixture_sample): draw ~200
      documents whose language composition targets 50% en / 20% zh /
      10% each es·de·fr. Per-group rates are data-dependent
      (min(1, budget·p/n) from one count agg, broadcast back); the
      keep decision is the engine's deterministic md5-threshold — no
      RNG, so DuckDB replays the exact sample.
    - ``dsir`` (operators/scoring.dsir_select): DSIR importance
      resampling (Xie et al. 2023) — each document scored by the
      smoothed log-likelihood ratio of its hashed unigram+bigram bag
      under the TARGET distribution (here: the English slice) vs the
      raw corpus, top-100 kept deterministically (rounded weight desc,
      doc_id tie-break — no Gumbel noise). Run with the portable
      md5-60 feature hash so the oracle replays buckets → counts →
      add-one-smoothed log ratio → decimal-quantized per-doc sum
      bit-for-bit.
    - ``temperature`` (operators/textops.temperature_mixture_sample):
      alpha-sampling (XLM-R / mT5 multilingual rebalancing) — target
      proportions DERIVED from the data as n_g^0.5, upweighting small
      languages; n^alpha is quantized to the 1e-6 integer grid before
      the normalizing sum so the rates (and therefore the exact
      sample) replay bit-identically in SQL."""
    from lsdm_motogp_data_integration_spark.operators.scoring import (
        dsir_select,
    )
    from lsdm_motogp_data_integration_spark.operators.textops import (
        mixture_sample,
        temperature_mixture_sample,
    )

    d = read_table(spark, sf_dir, "documents")
    mixture = mixture_sample(
        d,
        "lang",
        {"en": 0.5, "zh": 0.2, "es": 0.1, "de": 0.1, "fr": 0.1},
        budget=200,
        id_col="doc_id",
    ).select("doc_id", "lang", "source")
    dsir = dsir_select(
        d.select("doc_id", "text", "lang", "source"),
        d.filter(F.col("lang") == "en"),
        budget=100,
        n_buckets=4096,
        portable=True,
    ).select("doc_id", "lang", "source", "log_weight")
    temp = temperature_mixture_sample(
        d, "lang", budget=150, id_col="doc_id", alpha=0.5
    ).select("doc_id", "lang", "source")
    # token_budget (r3): mixing specified in TOKENS, the unit real
    # data recipes use (textops.token_budget_sample — md5-order greedy
    # prefix per group, crossing doc kept so budgets are met)
    from lsdm_motogp_data_integration_spark.operators.textops import (
        token_budget_sample,
    )

    tokb = token_budget_sample(
        d.select("doc_id", "text", "lang", "source"),
        "lang",
        {"en": 4000, "zh": 1500},
        "doc_id",
    ).select(
        "doc_id", "lang", "source",
        "n_tokens",
        "cum_tokens",
    )
    return _suite_union(
        [
            ("doc_id", "bigint"),
            ("lang", "string"),
            ("source", "string"),
            ("log_weight", "double"),
            ("n_tokens", "bigint"),
            ("cum_tokens", "bigint"),
        ],
        ("mixture", mixture),
        ("dsir", dsir),
        ("temperature", temp),
        ("token_budget", tokb),
    )
