from __future__ import annotations

from pyspark.sql import Row

from lsdm_motogp_data_integration_spark.operators.scoring import (
    classify_quality,
)
from lsdm_motogp_data_integration_spark.operators.textops import (
    mixture_sample,
)


def test_quality_classifier_orders_clean_above_noise(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over a lazy dog"),
            Row(doc_id=2, text="8409 22#$ 111 !!%% 0x9f 77&& 3.14 ??"),
        ]
    )
    out = {r["doc_id"]: r for r in classify_quality(df).collect()}
    assert out[1]["quality_prob"] > out[2]["quality_prob"]
    assert 0.0 <= out[2]["quality_prob"] <= 1.0
    # keep agrees with the threshold on the returned probability
    for r in out.values():
        assert r["keep"] == (r["quality_prob"] >= 0.5)


def test_quality_classifier_custom_weights_and_unknown_key(spark):
    import pytest

    df = spark.createDataFrame([Row(doc_id=1, text="hello world")])
    # all-zero weights -> sigmoid(bias) exactly
    row = classify_quality(
        df, weights={"alpha_ratio": 0.0}, bias=0.0
    ).collect()[0]
    assert abs(row["quality_prob"] - 0.5) < 1e-9
    with pytest.raises(ValueError):
        classify_quality(df, weights={"not_a_feature": 1.0}).collect()


def _mix_corpus(spark):
    rows = []
    for i in range(300):
        rows.append(Row(doc_id=i, grp="a" if i % 3 else "b"))
    return spark.createDataFrame(rows)


def test_mixture_sample_targets_composition(spark):
    df = _mix_corpus(spark)  # 200 'a', 100 'b'
    out = mixture_sample(
        df, "grp", {"a": 0.5, "b": 0.5}, budget=100, id_col="doc_id"
    ).collect()
    got_a = sum(1 for r in out if r["grp"] == "a")
    got_b = sum(1 for r in out if r["grp"] == "b")
    # expected ~50/50; md5 thresholding is binomial-ish, allow slack
    assert 30 <= got_a <= 70
    assert 30 <= got_b <= 70


def test_mixture_sample_caps_at_group_size_and_is_deterministic(spark):
    df = _mix_corpus(spark)
    # 'b' has 100 rows but its target share wants 0.9*500=450 -> rate
    # capped at 1.0: every 'b' row survives
    out1 = mixture_sample(
        df, "grp", {"a": 0.1, "b": 0.9}, budget=500, id_col="doc_id"
    ).collect()
    assert sum(1 for r in out1 if r["grp"] == "b") == 100
    out2 = mixture_sample(
        df.repartition(7),
        "grp",
        {"a": 0.1, "b": 0.9},
        budget=500,
        id_col="doc_id",
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))


def test_mixture_sample_default_prop_drops_unlisted_groups(spark):
    df = _mix_corpus(spark)
    out = mixture_sample(
        df, "grp", {"a": 1.0}, budget=50, id_col="doc_id"
    ).collect()
    assert all(r["grp"] == "a" for r in out)


def test_unigram_nll_hand_computed(spark):
    import math

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        unigram_nll,
    )

    # corpus counts: a=2 b=2 c=1, total=5
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in unigram_nll(df).collect()}
    # d1: 3 tokens all with p=2/5 -> nll = -ln(0.4), ppl = 2.5
    assert out[1]["n_tokens"] == 3
    assert abs(out[1]["nll"] - (-math.log(0.4))) < 1e-4
    assert abs(out[1]["ppl"] - 2.5) < 1e-4
    # d2: -[ln(2/5) + ln(1/5)] / 2, ppl = sqrt(12.5)
    assert out[2]["n_tokens"] == 2
    expected = -(math.log(0.4) + math.log(0.2)) / 2
    assert abs(out[2]["nll"] - expected) < 1e-4
    assert abs(out[2]["ppl"] - math.sqrt(12.5)) < 1e-4


# ---------------------------------------------------------------------------
# DSIR importance weighting (scoring.dsir_log_weights / dsir_select)
# ---------------------------------------------------------------------------


def _dsir_corpus(spark):
    # two separable "domains": letter soup vs digit soup
    rows = [(i, "alpha beta gamma delta " * 5) for i in range(10)]
    rows += [(i + 100, "one two three four five " * 5) for i in range(10)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dsir_prefers_target_domain(spark):
    from pyspark.sql import functions as F

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        dsir_log_weights,
    )

    raw = _dsir_corpus(spark)
    target = raw.filter(F.col("doc_id") < 100)  # letter domain
    w = {r["doc_id"]: r["log_weight"] for r in dsir_log_weights(raw, target).collect()}
    letter = [w[i] for i in range(10)]
    digit = [w[i + 100] for i in range(10)]
    assert min(letter) > max(digit)


def test_dsir_select_budget_and_determinism(spark):
    from pyspark.sql import functions as F

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        dsir_select,
    )

    raw = _dsir_corpus(spark)
    target = raw.filter(F.col("doc_id") < 100)
    a = dsir_select(raw, target, budget=10).select("doc_id").collect()
    b = dsir_select(
        raw.repartition(7), target, budget=10
    ).select("doc_id").collect()
    ids_a = sorted(r["doc_id"] for r in a)
    ids_b = sorted(r["doc_id"] for r in b)
    assert ids_a == ids_b == list(range(10))  # exactly the target-domain docs


def test_dsir_portable_hash_matches_duckdb(spark):
    """portable=True must produce weights DuckDB replays bit-for-bit
    (the q66 oracle contract) — checked here on a tiny corpus."""
    import duckdb
    from pyspark.sql import functions as F

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        dsir_log_weights,
    )

    rows = [
        (1, "spark shuffle window join"),
        (2, "spark window"),
        (3, "pandas numpy arrow batch"),
        (4, "arrow batch numpy"),
        (5, "x"),
    ]
    raw = spark.createDataFrame(rows, ["doc_id", "text"])
    target = raw.filter(F.col("doc_id") <= 2)
    got = sorted(
        map(tuple, dsir_log_weights(raw, target, n_buckets=64, portable=True).collect())
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = con.execute("""
        WITH ws AS (
            SELECT doc_id, regexp_split_to_array(
                trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
            FROM docs
        ), feats AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) % 64 AS bucket
            FROM (
                SELECT doc_id, unnest(w) AS g FROM ws
                UNION ALL
                SELECT doc_id, w[i] || ' ' || w[i+1] AS g
                FROM ws, LATERAL (
                    SELECT unnest(generate_series(1, len(w)-1)) AS i) t
                WHERE len(w) >= 2
            ) WHERE g != ''
        ), per_doc AS (
            SELECT doc_id, bucket, COUNT(*) AS c FROM feats GROUP BY 1,2
        ), raw_dist AS (
            SELECT bucket, SUM(c) AS rc FROM per_doc GROUP BY 1
        ), tgt AS (
            SELECT f.bucket, COUNT(*) AS tc
            FROM feats f WHERE f.doc_id <= 2 GROUP BY 1
        ), tots AS (
            SELECT (SELECT SUM(rc) FROM raw_dist) AS rtot,
                   (SELECT SUM(tc) FROM tgt) AS ttot
        )
        SELECT p.doc_id, CAST(SUM(p.c) AS BIGINT) AS n_feats,
               ROUND(CAST(SUM(CAST(p.c * (
                   ln((COALESCE(t.tc,0) + 1.0) / (CAST(tots.ttot AS DOUBLE) + 64.0))
                 - ln((r.rc + 1.0) / (CAST(tots.rtot AS DOUBLE) + 64.0))
               ) AS DECIMAL(18,6))) AS DOUBLE), 6) AS log_weight
        FROM per_doc p
        JOIN raw_dist r USING (bucket)
        LEFT JOIN tgt t USING (bucket)
        CROSS JOIN tots
        GROUP BY p.doc_id ORDER BY p.doc_id
    """).fetchall()
    assert got == sorted(map(tuple, want))


def test_dsir_short_and_empty_docs(spark):
    """1-word docs contribute no bigrams (sequence(1,0) would DESCEND —
    regression for the gated branch); empty docs are absent."""
    from pyspark.sql import functions as F

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        dsir_log_weights,
    )

    raw = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, "hello world")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in dsir_log_weights(raw, raw).collect()}
    assert set(out) == {1, 3}
    assert out[1]["n_feats"] == 1          # unigram only
    assert out[3]["n_feats"] == 3          # 2 unigrams + 1 bigram


def test_mixture_sample_null_group_uses_default(spark):
    """NULL group keys must route through default_prop like any group —
    a plain equi-join silently dropped them."""
    from pyspark.sql import types as T

    from lsdm_motogp_data_integration_spark.operators.textops import (
        mixture_sample,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("grp", T.StringType()),
        ]
    )
    rows = [(i, "a") for i in range(100)]
    rows += [(i + 1000, None) for i in range(100)]
    df = spark.createDataFrame(rows, schema)
    out = mixture_sample(
        df, "grp", {"a": 0.5}, budget=100, id_col="doc_id",
        default_prop=0.5,
    ).collect()
    null_taken = sum(1 for r in out if r["grp"] is None)
    assert null_taken > 0  # default_prop applies, rows are not dropped


def test_train_quality_classifier_learns_and_is_deterministic(spark, sf_dir):
    """Batch-GD logistic training: deterministic across calls, bounded
    to the md5-top-N sample (full-corpus training on exactly that
    subset must give identical weights), and the learned model must
    beat chance on its own self-distilled labels."""
    import hashlib

    from pyspark.sql import functions as F

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        classify_quality,
        train_quality_classifier,
    )
    from lsdm_motogp_data_integration_spark.operators.textops import (
        quality_score,
    )
    from lsdm_motogp_data_integration_spark.sources import read_table

    d = read_table(spark, sf_dir, "documents")
    labeled = d.withColumn(
        "__label", (quality_score("text") >= F.lit(0.5)).cast("int")
    )
    w1, b1 = train_quality_classifier(
        labeled, "__label", n_iters=4, train_sample=128
    )
    w2, b2 = train_quality_classifier(
        labeled, "__label", n_iters=4, train_sample=128
    )
    assert (w1, b1) == (w2, b2)
    assert any(v != 0.0 for v in w1.values())

    # sample-bound: training on exactly the md5-top-128 subset with
    # the bound off must give the same weights
    ids = [r["doc_id"] for r in d.select("doc_id").collect()]
    top = sorted(
        ids, key=lambda i: (hashlib.md5(f"lrq|{i}".encode()).hexdigest(), i)
    )[:128]
    sub = labeled.filter(F.col("doc_id").isin(top))
    w3, b3 = train_quality_classifier(
        sub, "__label", n_iters=4, train_sample=0
    )
    assert (w3, b3) == (w1, b1)

    # better than chance on the self-distilled labels
    preds = classify_quality(labeled, weights=w1, bias=b1).join(
        labeled.select("doc_id", "__label"), "doc_id"
    )
    agree = preds.filter(
        F.col("keep").cast("int") == F.col("__label")
    ).count()
    total = preds.count()
    assert agree / total > 0.6, (agree, total)


def test_ccnet_buckets_tiers_and_determinism(spark, sf_dir):
    """CCNet partition: ranks are a dense 1..N permutation ordered by
    (nll, doc_id), tier sizes differ by at most one, the head tier
    holds the lowest-nll docs, and token-less docs are absent."""
    import pytest

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        ccnet_buckets,
    )
    from lsdm_motogp_data_integration_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").limit(90)
    out = ccnet_buckets(docs).collect()
    n = len(out)
    assert n > 0
    ranks = sorted(r["ppl_rank"] for r in out)
    assert ranks == list(range(1, n + 1))
    by_rank = sorted(out, key=lambda r: r["ppl_rank"])
    keys = [(r["nll"], r["doc_id"]) for r in by_rank]
    assert keys == sorted(keys)
    sizes = {}
    for r in out:
        sizes[r["ppl_bucket"]] = sizes.get(r["ppl_bucket"], 0) + 1
    assert set(sizes) <= {"head", "middle", "tail"}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # the head tier is exactly the lowest-rank prefix
    head_ranks = [r["ppl_rank"] for r in out if r["ppl_bucket"] == "head"]
    assert sorted(head_ranks) == list(range(1, len(head_ranks) + 1))

    with pytest.raises(ValueError, match="labels"):
        ccnet_buckets(docs, n_buckets=2)


def test_temperature_mixture_upweights_small_groups(spark):
    """alpha=0.5 samples the small group ABOVE its natural share
    (sqrt rebalancing), alpha=1 reproduces roughly the natural share,
    and the draw is deterministic across partition layouts."""
    from lsdm_motogp_data_integration_spark.operators.textops import (
        temperature_mixture_sample,
    )

    df = _mix_corpus(spark)  # 200 'a', 100 'b' -> natural share 1/3 b
    out_half = temperature_mixture_sample(
        df, "grp", budget=90, id_col="doc_id", alpha=0.5
    ).collect()
    share_b_half = sum(1 for r in out_half if r["grp"] == "b") / len(
        out_half
    )
    # p_b = sqrt(100)/(sqrt(200)+sqrt(100)) = 0.414 > 1/3
    assert share_b_half > 0.34

    out_nat = temperature_mixture_sample(
        df, "grp", budget=90, id_col="doc_id", alpha=1.0
    ).collect()
    share_b_nat = sum(1 for r in out_nat if r["grp"] == "b") / len(out_nat)
    assert share_b_half > share_b_nat

    again = temperature_mixture_sample(
        df.repartition(7), "grp", budget=90, id_col="doc_id", alpha=0.5
    ).collect()
    assert sorted(map(tuple, out_half)) == sorted(map(tuple, again))


def test_bigram_nll_hand_computed(spark):
    import math

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        bigram_nll,
    )

    # unigram counts over the WHOLE corpus (incl. the 1-token doc):
    # a=3 b=2 x=1, N=6; bigrams (a,b):1 (b,a):2; left a:1 b:2
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b a"), (3, "x")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in bigram_nll(df, lam=0.7).collect()}
    p_ab = 0.7 * (1 / 1) + (1.0 - 0.7) * (2 / 6)  # 0.8
    p_ba = 0.7 * (2 / 2) + (1.0 - 0.7) * (3 / 6)  # 0.85
    assert out[1]["n_bigrams"] == 2
    want1 = -(math.log(p_ab) + math.log(p_ba)) / 2
    assert abs(out[1]["nll2"] - want1) < 1e-4
    assert abs(out[1]["ppl2"] - math.exp(want1)) < 1e-4
    assert out[2]["n_bigrams"] == 1
    assert abs(out[2]["nll2"] - (-math.log(p_ba))) < 1e-4
    # 1-token doc: no transitions, absent
    assert 3 not in out


def test_lang_nb_learns_splits_fixed_tables_cannot(spark):
    """Trained NB language classifier (r5): multinomial NB over hashed
    char 3-grams learns pt-vs-es and generalizes to a held-out
    document. Closed-form training: one count aggregation, no GD loop.

    r5 pinned the pt held-out verdict as 'a split the fixed tables
    cannot make'; r6 moved that goalpost deliberately (pt joined
    LANG_MARKERS — VERDICT r5 #5), so the tables-can't-do-this claim
    now uses CATALAN, which is in no fixed table: NB trained on ca/es
    labels names it, lang_id2 structurally cannot."""
    from lsdm_motogp_data_integration_spark.operators.scoring import (
        classify_lang_nb,
        train_lang_nb,
    )
    from lsdm_motogp_data_integration_spark.operators.textops import (
        lang_id2,
    )

    rows = [
        (1, "the cat sat on the mat and the dog ran through the field", "en"),
        (2, "a informação chegou à estação e a decisão não foi fácil", "pt"),
        (3, "la información llegó a la estación y la decisión fue clara", "es"),
        (4, "the weather station reported information about the decision", "en"),
        (5, "as ações da nação são uma questão de atenção e conexão", "pt"),
        (6, "las naciones toman acciones con atención y mucha conexión", "es"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    kw = dict(n_buckets=64, char_n=3, portable=True)
    model = train_lang_nb(df, "lang", "text", **kw)
    # model: labels x (buckets + prior row), every pair present
    assert model.count() == 3 * 65

    got = {
        r["doc_id"]: r["lang_nb"]
        for r in classify_lang_nb(df, model, **kw).collect()
    }
    assert got == {1: "en", 2: "pt", 3: "es", 4: "en", 5: "pt", 6: "es"}

    held_out = spark.createDataFrame(
        [(10, "a nação tem uma missão e uma visão e uma informação")],
        "doc_id bigint, text string",
    )
    nb = classify_lang_nb(held_out, model, **kw).collect()[0]
    assert nb["lang_nb"] == "pt"
    # r6: pt is now IN the fixed tables ('uma' is a pt marker), so the
    # tables-can't-make-this-split demonstration uses Catalan — absent
    # from every fixed table, so lang_id2 can never output 'ca', while
    # NB trained on ca/es labels names a held-out Catalan doc
    ca_rows = [
        (21, "aquesta és una qüestió important i això cal fer-ho bé", "ca"),
        (22, "el govern ha dit que això també és una decisió difícil", "ca"),
        (23, "la información llegó a la estación y la decisión fue clara", "es"),
        (24, "las naciones toman acciones con atención y mucha conexión", "es"),
    ]
    ca_df = spark.createDataFrame(
        ca_rows, "doc_id bigint, text string, lang string"
    )
    ca_model = train_lang_nb(ca_df, "lang", "text", **kw)
    ca_held = spark.createDataFrame(
        [(30, "aquesta decisió també és una qüestió de confiança")],
        "doc_id bigint, text string",
    )
    assert (
        classify_lang_nb(ca_held, ca_model, **kw).collect()[0]["lang_nb"]
        == "ca"
    )
    fixed = ca_held.select(lang_id2("text").alias("lg")).collect()[0]["lg"]
    assert fixed != "ca"


def test_lang_nb_priors_fallback_and_layout_determinism(spark):
    """Docs shorter than char_n carry no grams: the verdict falls back
    to the class-prior argmax (deterministic, never NULL); and the
    whole classifier is layout-independent (decimal-quantized sums)."""
    from lsdm_motogp_data_integration_spark.operators.scoring import (
        classify_lang_nb,
        train_lang_nb,
    )

    rows = [
        (i, t, lg)
        for i, (t, lg) in enumerate(
            [("the cat and the dog sat on the mat", "en")] * 3
            + [("la casa de la gata es una mesa", "es")] * 1
        )
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    kw = dict(n_buckets=32, char_n=3, portable=True)
    model = train_lang_nb(df, "lang", "text", **kw)

    tiny = spark.createDataFrame(
        [(100, "ab")], "doc_id bigint, text string"
    )
    r = classify_lang_nb(tiny, model, **kw).collect()[0]
    assert r["lang_nb"] == "en"  # majority-class prior wins
    assert r["nb_score"] is not None

    # layout independence: same verdicts and scores from any partitioning
    a = sorted(map(tuple, classify_lang_nb(df, model, **kw).collect()))
    b = sorted(map(tuple, classify_lang_nb(
        df.repartition(7), model, **kw
    ).collect()))
    assert a == b


def test_lang_nb_cjk_family(spark):
    """NB also covers the CJK family from data alone (no orthography
    table): ja/zh/ko training docs classify correctly, incl. a
    held-out kanji-heavy ja document."""
    from lsdm_motogp_data_integration_spark.operators.scoring import (
        classify_lang_nb,
        train_lang_nb,
    )

    rows = [
        (1, "これはひらがなとカタカナのテストです", "ja"),
        (2, "日本語のデータはかなと漢字のまざりです", "ja"),
        (3, "这是一个中文测试文档内容全部是汉字", "zh"),
        (4, "数据清洗和去重是数据管线中最重要的步骤", "zh"),
        (5, "안녕하세요 세계 이것은 한국어 테스트입니다", "ko"),
        (6, "데이터 정제와 중복 제거는 중요한 단계입니다", "ko"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    kw = dict(n_buckets=64, char_n=2, portable=True)
    model = train_lang_nb(df, "lang", "text", **kw)
    got = {
        r["doc_id"]: r["lang_nb"]
        for r in classify_lang_nb(df, model, **kw).collect()
    }
    assert got == {1: "ja", 2: "ja", 3: "zh", 4: "zh", 5: "ko", 6: "ko"}

    held_out = spark.createDataFrame(
        [(10, "機械学習の訓練データの品質です")], "doc_id bigint, text string"
    )
    assert classify_lang_nb(held_out, model, **kw).collect()[0]["lang_nb"] == "ja"


def test_lang_nb_verdict_column_matches_classifier(spark, sf_dir):
    """lang_nb_verdict (r5): the model-as-plan-literal pure-Column
    form must reach the same VERDICTS as the join/groupBy classifier
    (scores may differ in low-order float bits — summation order —
    but argmax parity holds away from sub-1e-6 ties), on both a
    synthetic corpus and real testdata documents; and it must reject
    a model trained under different n_buckets."""
    import pytest

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        classify_lang_nb,
        lang_nb_verdict,
        train_lang_nb,
    )
    from lsdm_motogp_data_integration_spark.sources import read_table

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    kw = dict(n_buckets=64, char_n=3, portable=True)
    model = train_lang_nb(d, "lang", "text", **kw)

    joined = {
        r["doc_id"]: r["lang_nb"]
        for r in classify_lang_nb(d, model, **kw).collect()
    }
    column = {
        r["doc_id"]: r["v"]
        for r in d.select(
            "doc_id", lang_nb_verdict("text", model, **kw).alias("v")
        ).collect()
    }
    assert column == joined
    # NB the testdata's lang labels are synthetic metadata uncorrelated
    # with the (uniformly English-ish) generated text, so there is no
    # accuracy floor to assert here — real-language discrimination is
    # pinned by test_lang_nb_learns_splits_fixed_tables_cannot and
    # test_lang_nb_cjk_family; THIS test pins the two inference forms
    # agreeing on 500 real documents

    with pytest.raises(ValueError, match="grid incomplete"):
        lang_nb_verdict("text", model, n_buckets=128, char_n=3, portable=True)
    with pytest.raises(ValueError, match="grid incomplete"):
        classify_lang_nb(d, model, n_buckets=128, char_n=3, portable=True)


def test_lang_nb_null_text_and_null_labels(spark):
    """NULL handling (r5 self-review): a NULL-text document gets the
    prior-argmax verdict from BOTH scorer forms (the pure-Column form
    once returned NULL while the join form fell back to priors — a
    silent parity divergence); NULL-labeled training rows are absent
    supervision and are dropped, never a None class."""
    from lsdm_motogp_data_integration_spark.operators.scoring import (
        classify_lang_nb,
        lang_nb_verdict,
        train_lang_nb,
    )

    rows = [
        (1, "the cat and the dog sat on the mat today", "en"),
        (2, "the dog ran through the field and the barn", "en"),
        (3, "la casa de la gata es una mesa", "es"),
        (4, "should not train on me", None),  # NULL label: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    kw = dict(n_buckets=32, char_n=3, portable=True)
    model = train_lang_nb(df, "lang", "text", **kw)
    labels = {
        r["label"] for r in model.select("label").distinct().collect()
    }
    assert labels == {"en", "es"}  # no None class

    probe = spark.createDataFrame(
        [(10, None), (11, "")], "doc_id bigint, text string"
    )
    joined = {
        r["doc_id"]: r["lang_nb"]
        for r in classify_lang_nb(probe, model, **kw).collect()
    }
    column = {
        r["doc_id"]: r["v"]
        for r in probe.select(
            "doc_id", lang_nb_verdict("text", model, **kw).alias("v")
        ).collect()
    }
    # prior argmax (en: 2 docs vs es: 1) from BOTH forms, never NULL
    assert joined == column == {10: "en", 11: "en"}


def test_lang_nb_empty_model_raises(spark):
    """An empty model (all-NULL-label corpus) fails loudly in both
    scorer forms instead of yielding NULL verdicts row by row."""
    import pytest

    from lsdm_motogp_data_integration_spark.operators.scoring import (
        classify_lang_nb,
        lang_nb_verdict,
        train_lang_nb,
    )

    df = spark.createDataFrame(
        [(1, "some text", None)], "doc_id bigint, text string, lang string"
    )
    model = train_lang_nb(df, "lang", "text", n_buckets=32)
    with pytest.raises(ValueError, match="empty lang_nb model"):
        lang_nb_verdict("text", model, n_buckets=32)
    with pytest.raises(ValueError, match="empty lang_nb model"):
        classify_lang_nb(df, model, n_buckets=32)
