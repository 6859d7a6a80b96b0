"""Dedup family: exact, MinHash-LSH vs exact Jaccard, SimHash,
embedding cosine."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    word_shingles,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat again and again"),  # near dup
    (4, "completely different text about spark engines and shuffles"),
    (5, "another unrelated document mentioning parquet and arrow"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(docs):
    rows = {r["doc_id"]: r["n_copies"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert rows[1] == 2  # doc 2 collapsed into 1
    assert 2 not in rows
    assert rows[3] == 1 and rows[4] == 1 and rows[5] == 1


def test_minhash_matches_exact_jaccard(docs):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", k=3, threshold=0.5
        ).collect()
    }
    assert exact == lsh
    assert (1, 2) in exact  # identical docs: jaccard 1.0
    assert exact[(1, 2)] == 1.0
    assert (1, 3) in exact  # near dups share most 3-gram shingles


def test_minhash_permutations_are_independent(spark):
    """Regression: a two-param lambda in transform() binds the second
    param to the array index, collapsing all 64 permutations into one
    (identical signature elements) — signatures must vary per perm."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        minhash_signature,
        word_shingle_hashes,
    )

    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog extra words here",)],
        ["text"],
    )
    sig = df.select(
        minhash_signature(word_shingle_hashes("text", 3), 16).alias("sig")
    ).collect()[0]["sig"]
    assert len(sig) == 16
    assert len(set(sig)) > 8, "permutations collapsed to few distinct values"


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([("a b",)], ["t"])
    out = df.select(word_shingles("t", 5).alias("s")).collect()[0]["s"]
    assert out == ["a b"]  # shorter than k -> single clamped shingle


def test_simhash_finds_identical_and_near(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, "text", "doc_id", max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0  # identical text, hamming 0
    assert (1, 3) in pairs  # one-token change stays close
    assert (1, 4) not in pairs  # unrelated text far away


def test_connected_components(spark):
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["id"])
    # chain 1-2-3, pair 5-6, singletons 4 and 7
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (5, 6)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_connected_components_long_chain(spark):
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        connected_components,
    )

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(nodes, chain).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.999, 0.01, 0.0], "a"),  # near dup of 1
        (3, [0.0, 1.0, 0.0], "a"),
        (4, [1.0, 0.0, 0.0], "b"),  # same direction as 1 but other block
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            df, "embedding", "vec_id", block_col="label", threshold=0.99
        ).collect()
    }
    assert got == {(1, 2)}  # blocked: (1,4) never compared; (1,3) orthogonal
    unblocked = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            df, "embedding", "vec_id", threshold=0.99
        ).collect()
    }
    assert (1, 4) in unblocked


def test_minhash_persist_sets_same_pairs(spark, sf_dir):
    """persist_sets=True routes signatures through the persisted
    shingle-set relation (one input evaluation); pairs and jaccard
    values must be identical to the fused default path."""
    from lsdm_motogp_data_integration_spark.sources import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substr(text, 21)").alias("text"),
    )
    corpus = d.unionByName(variants)
    fused = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(corpus, "text", "doc_id").collect()
    }
    from_sets = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            corpus, "text", "doc_id", persist_sets=True
        ).collect()
    }
    assert fused == from_sets


def test_weighted_simhash_separates_filler_dominated_docs(spark):
    """On a corpus where every doc shares the same filler tokens and
    differs only in rare tokens, unweighted SimHash collapses (filler
    dominates the votes) while IDF weighting separates: the weighted
    hamming between unrelated docs must exceed the unweighted one, and
    exact duplicates must still collide at hamming 0."""
    # filler repeated 20x: unweighted votes are ±20 per filler token vs
    # ±1 per rare token, so the shared distribution dominates every bit
    filler = " ".join(
        f"common{i}" for _ in range(20) for i in range(40)
    )
    rows = [(i, f"{filler} rare{i}a rare{i}b rare{i}c") for i in range(8)]
    rows.append((100, rows[0][1]))  # exact duplicate of doc 0
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def hammings(weighting):
        out = simhash_pairs(
            df, "text", "doc_id", max_hamming=3, weighting=weighting
        ).collect()
        return {(r["id_a"], r["id_b"]): r["hamming"] for r in out}

    unweighted = hammings("none")
    weighted = hammings("idf")
    assert weighted[(0, 100)] == 0  # exact dup still collides
    # unweighted: filler dominates the votes, unrelated docs collapse
    # into hamming<=3 false positives; idf: only the true duplicate
    false_w = {p for p in weighted if p != (0, 100)}
    false_u = {p for p in unweighted if p != (0, 100)}
    assert len(false_w) < len(false_u), (false_w, false_u)
    assert not false_w, false_w
    # determinism under different layouts
    again = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            df.repartition(7), "text", "doc_id",
            max_hamming=3, weighting="idf",
        ).collect()
    }
    assert weighted == again


def test_incremental_neardup_against_saved_index(spark, tmp_path_factory):
    """A new batch checked against a parquet-persisted MinHash index:
    near-dups of indexed docs are found via the estimated-Jaccard
    contract, novel docs are not, and the index round-trips through
    parquet with signatures intact (determinism across jobs)."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        build_minhash_index,
        incremental_neardup,
    )

    base_words = [f"w{i}" for i in range(60)]
    ref_text = " ".join(base_words)
    # ~3% token change: high-jaccard near-dup of the reference doc
    near = " ".join(base_words[:-2] + ["xx", "yy"])
    novel = " ".join(f"z{i}" for i in range(60))

    corpus = spark.createDataFrame(
        [(1, ref_text), (2, "completely different words " * 10)],
        ["doc_id", "text"],
    )
    idx_path = str(tmp_path_factory.mktemp("mhidx")) + "/index"
    build_minhash_index(corpus, "text", "doc_id").write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    new_batch = spark.createDataFrame(
        [(100, near), (101, novel)], ["doc_id", "text"]
    )
    hits = incremental_neardup(
        new_batch, index, "text", "doc_id", threshold=0.5
    ).collect()
    assert {(r["new_id"], r["ref_id"]) for r in hits} == {(100, 1)}
    assert all(0.5 <= r["est_jaccard"] <= 1.0 for r in hits)

    # an identical doc must estimate jaccard 1.0
    exact_hit = incremental_neardup(
        spark.createDataFrame([(200, ref_text)], ["doc_id", "text"]),
        index,
        "text",
        "doc_id",
        threshold=0.99,
    ).collect()
    assert [(r["new_id"], r["ref_id"], r["est_jaccard"]) for r in exact_hit] == [
        (200, 1, 1.0)
    ]


def test_minhash_index_matches_batch_banding(spark, sf_dir):
    """Index-vs-batch consistency: for the same corpus, every pair the
    batch self-join finds must also surface when one side is queried
    incrementally against the other side's index (same band hash via
    _band_bucket_cols, recall cannot silently diverge)."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        build_minhash_index,
        incremental_neardup,
        minhash_lsh_pairs,
    )
    from lsdm_motogp_data_integration_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", threshold=0.8
        ).collect()
    }
    index = build_minhash_index(docs, "text", "doc_id")
    # estimate threshold relaxed: signature agreement is a noisy
    # estimator of exact jaccard (sigma ~ 0.07 at num_perm=32)
    inc_pairs = {
        tuple(sorted((r["new_id"], r["ref_id"])))
        for r in incremental_neardup(
            docs, index, "text", "doc_id", threshold=0.5
        ).collect()
        if r["new_id"] != r["ref_id"]
    }
    assert batch_pairs <= inc_pairs


# ---------------------------------------------------------------------------
# round-2 review-fix regressions
# ---------------------------------------------------------------------------


def test_prefix_filter_exact_at_float_ceil_boundary(spark):
    """ceil(0.8*5) evaluates to 5 in float64 (product one ulp above 4);
    the old prefix formula dropped true pairs at exactly this regime.
    Construct a doc pair with J = 0.8 on 4-vs-5 shingle sets whose only
    shared prefix element sits at the boundary position."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        jaccard_pairs,
        word_shingle_hashes,
    )

    # doc a: 9 words -> 5 distinct 5-gram shingles; doc b: a's last 8
    # words -> 4 shingles, all shared => J = 4/5 = 0.8 exactly
    words = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    a_text = words
    b_text = " ".join(words.split()[1:])
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], ["doc_id", "text"]
    )
    sizes = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id",
            F.size(word_shingle_hashes("text", 5)).alias("n"),
        ).collect()
    }
    assert sizes == {1: 5, 2: 4}
    out = jaccard_pairs(df, "text", "doc_id", k=5, threshold=0.8).collect()
    assert len(out) == 1 and out[0]["jaccard"] == 0.8


def test_unigram_shingles_k1(spark):
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        fused_minhash_mins,
        minhash_signature,
        word_shingle_hashes,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, "b a c a"), (2, "")], ["doc_id", "text"]
    )
    r = {
        x["doc_id"]: x
        for x in df.select(
            "doc_id",
            word_shingles("text", 1).alias("ws"),
            F.sort_array(word_shingle_hashes("text", 1)).alias("wh"),
            minhash_signature(
                word_shingle_hashes("text", 1), 8
            ).alias("sig"),
            fused_minhash_mins("text", 1, 8).alias("fused"),
        ).collect()
    }
    assert sorted(r[1]["ws"]) == ["a", "b", "c"]
    assert len(r[1]["wh"]) == 3
    # fused k=1 signature == signature over the k=1 shingle hashes
    assert r[1]["fused"] == r[1]["sig"]
    assert r[2]["fused"] == r[2]["sig"]


def test_fused_null_text_matches_signature_sentinel(spark):
    from pyspark.sql import types as T

    from lsdm_motogp_data_integration_spark.operators.dedup import (
        fused_minhash_mins,
        minhash_signature,
        word_shingle_hashes,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    df = spark.createDataFrame([(1, None), (2, "hello world")], schema)
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            minhash_signature(word_shingle_hashes("text", 5), 8).alias("a"),
            fused_minhash_mins("text", 5, 8).alias("b"),
        ).collect()
    }
    assert rows[1]["a"] == [-1] * 8  # sentinel, not NULL
    assert rows[1]["b"] == [-1] * 8  # fused agrees
    assert rows[2]["a"] == rows[2]["b"]


def test_simhash_radius_beyond_three_has_complete_coverage(spark):
    """h>3 derives more/narrower chunks; the operator's output must
    equal the brute-force all-pairs bit_count relation at that radius
    (the old fixed 4-chunk split could silently miss pairs differing
    in all four chunks)."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        normalized_words,
        simhash64_udf,
        simhash_pairs,
    )

    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (i, " ".join((vocab + " ").split()[j % 10] for j in range(i, i + 7)) * 3)
            for i in range(12)
        ],
        ["doc_id", "text"],
    )
    radius = 10
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(
            docs, "text", "doc_id", max_hamming=radius
        ).collect()
    }
    sk = docs.select(
        "doc_id",
        simhash64_udf(
            F.transform(normalized_words("text"), lambda t: F.xxhash64(t))
        ).alias("sh"),
    )
    a, b = sk.alias("a"), sk.alias("b")
    want = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
        .collect()
    }
    assert got == want
    assert any(h > 3 for (_, _, h) in want)  # the regime actually exercised


def test_simhash_null_text_produces_no_pairs_both_modes(spark):
    from pyspark.sql import types as T

    from lsdm_motogp_data_integration_spark.operators.dedup import (
        simhash_pairs,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text here")], schema
    )
    for weighting in ("none", "idf"):
        out = simhash_pairs(
            df, "text", "doc_id", weighting=weighting
        ).collect()
        ids = {i for r in out for i in (r["id_a"], r["id_b"])}
        assert 1 not in ids and 2 not in ids, weighting


def test_connected_components_rejects_zero_iterations(spark):
    import pytest

    from lsdm_motogp_data_integration_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError):
        connected_components(nodes, pairs, max_iterations=0)


def test_semdedup_marks_exact_duplicates(spark, sf_dir):
    """SemDeDup: an exact duplicate vector always lands in its
    original's cluster (identical embedding -> identical argmax) and
    must be marked dup_of that original; originals survive."""
    from pyspark.sql import functions as F

    from lsdm_motogp_data_integration_spark.operators.dedup import semdedup
    from lsdm_motogp_data_integration_spark.sources import read_table

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    dups = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = e.unionByName(dups)
    out = {
        r["vec_id"]: r
        for r in semdedup(
            corpus, "embedding", "vec_id", n_clusters=4, n_iters=2
        ).collect()
    }
    n_dups = dups.count()
    assert n_dups > 0 and len(out) == e.count() + n_dups
    for r in dups.collect():
        copy = out[r["vec_id"]]
        orig = out[r["vec_id"] - 100000]
        assert copy["cluster"] == orig["cluster"]
        assert copy["keep"] is False
        # dup_of points at SOME smaller near-identical member — at
        # minimum the original itself qualifies
        assert copy["dup_of"] is not None and copy["dup_of"] <= r["vec_id"] - 100000
        assert orig["keep"] is True or orig["dup_of"] < orig["vec_id"]


def test_shared_shingle_sets_equivalence(spark, sf_dir):
    """The sets_df share-one-shingle-pass path must produce exactly
    the pairs of the direct path for both the exact PPJoin and the
    MinHash-LSH operator (q19's suite contract)."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        shingle_sets,
    )
    from lsdm_motogp_data_integration_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dups)
    sets = shingle_sets(corpus, "text", "doc_id", k=5).persist()
    try:
        direct = sorted(
            map(tuple, jaccard_pairs(corpus, "text", "doc_id").collect())
        )
        shared = sorted(
            map(
                tuple,
                jaccard_pairs(
                    corpus, "text", "doc_id", sets_df=sets
                ).collect(),
            )
        )
        assert direct == shared and direct
        direct_m = sorted(
            map(
                tuple,
                minhash_lsh_pairs(corpus, "text", "doc_id").collect(),
            )
        )
        shared_m = sorted(
            map(
                tuple,
                minhash_lsh_pairs(
                    corpus, "text", "doc_id", sets_df=sets
                ).collect(),
            )
        )
        assert direct_m == shared_m and direct_m
    finally:
        sets.unpersist()


def test_containment_catches_quoted_subdocument_jaccard_misses(spark):
    """A paragraph quoted inside a much larger page: containment ≈ 1 in
    the contained→containing direction only, while symmetric Jaccard
    sits far below any dedup threshold — the case the operator exists
    for."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    para = " ".join(f"quote{i}" for i in range(30))
    page = (
        " ".join(f"pre{i}" for i in range(60))
        + " " + para + " "
        + " ".join(f"post{i}" for i in range(60))
    )
    other = " ".join(f"noise{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, para), (2, page), (3, other)], "doc_id bigint, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            df, "text", "doc_id", k=5, threshold=0.8
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.8
    assert (2, 1) not in got  # asymmetric: the page is NOT inside the para
    assert not any(3 in pair for pair in got)
    # symmetric Jaccard misses the same pair at the same threshold
    assert (
        jaccard_pairs(df, "text", "doc_id", k=5, threshold=0.8).count() == 0
    )


def test_containment_matches_bruteforce_and_prefix_filter_is_lossless(
    spark,
):
    """Every directed pair from a no-filter brute force (threshold on
    full sets) must survive the prefix+size-filtered path — the
    asymmetric prefix theorem implemented correctly loses nothing."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        containment_pairs,
        shingle_sets,
    )

    words = [f"w{i}" for i in range(40)]
    docs = []
    for d in range(12):
        # overlapping slices of one vocabulary: dense containment
        # structure in both directions
        lo = (3 * d) % 20
        docs.append((d, " ".join(words[lo : lo + 12 + (d % 9)])))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    sets = shingle_sets(df, "text", "doc_id", k=3)
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            df, "text", "doc_id", k=3, threshold=0.7, sets_df=sets
        ).collect()
    }
    a = sets.selectExpr("doc_id AS ia", "shingles AS sa")
    b = sets.selectExpr("doc_id AS ib", "shingles AS sb")
    brute = (
        a.crossJoin(b)
        .filter("ia != ib")
        .selectExpr(
            "ia", "ib",
            "round(size(array_intersect(sa, sb)) / size(sa), 6) AS c",
        )
        .filter("c >= 0.7")
        .collect()
    )
    expect = {(r["ia"], r["ib"]): r["c"] for r in brute}
    assert got == expect and len(expect) > 0


def test_char_shingles_catch_cjk_neardups_word_shingles_miss(spark):
    """char-unit shingle_sets (r4): CJK text has no whitespace, so the
    word tokenizer yields ONE giant token per run and word 5-grams
    don't exist — the word-based near-dup family is provably blind.
    Char 8-grams restore the signal through the UNCHANGED consumers
    (sets_df contract), and exact duplicates still score 1.0."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        shingle_sets,
    )

    zh = (
        "机器学习模型的训练数据质量决定了最终效果"
        "数据清洗和去重是数据管线中最重要的步骤之一"
        "近似重复文档会让模型记住重复内容并降低泛化能力"
    )
    rows = [
        (1, zh),
        (2, zh + "结尾稍有不同"),          # near-dup of 1
        (3, zh),                            # exact dup of 1
        (4, "完全不同的文本讨论分布式计算引擎的查询优化器"
            "包括谓词下推列裁剪和连接重排序等经典技术内容"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    word_sets = shingle_sets(df, "text", "doc_id", k=5, unit="word")
    # degenerate: ONE giant "word" per doc -> a single clamped gram
    # (rolling_gram_hashes' short-input sentinel), so the word path
    # collapses to exact matching — it finds the byte-identical pair
    # but is BLIND to the near-dup
    assert all(
        len(r["shingles"]) == 1 for r in word_sets.collect()
    )
    word_pairs = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            df, "text", "doc_id", k=5, threshold=0.5, sets_df=word_sets
        ).collect()
    }
    assert word_pairs == {(1, 3)}  # exact dup only; (1,2)/(2,3) missed

    char_sets = shingle_sets(df, "text", "doc_id", k=8, unit="char")
    char_pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, "text", "doc_id", k=8, threshold=0.5, sets_df=char_sets
        ).collect()
    }
    assert set(char_pairs) == {(1, 2), (1, 3), (2, 3)}
    assert char_pairs[(1, 3)] == 1.0  # exact dup
    # LSH path over the same char sets agrees on the high-sim pairs
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", k=8, threshold=0.5, sets_df=char_sets
        ).collect()
    }
    assert lsh_pairs == set(char_pairs)

    with __import__("pytest").raises(ValueError):
        shingle_sets(df, "text", "doc_id", unit="byte")


def test_fused_char_mins_match_signature_over_char_shingles(spark):
    """Index-compat invariant for the char basis: the fused rolling
    MinHash (unit=\"char\") must equal minhash_signature over
    char_shingle_hashes — an index built via one path must collide
    with signatures from the other iff the texts match."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        char_shingle_hashes,
        fused_minhash_mins,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [
            ("机器学习模型的训练数据质量决定效果",),
            ("short",),
            (None,),
        ],
        ["text"],
    )
    rows = df.select(
        fused_minhash_mins("text", 8, 16, "char").alias("fused"),
        minhash_signature(char_shingle_hashes("text", 8), 16).alias(
            "via_sets"
        ),
    ).collect()
    for r in rows:
        assert r["fused"] == r["via_sets"]


def test_minhash_index_sets_df_path_bit_identical(spark, sf_dir):
    """sets_df threading (r5): build_minhash_index and
    incremental_neardup built from a prepared shingle_sets relation
    must be BIT-IDENTICAL to the fused text path — for both shingle
    units — so a suite sharing one shingle pass cannot change
    results."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        build_minhash_index,
        incremental_neardup,
        shingle_sets,
    )
    from lsdm_motogp_data_integration_spark.sources import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 600000).alias("doc_id"),
        F.expr("substr(text, 25)").alias("text"),
    )
    corpus = d.unionByName(near)
    for unit, k in (("word", 5), ("char", 8)):
        sets = shingle_sets(corpus, "text", "doc_id", k=k, unit=unit)
        hist, new = (
            corpus.filter(F.col("doc_id") < 600000),
            corpus.filter(F.col("doc_id") >= 600000),
        )
        kw = dict(k=k, num_perm=32, bands=16, unit=unit)
        idx_text = build_minhash_index(hist, "text", "doc_id", **kw)
        idx_sets = build_minhash_index(
            hist, "text", "doc_id",
            sets_df=sets.filter(F.col("doc_id") < 600000), **kw,
        )

        def snap(df):
            # collect-compare, not exceptAll: exceptAll over these
            # generate-heavy plans trips a Spark attribute-binding
            # internal error (ATTRIBUTE_NOT_FOUND on the exploded
            # alias), and set-compare on collected rows is exact here
            return sorted(
                (r["doc_id"], r["__bucket"], tuple(r["__mins"]))
                for r in df.collect()
            )

        assert snap(idx_text) == snap(idx_sets), unit

        hits_text = incremental_neardup(
            new, idx_text, "text", "doc_id", threshold=0.4, **kw
        )
        hits_sets = incremental_neardup(
            new, idx_text, "text", "doc_id", threshold=0.4,
            sets_df=sets.filter(F.col("doc_id") >= 600000), **kw,
        )
        a = sorted(map(tuple, hits_text.collect()))
        b = sorted(map(tuple, hits_sets.collect()))
        assert a == b and a, unit


def test_hamming_chunk_bounds_balanced_and_complete():
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        _hamming_chunk_bounds,
    )

    for h in range(0, 64):
        b = _hamming_chunk_bounds(h)
        assert b[0] == 0 and b[-1] == 64 and len(b) == h + 2
        widths = [b[i + 1] - b[i] for i in range(len(b) - 1)]
        assert min(widths) >= 1, f"empty chunk at h={h}"  # pigeonhole
        assert max(widths) - min(widths) <= 1, f"unbalanced at h={h}"


def test_hamming64_pairs_complete_at_extreme_radii(spark):
    """h=22 and h=32 broke the old ceil-width split (empty chunks →
    missed pairs / bucket-everything cross join); the balanced bounds
    must match brute force exactly."""
    import random

    from lsdm_motogp_data_integration_spark.operators.dedup import (
        hamming64_pairs,
    )

    rnd = random.Random(77)
    base = rnd.getrandbits(63)
    sigs = [base]
    for i in range(60):
        # scatter flips across the whole word so some pairs differ in
        # MANY chunks at once
        v = base
        for _ in range(rnd.randrange(0, 40)):
            v ^= 1 << rnd.randrange(64)
        sigs.append(v & 0x7FFFFFFFFFFFFFFF)
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "id long, sig long"
    )
    for h in (22, 32):
        got = {
            (r.id_a, r.id_b)
            for r in hamming64_pairs(
                df, "id", "sig", max_hamming=h, entropy_guard="off"
            ).collect()
        }
        want = {
            (i, j)
            for i in range(len(sigs))
            for j in range(i + 1, len(sigs))
            if bin(sigs[i] ^ sigs[j]).count("1") <= h
        }
        assert got == want, f"radius {h}: {len(got)} vs {len(want)}"


def test_hamming_join_cost_and_entropy_guard(spark):
    """The self-policing guard (VERDICT r6 #2): ~64 effective bits on
    md5-grade signatures (silent), collapsed entropy on sub-grid-style
    signatures (fires at the measured blowup)."""
    import pytest as _pt

    from lsdm_motogp_data_integration_spark.operators.dedup import (
        hamming64_pairs,
        hamming_join_cost,
    )

    n = 4000
    rich = spark.range(n).select(
        F.col("id"), F.xxhash64(F.col("id").cast("string")).alias("sig")
    )
    cost = hamming_join_cost(rich, "sig", 6)
    assert cost["n"] == n
    assert cost["effective_bits"] > 60.0
    assert cost["ratio"] < 4.0
    # sub-grid entropy: only 12 of 64 bits vary (the r6 probe's 4x3
    # finding in miniature) -> quadratic candidate blowup at radius 6
    poor = spark.range(n).select(
        F.col("id"),
        F.xxhash64(F.col("id").cast("string"))
        .bitwiseAND(F.lit(0xFFF))
        .alias("sig"),
    )
    cost = hamming_join_cost(poor, "sig", 6)
    assert cost["effective_bits"] < 16.0
    assert cost["ratio"] > 16.0 and cost["est_candidates"] > 2e6
    with _pt.raises(ValueError, match="entropy collapse"):
        hamming64_pairs(
            poor, "id", "sig", max_hamming=6, entropy_guard="raise"
        )
    with _pt.warns(RuntimeWarning, match="effective bits"):
        hamming64_pairs(
            poor, "id", "sig", max_hamming=6, entropy_guard="warn"
        ).count()
    # silent on the rich corpus, in both modes
    hamming64_pairs(rich, "id", "sig", max_hamming=6, entropy_guard="raise")


def test_hamming64_pairs_guard_pins_input_single_evaluation(spark):
    """r8 (VERDICT r7 #2): with the guard on, the (id, sig) relation
    is localCheckpoint'ed before the pre-pass, so the guard aggregate
    + the chunk self-join's two branches evaluate the upstream
    lineage exactly ONCE.  An accumulator-counting UDF in the lineage
    counts evaluations — unpinned, this read 3n (guard + two join
    branches)."""
    from pyspark.sql import types as T

    from lsdm_motogp_data_integration_spark.operators.dedup import (
        hamming64_pairs,
    )

    acc = spark.sparkContext.accumulator(0)

    def expensive_sig(i):
        acc.add(1)
        h = (i * 0x9E3779B97F4A7C15 + 0x165667B19E3779F9) % (1 << 63)
        return h

    sig_udf = F.udf(expensive_sig, T.LongType()).asNondeterministic()
    n = 200
    hashed = spark.range(n).select(
        F.col("id"), sig_udf(F.col("id")).alias("sig")
    )
    pairs = hamming64_pairs(
        hashed, "id", "sig", max_hamming=3, entropy_guard="warn"
    )
    pairs.count()
    assert acc.value == n, (
        f"upstream lineage evaluated {acc.value / n:.1f}x "
        f"(expected exactly once under the guard pin)"
    )


def test_hamming64_pairs_sig_bits_complete_vs_brute_force(spark):
    """r8: narrow signatures declare their width; the chunk split over
    ``sig_bits`` stays COMPLETE (pinned against brute force at several
    radii) where a 64-bit split would still work but bucket every row
    together in the dead high chunks."""
    from itertools import combinations

    from lsdm_motogp_data_integration_spark.operators.dedup import (
        _hamming_chunk_bounds,
        hamming64_pairs,
    )

    # balanced bounds over a narrow width: cover all bits, no empties
    for h in (0, 1, 2, 7, 15):
        b = _hamming_chunk_bounds(h, 16)
        assert b[0] == 0 and b[-1] == 16 and len(b) == h + 2
        widths = [b[i + 1] - b[i] for i in range(len(b) - 1)]
        assert min(widths) >= 1 and max(widths) - min(widths) <= 1

    import random

    rnd = random.Random(42)
    sigs = [(i, rnd.getrandbits(16)) for i in range(80)]
    df = spark.createDataFrame(sigs, "id: long, sig: long")
    for h in (0, 1, 3, 6):
        want = {
            (a, b)
            for (a, sa), (b, sb) in combinations(sigs, 2)
            if bin(sa ^ sb).count("1") <= h
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in hamming64_pairs(
                df, "id", "sig", max_hamming=h, sig_bits=16,
                entropy_guard="off",
            ).collect()
        }
        assert got == want, f"radius {h}"


def test_hamming64_pairs_sig_bits_contract_enforced(spark):
    """Bits at or above the declared width break pigeonhole
    completeness silently — the guard pre-pass must catch them, and
    parameter validation rejects an impossible radius."""
    import pytest as _pt

    from lsdm_motogp_data_integration_spark.operators.dedup import (
        hamming64_pairs,
    )

    df = spark.createDataFrame(
        [(1, 0x1FFFF), (2, 0x10000)], "id: long, sig: long"
    )
    with _pt.raises(ValueError, match="sig_bits=16"):
        hamming64_pairs(
            df, "id", "sig", max_hamming=1, sig_bits=16,
            entropy_guard="warn",
        )
    with _pt.raises(ValueError, match="max_hamming must be 0..15"):
        hamming64_pairs(df, "id", "sig", max_hamming=16, sig_bits=16)
    with _pt.raises(ValueError, match="sig_bits"):
        hamming64_pairs(df, "id", "sig", max_hamming=1, sig_bits=65)


def test_hamming64_pairs_radius_zero_full_width_chunk(spark):
    """r9 fix: max_hamming=0 over 64-bit signatures makes ONE chunk
    of width 64 — its mask must be the signed all-ones -1 (the
    unsigned 2^64-1 literal does not fit a JVM long).  Radius 0 is
    the exact-duplicate join, so only identical signatures pair."""
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        hamming64_pairs,
    )

    rows = [
        (1, -1),                      # all ones
        (2, -1),
        (3, (1 << 63) - 1),           # differs in the sign bit only
        (4, 12345),
        (5, 12345),
    ]
    df = spark.createDataFrame(rows, "id: long, sig: long")
    got = {
        (r["id_a"], r["id_b"])
        for r in hamming64_pairs(
            df, "id", "sig", max_hamming=0, collapse_identical=True
        ).collect()
    }
    assert got == {(1, 2), (4, 5)}
