"""Round-9 optimization rewrites: focused equivalence pins.

Each r9 rewrite replaced a relational shape (explode → shuffle →
join-back → collect_list reassembly) with an array-native / fused form
that must produce IDENTICAL output. These tests pin the edge cases the
relational forms defined implicitly (short docs, fully-covered docs,
overlapping repeats, empty/boilerplate-only documents) plus the fused
q19 candidates→verify composition against the operators' direct output.
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from lsdm_motogp_data_integration_spark.operators.boilerplate import (
    dedup_lines_keep_first,
    dup_line_stats,
    remove_boilerplate_lines,
)
from lsdm_motogp_data_integration_spark.operators.dedup import (
    containment_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_sets,
)
from lsdm_motogp_data_integration_spark.operators.textops import (
    cross_doc_span_dedup,
    mask_repeated_ngrams,
)


def _mask_reference(text: str, k: int) -> tuple[str, int, int]:
    """Brute-force python twin of mask_repeated_ngrams' contract."""
    words = text.split(" ")
    n = len(words)
    seen: dict[tuple, int] = {}
    covered: set[int] = set()
    if n >= k:
        for s in range(n - k + 1):
            g = tuple(words[s : s + k])
            if g in seen:
                covered.update(range(s, s + k))
            else:
                seen[g] = s
    kept = [w for i, w in enumerate(words) if i not in covered]
    return " ".join(kept), len(kept), n - len(kept)


def test_mask_repeated_ngrams_matches_bruteforce_edges(spark):
    texts = [
        "a b c a b c a b c",          # overlapping repeats
        "a a a a a a a a",            # single-token run
        "x y z",                      # shorter than k
        "",                           # empty text -> [''] token
        "p q r s p q r s t p q r s",  # repeat then fresh tail
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r["doc_id"]: (r["text"], r["n_words_kept"], r["n_words_removed"])
        for r in mask_repeated_ngrams(df, k=3).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _mask_reference(t, 3), (i, t, got[i])


def test_cross_doc_span_dedup_fully_masked_doc(spark):
    # doc 2 is an exact copy of doc 1: every one of its positions is
    # covered, the rebuilt text must be the empty string
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three four five six"),
            Row(doc_id=2, text="one two three four five six"),
            Row(doc_id=3, text="totally different words here now ok"),
        ]
    )
    out = {
        r["doc_id"]: r for r in cross_doc_span_dedup(df, k=3).collect()
    }
    assert out[1]["text"] == "one two three four five six"
    assert out[2]["text"] == ""
    assert out[2]["n_words_kept"] == 0
    assert out[2]["n_words_removed"] == 6
    assert out[3]["n_words_removed"] == 0


def test_boilerplate_all_lines_removed_and_counts(spark):
    # every line of doc 3 is boilerplate -> empty string, kept 0
    common = "footer line\nheader line"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha\n{common}"),
            Row(doc_id=2, text=f"beta\n{common}"),
            Row(doc_id=3, text=common),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(df, min_docs=3).collect()
    }
    assert out[3]["text"] == ""
    assert out[3]["n_lines_kept"] == 0
    assert out[3]["n_lines_removed"] == 2
    assert out[1]["text"] == "alpha"
    assert out[1]["n_lines_kept"] == 1
    assert out[1]["n_lines_removed"] == 2


def test_dedup_lines_keep_first_short_line_exempt_and_full_removal(spark):
    # "hi" is below min_line_chars -> exempt everywhere; doc 3 keeps
    # nothing but its exempt line
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="hi\nshared line one\nshared line two"),
            Row(doc_id=2, text="shared line one\nunique middle\nhi"),
            Row(doc_id=3, text="shared line two\nhi\nshared line one"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in dedup_lines_keep_first(df, min_line_chars=3).collect()
    }
    assert out[1]["text"] == "hi\nshared line one\nshared line two"
    assert out[2]["text"] == "unique middle\nhi"
    assert out[3]["text"] == "hi"
    assert out[3]["n_lines_kept"] == 1
    assert out[3]["n_lines_removed"] == 2


def test_dup_line_stats_empty_and_whitespace_docs(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a line\na line\nother"),
            Row(doc_id=2, text="   \n\n  "),  # only blank lines
            Row(doc_id=3, text=""),
        ]
    )
    out = {r["doc_id"]: r for r in dup_line_stats(df).collect()}
    assert out[1]["n_lines"] == 3
    assert out[1]["dup_line_frac"] == round(1 / 3, 6)
    assert out[2] == Row(doc_id=2, n_lines=0, dup_line_frac=0.0,
                         dup_char_frac=0.0)
    assert out[3]["n_lines"] == 0


def _pair_corpus(spark):
    rows = [
        Row(doc_id=i, text=" ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
        for i in range(20)
    ]
    # near-dup twins of every 3rd doc (drop the first word)
    rows += [
        Row(doc_id=100 + r.doc_id, text=r.text.split(" ", 1)[1])
        for r in rows[::3]
    ]
    return spark.createDataFrame(rows)


def test_candidates_only_composition_equals_direct_operator(spark):
    """The fused q19 shape — candidates_only + one shared verification
    join — must emit exactly the operator's own verified output."""
    corpus = _pair_corpus(spark)
    sets = shingle_sets(corpus, "text", "doc_id", k=5)
    sa = sets.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("__sa")
    )
    sb = sets.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("__sb")
    )

    def verify_jaccard(cands):
        jac = F.size(F.array_intersect("__sa", "__sb")) / F.size(
            F.array_union("__sa", "__sb")
        )
        return (
            cands.join(sa, "id_a").join(sb, "id_b")
            .withColumn("__j", jac)
            .filter(F.col("__j") >= 0.8)
            .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
        )

    for op in (jaccard_pairs, minhash_lsh_pairs):
        direct = sorted(
            map(tuple, op(corpus, "text", "doc_id", threshold=0.8,
                          sets_df=sets).collect())
        )
        fused = sorted(
            map(
                tuple,
                verify_jaccard(
                    op(corpus, "text", "doc_id", threshold=0.8,
                       sets_df=sets, candidates_only=True)
                ).collect(),
            )
        )
        assert direct == fused, op.__name__

    con = F.size(F.array_intersect("__sa", "__sb")) / F.size("__sa")
    direct = sorted(
        map(tuple, containment_pairs(corpus, "text", "doc_id",
                                     threshold=0.8, sets_df=sets).collect())
    )
    fused = sorted(
        map(
            tuple,
            containment_pairs(
                corpus, "text", "doc_id", threshold=0.8, sets_df=sets,
                candidates_only=True,
            )
            .join(sa, "id_a").join(sb, "id_b")
            .withColumn("__c", con)
            .filter(F.col("__c") >= 0.8)
            .select("id_a", "id_b", F.round("__c", 6).alias("containment"))
            .collect(),
        )
    )
    assert direct == fused


def test_lloyd_local_rounds_bitidentical_to_distributed(spark):
    """r9: with train_sample >= |corpus| the driver-local Lloyd rounds
    see exactly the rows the distributed rounds (train_sample=0) see,
    so the codebooks must be BIT-identical — pinning the integer-grid
    argmax and the shortest-repr double→decimal(28,12) HALF_UP cast
    parity driver-side vs JVM-side."""
    import numpy as np

    from lsdm_motogp_data_integration_spark.operators.ann import (
        _train_centroids,
    )

    rows = []
    for i in range(97):
        # awkward floats: negative, tiny, near-decimal-boundary values
        rows.append(
            Row(
                vec_id=i,
                embedding=[
                    ((-1) ** i) * (i + 1) / 7.0,
                    i * 1e-7 + 1e-13,
                    float(np.float64(i) * 0.1),
                    1.0 / (i + 3),
                ],
            )
        )
    df = spark.createDataFrame(rows)
    local = _train_centroids(df, "embedding", "vec_id", 5, 3, 97)
    dist = _train_centroids(df, "embedding", "vec_id", 5, 3, 0)
    assert local.shape == dist.shape
    assert (local == dist).all(), np.abs(local - dist).max()


def test_lloyd_local_sum_exact_for_wide_values(spark):
    """Spark sums decimal(28,12) into an exact decimal(38,12); the
    driver-local round must not round that sum at 28 digits. With one
    cell every row is a member, and the position-0 sum
    9007199254740992 + 9007199254740994 + 1e-12 needs 29 digits: at 28
    it loses the 1e-12, the double conversion rounds half-even down
    and the mean reads 6004799503160661 instead of 6004799503160663."""
    import numpy as np

    from lsdm_motogp_data_integration_spark.operators.ann import (
        _normalize_rows,
        _train_centroids,
    )

    df = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[x, 1.0])
            for i, x in enumerate(
                [9007199254740992.0, 9007199254740994.0, 1e-12]
            )
        ]
    )
    local = _train_centroids(df, "embedding", "vec_id", 1, 1, 3)
    dist = _train_centroids(df, "embedding", "vec_id", 1, 1, 0)
    exact = _normalize_rows(np.array([[6004799503160663.0, 1.0]]))
    assert (dist == exact).all(), dist
    assert (local == dist).all(), (local, dist)
