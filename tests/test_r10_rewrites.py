"""Round-10 optimization equivalence tests.

Every r10 rewrite must compute EXACTLY what the direct operator
composition computed before — these tests pin fused == direct over
adversarial inputs (null labels, null/zero vectors, cosine ties) that
the driver's testdata may not contain.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


@pytest.fixture(scope="module")
def ann_corpus(spark):
    # adversarial: duplicate vectors (cosine ties broken by id), a
    # zero vector (null cosine via try_divide), a NULL embedding, NULL
    # labels on both the anchor side (query_id 3) and the corpus side,
    # and a query whose own label dominates its neighborhood
    rows = [
        (0, [1.0, 0.0, 0.0], "a"),
        (1, [0.9, 0.1, 0.0], "a"),
        (2, [0.0, 1.0, 0.0], "b"),
        (3, [0.5, 0.5, 0.0], None),
        (4, [0.0, 0.0, 1.0], "c"),
        (10, [1.0, 0.0, 0.0], "a"),     # exact dup of query 0
        (11, [1.0, 0.0, 0.0], "b"),     # exact dup, different label
        (12, [0.9, 0.1, 0.0], None),    # NULL label corpus row
        (13, [0.0, 0.0, 0.0], "d"),     # zero vector -> NULL cosine
        (14, None, "e"),                # NULL embedding
        (15, [0.7, 0.7, 0.1], "b"),
        (16, [0.2, 0.8, 0.0], "b"),
        (17, [0.1, 0.1, 0.9], "c"),
        (18, [0.3, 0.3, 0.3], "a"),
        (19, [0.6, 0.4, 0.0], None),
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )


class TestQ26SharedRanked:
    """q26's _ann_shared_ranked fused pass == the direct operators."""

    def test_exact_and_pool_match_cosine_topk(self, spark, ann_corpus):
        from lsdm_motogp_data_integration_spark.queries.ann import (
            _ann_shared_ranked,
        )
        from lsdm_motogp_data_integration_spark.operators.ann import (
            cosine_topk,
        )

        _, queries_df, shared = _ann_shared_ranked(ann_corpus)
        pool_fused = shared.filter(F.col("__rk_all") <= 12).select(
            "query_id", "neighbor_id", "cosine",
            F.col("__rk_all").alias("rank"),
        )
        pool_direct = cosine_topk(
            ann_corpus, queries_df, "embedding", "vec_id",
            "query_id", "query_vec", k=12,
        )
        cols = ["query_id", "neighbor_id", "cosine", "rank"]
        assert _rows(pool_fused, cols) == _rows(pool_direct, cols)
        exact_fused = pool_fused.filter(F.col("rank") <= 5)
        exact_direct = cosine_topk(
            ann_corpus, queries_df, "embedding", "vec_id",
            "query_id", "query_vec", k=5,
        )
        assert _rows(exact_fused, cols) == _rows(exact_direct, cols)

    def test_hard_neg_matches_hard_negatives(self, spark, ann_corpus):
        from lsdm_motogp_data_integration_spark.queries.ann import (
            _ann_shared_ranked,
        )
        from lsdm_motogp_data_integration_spark.operators.ann import (
            hard_negatives,
        )

        _, _, shared = _ann_shared_ranked(ann_corpus)
        hard_fused = shared.filter(
            F.col("__neg") & (F.col("__rk_neg") <= 5)
        ).select(
            "query_id", "neighbor_id", "cosine",
            F.col("__rk_neg").alias("rank"),
        )
        hard_direct = hard_negatives(
            ann_corpus, "embedding", "vec_id", "label", k=5,
            anchors=ann_corpus.filter(F.col("vec_id") < 5),
        )
        cols = ["query_id", "neighbor_id", "cosine", "rank"]
        assert _rows(hard_fused, cols) == _rows(hard_direct, cols)

    def test_rank_types_are_bigint(self, spark, ann_corpus):
        from lsdm_motogp_data_integration_spark.queries.ann import (
            _ann_shared_ranked,
        )

        _, _, shared = _ann_shared_ranked(ann_corpus)
        types = dict(shared.dtypes)
        assert types["__rk_all"] == "bigint"
        assert types["__rk_neg"] == "bigint"


class TestQ19SharedSignatures:
    """mins_df (prepared signatures) == the operators' own signature
    pass, for all three MinHash operators (q19 r10 sharing)."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "the quick brown fox jumps over the lazy cat today"),
            (4, "completely different words in this document here now"),
            (5, "the quick brown fox jumps over the lazy dog tomorrow"),
            (6, "short doc"),
            (7, ""),
        ]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    @pytest.fixture(scope="class")
    def sets_and_mins(self, spark, corpus):
        from lsdm_motogp_data_integration_spark.operators.dedup import (
            minhash_signature,
            shingle_sets,
        )

        sets = shingle_sets(corpus, "text", "doc_id", k=3).withColumn(
            "__mins", minhash_signature(F.col("shingles"), 32)
        )
        return sets, sets.select("doc_id", "__mins")

    def test_lsh_candidates_match(self, spark, corpus, sets_and_mins):
        from lsdm_motogp_data_integration_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        sets, mins = sets_and_mins
        base = minhash_lsh_pairs(
            corpus, "text", "doc_id", k=3, threshold=0.5,
            sets_df=sets, candidates_only=True,
        )
        shared = minhash_lsh_pairs(
            corpus, "text", "doc_id", k=3, threshold=0.5,
            sets_df=sets, candidates_only=True, mins_df=mins,
        )
        cols = ["id_a", "id_b"]
        assert _rows(shared, cols) == _rows(base, cols)

    def test_index_and_incremental_match(self, spark, corpus, sets_and_mins):
        from lsdm_motogp_data_integration_spark.operators.dedup import (
            build_minhash_index,
            incremental_neardup,
        )

        sets, mins = sets_and_mins
        hist_s, new_s = (
            sets.filter(F.col("doc_id") <= 4),
            sets.filter(F.col("doc_id") > 4),
        )
        hist_m, new_m = (
            mins.filter(F.col("doc_id") <= 4),
            mins.filter(F.col("doc_id") > 4),
        )
        hist = corpus.filter(F.col("doc_id") <= 4)
        new = corpus.filter(F.col("doc_id") > 4)
        ix_base = build_minhash_index(
            hist, "text", "doc_id", k=3, num_perm=32, bands=16,
            sets_df=hist_s,
        )
        ix_shared = build_minhash_index(
            hist, "text", "doc_id", k=3, num_perm=32, bands=16,
            sets_df=hist_s, mins_df=hist_m,
        )
        cols = ["doc_id", "__bucket", "__mins"]
        assert [
            (r["doc_id"], r["__bucket"], tuple(r["__mins"]))
            for r in sorted(
                ix_shared.collect(),
                key=lambda r: (r["doc_id"], r["__bucket"]),
            )
        ] == [
            (r["doc_id"], r["__bucket"], tuple(r["__mins"]))
            for r in sorted(
                ix_base.collect(),
                key=lambda r: (r["doc_id"], r["__bucket"]),
            )
        ]
        hits_base = incremental_neardup(
            new, ix_base, "text", "doc_id", k=3, num_perm=32,
            bands=16, threshold=0.3, sets_df=new_s,
        )
        hits_shared = incremental_neardup(
            new, ix_shared, "text", "doc_id", k=3, num_perm=32,
            bands=16, threshold=0.3, sets_df=new_s, mins_df=new_m,
        )
        cols = ["new_id", "ref_id", "est_jaccard"]
        assert _rows(hits_shared, cols) == _rows(hits_base, cols)
        assert _rows(hits_base, cols)  # non-trivial: at least one hit

    def test_mins_without_sets_requires_candidates_only(
        self, spark, corpus, sets_and_mins
    ):
        from lsdm_motogp_data_integration_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        _, mins = sets_and_mins
        with pytest.raises(ValueError, match="candidates_only"):
            minhash_lsh_pairs(
                corpus, "text", "doc_id", k=3, mins_df=mins,
            )


class TestBoilerplateSizeGuard:
    """remove_boilerplate_lines' broadcast cap: fail-loud assert on
    the broadcast path, count-then-choose on 'auto' (VERDICT r9 #7)."""

    @pytest.fixture(scope="class")
    def huge_frequent(self, spark):
        # 40 distinct lines, each in 3 docs -> frequent set of 40
        docs = []
        for d in range(3):
            text = "\n".join(f"boiler_{i}" for i in range(40))
            docs.append((d, text + f"\nunique_{d}"))
        return spark.createDataFrame(docs, "doc_id bigint, text string")

    def test_broadcast_guard_raises(self, spark, huge_frequent):
        from lsdm_motogp_data_integration_spark.operators.boilerplate import (
            remove_boilerplate_lines,
        )

        out = remove_boilerplate_lines(
            huge_frequent, min_docs=3, max_broadcast_lines=10
        )
        with pytest.raises(Exception, match="max_broadcast_lines"):
            out.collect()

    def test_auto_picks_anti_join_and_matches(self, spark, huge_frequent):
        from lsdm_motogp_data_integration_spark.operators.boilerplate import (
            remove_boilerplate_lines,
        )

        cols = ["doc_id", "text", "n_lines_kept", "n_lines_removed"]
        auto_small_cap = remove_boilerplate_lines(
            huge_frequent, min_docs=3, broadcast_frequent="auto",
            max_broadcast_lines=10,
        )
        anti = remove_boilerplate_lines(
            huge_frequent, min_docs=3, broadcast_frequent=False
        )
        bcast = remove_boilerplate_lines(
            huge_frequent, min_docs=3, broadcast_frequent=True
        )
        assert _rows(auto_small_cap, cols) == _rows(anti, cols)
        assert _rows(bcast, cols) == _rows(anti, cols)
        auto_big_cap = remove_boilerplate_lines(
            huge_frequent, min_docs=3, broadcast_frequent="auto",
            max_broadcast_lines=10_000,
        )
        assert _rows(auto_big_cap, cols) == _rows(anti, cols)


class TestAdviceR9Fixes:
    """The three low-severity ADVICE r9 items."""

    def test_dedup_lines_duplicate_ids_no_crash(self, spark):
        from lsdm_motogp_data_integration_spark.operators.boilerplate import (
            dedup_lines_keep_first,
        )

        # duplicate doc_id rows sharing a repeated line: previously
        # DUPLICATED_MAP_KEY at runtime
        df = spark.createDataFrame(
            [
                (1, "shared line\nalpha"),
                (1, "shared line\nbeta"),
                (2, "shared line\ngamma"),
            ],
            "doc_id bigint, text string",
        )
        out = dedup_lines_keep_first(df, min_line_chars=1).collect()
        assert len(out) == 3  # one row per input row, no error
        # the keeper (doc 1, pos 0) retains the line; doc 2 loses it
        texts = sorted(r["text"] for r in out)
        assert "gamma" in texts

    def test_cast_dec12_overflow_raises(self):
        from lsdm_motogp_data_integration_spark.operators.ann import (
            _cast_dec12,
        )

        assert float(_cast_dec12(0.1)) == pytest.approx(0.1)
        _cast_dec12(9.9e15)  # 16 integer digits: still representable
        with pytest.raises(ArithmeticError, match="decimal\\(28,12\\)"):
            _cast_dec12(1e16)

    def test_blank_meta_sidecar_raises(self, spark, tmp_path):
        from lsdm_motogp_data_integration_spark.operators.ann import (
            _read_index_meta,
        )

        ix = tmp_path / "ix"
        meta = ix / "_meta"
        meta.mkdir(parents=True)
        (meta / "part-00000").write_text("")
        with pytest.raises(ValueError, match="sidecar"):
            _read_index_meta(spark, str(ix))
        # absent sidecar still returns None (pre-sidecar indexes serve)
        ix2 = tmp_path / "ix2"
        ix2.mkdir()
        assert _read_index_meta(spark, str(ix2)) is None


class TestComputeWidthEstimate:
    """_compute_width's file-size estimate replaces the df.rdd plan
    conversion without changing the widen decision's semantics."""

    def test_small_parquet_scan_widens(self, spark, sf_dir):
        from lsdm_motogp_data_integration_spark.operators.dedup import (
            _compute_width,
            _estimated_scan_width,
        )

        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        est = _estimated_scan_width(df)
        assert est is not None and est >= 1
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        wide = _compute_width(df)
        # tiny local parquet must come out at the shuffle width
        assert wide.rdd.getNumPartitions() == max(n_shuffle, est)

    def test_in_memory_lineage_falls_back(self, spark):
        from lsdm_motogp_data_integration_spark.operators.dedup import (
            _estimated_scan_width,
        )

        df = spark.range(10).localCheckpoint(eager=True)
        assert _estimated_scan_width(df) is None

    def test_estimate_tracks_real_scan_partitions(self, spark, sf_dir):
        from lsdm_motogp_data_integration_spark.operators.dedup import (
            _estimated_scan_width,
        )

        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        est = _estimated_scan_width(df)
        real = df.rdd.getNumPartitions()
        # coarse agreement is all the widen decision needs; the
        # estimate replicates Spark's split math so it should land
        # within 2x of the actual scan width
        assert est is not None
        assert est <= 2 * real + 1 and real <= 2 * est + 1
