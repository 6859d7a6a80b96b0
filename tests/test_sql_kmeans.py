"""SQL-native k-means assignment and SemDeDup.

``kmeans_clusters`` / ``semdedup`` assign clusters with one built-in
array expression (``ann._nearest_cell``) instead of a pandas UDF,
and SemDeDup adds ``cluster`` to the corpus as a projection instead of
joining an id-keyed assignment back. These tests pin the expression to
the numpy integer-grid argmax it replaced, the projection to the old
join formulation, and q27's plan to the shape the rewrite promises.
Also here: the input-validation fixes for ``_cast_dec12``,
``_estimated_scan_width`` and ``remove_boilerplate_lines``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_sql_assignment_matches_numpy_argmax(spark):
    """Random non-unit-norm float32 vectors, duplicate rows, a zero
    vector, a NaN component, and an exact tie built into the codebook
    (cells 1 and 4 are the same centroid, so every vector nearest to
    it ties): the expression must pick what ``np.argmax`` over
    ``_nearest_cells`` picks — the FIRST maximum — and report the old
    UDF's 6dp cosine."""
    from lsdm_motogp_data_integration_spark.operators.ann import (
        _nearest_cells,
        _normalize_rows,
        _quantize,
        kmeans_clusters,
    )

    rng = np.random.default_rng(7)
    dim = 16
    mat = _normalize_rows(rng.normal(size=(6, dim)))
    mat[4] = mat[1]
    vecs = (rng.normal(size=(120, dim)) * rng.uniform(0.1, 40, (120, 1)))
    vecs = vecs.astype(np.float32).astype(np.float64)
    vecs = np.vstack(
        [vecs, vecs[:10], mat[1:2] * 3.0, np.zeros((1, dim))]
    )
    nan_row = vecs[0].copy()
    nan_row[3] = np.nan
    vecs = np.vstack([vecs, nan_row])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        r["vec_id"]: r
        for r in kmeans_clusters(
            df, "embedding", "vec_id", precomputed_codebook=mat
        ).collect()
    }

    want = np.argmax(_nearest_cells(pd.Series(list(vecs)), _quantize(mat)), 1)
    assert [got[i]["cluster"] for i in range(len(vecs))] == want.tolist()
    # the tie really happened and went to the first of the two cells
    assert got[len(vecs) - 3]["cluster"] == 1
    assert 4 not in {r["cluster"] for r in got.values()}
    assert got[len(vecs) - 1]["cluster"] == 0  # NaN row: first max

    norms = np.maximum(np.linalg.norm(vecs, axis=1), 1e-12)
    sims = np.einsum("ij,ij->i", vecs, mat[want]) / norms
    for i in range(len(vecs) - 1):
        assert got[i]["centroid_sim"] == pytest.approx(
            np.round(sims[i], 6), abs=1.01e-6
        )


def _q27_corpus(spark, sf_dir):
    from lsdm_motogp_data_integration_spark.sources import read_table

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    dups = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    return e.unionByName(dups)


def _semdedup_join_reference(df, vec_col, id_col, n_clusters, n_iters,
                             threshold):
    """The pre-rewrite formulation: the id-keyed cluster assignment
    joined back onto the corpus."""
    from lsdm_motogp_data_integration_spark.operators.ann import (
        kmeans_clusters,
    )
    from lsdm_motogp_data_integration_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    df = df.filter(F.col(vec_col).isNotNull())
    clusters = kmeans_clusters(
        df, vec_col, id_col, n_clusters=n_clusters, n_iters=n_iters
    ).select(id_col, "cluster")
    with_c = df.join(clusters, id_col)
    pairs = embedding_neardup_pairs(
        with_c, vec_col, id_col, block_col="cluster", threshold=threshold
    )
    dups = pairs.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    return (
        with_c.select(F.col(id_col), F.col("cluster"))
        .join(dups.withColumnRenamed("id_b", id_col), id_col, "left")
        .withColumn("keep", F.col("dup_of").isNull())
    )


def test_semdedup_projection_matches_join_reference(spark, sf_dir):
    from lsdm_motogp_data_integration_spark.operators.dedup import semdedup

    corpus = _q27_corpus(spark, sf_dir)
    cols = ["vec_id", "cluster", "dup_of", "keep"]
    new = semdedup(
        corpus, "embedding", "vec_id", n_clusters=8, n_iters=2,
        threshold=0.99,
    )
    ref = _semdedup_join_reference(corpus, "embedding", "vec_id", 8, 2, 0.99)
    assert new.columns == ref.columns == cols
    got = sorted(tuple(r) for r in new.collect())
    assert got == sorted(tuple(r) for r in ref.collect())
    assert any(r[2] is not None for r in got)  # some duplicates marked


def test_q27_plan_has_no_python_eval_and_no_id_self_join(spark, sf_dir):
    """The executed plan carries no Python-eval node, and no inner join
    keyed on ``vec_id`` (the old assignment-to-corpus join, which the
    pair scan's two sides each repeated). The one ``vec_id``-keyed join
    left is the left-outer attach of the ``dup_of`` marks."""
    import __spark_entry__ as entry

    df = entry.q27_embedding_neardup(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    id_joins = re.findall(
        r"(\w*Join) \[vec_id#\d+L?\], \[vec_id#\d+L?\], (\w+)", plan
    )
    assert id_joins and all(kind == "LeftOuter" for _, kind in id_joins)


@pytest.mark.parametrize("x", [1e20, 1e300, -1e300, float("inf")])
def test_cast_dec12_out_of_range_raises_explained(x):
    from lsdm_motogp_data_integration_spark.operators.ann import _cast_dec12

    with pytest.raises(ArithmeticError, match=r"overflows decimal\(28,12\)"):
        _cast_dec12(x)


def test_size_bytes_units_and_garbage(spark, sf_dir, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    from lsdm_motogp_data_integration_spark.operators.dedup import (
        _estimated_scan_width,
        _size_bytes,
    )

    assert _size_bytes("1t") == 1 << 40
    assert _size_bytes("2TB") == 2 << 40
    assert _size_bytes("1p") == _size_bytes("1pb") == 1 << 50
    assert _size_bytes("128m") == 128 << 20
    assert _size_bytes("4194304") == 4194304
    assert _size_bytes("lots") is None

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1t")
        assert _estimated_scan_width(df) >= 1
    finally:
        spark.conf.set(key, old)
    # Spark validates this conf on set, so feed the garbage through
    # the getter: the estimate must hand over to the exact probe
    real_get = RuntimeConfig.get
    monkeypatch.setattr(
        RuntimeConfig,
        "get",
        lambda self, k, *a: "garbage" if k == key else real_get(self, k, *a),
    )
    assert _estimated_scan_width(df) is None


def test_broadcast_frequent_rejects_unknown_string(spark):
    from lsdm_motogp_data_integration_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    df = spark.createDataFrame([(1, "a\nb")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="True, False or 'auto'"):
        remove_boilerplate_lines(df, broadcast_frequent="Auto")
