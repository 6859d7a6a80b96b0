"""Cross-engine portability of the integer-grid machinery.

The ANN-family oracles rest on one claim: floor(v·1e6) quantization +
md5-derived signs turn every signature/assignment decision into exact
integer arithmetic that Spark, numpy, and DuckDB reproduce bit-for-bit.
The driver checks that on fixture data; these tests attack it with
ADVERSARIAL floats — exact quantization-grid multiples (the floor
boundary), float32 denormals, negative zeros, sign flips, and
max-magnitude values — on freshly generated vectors, comparing the
Spark operators against an in-process DuckDB replay.

Finite values only: NaN ordering differs by design between numpy
comparisons (NaN > 0 is False) and DuckDB's total order (NaN is
greater than everything); embeddings with NaNs are invalid input to
these operators, not a supported case.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.operators.ann import (
    quantize_embeddings,
    signature_udf,
)

DIM = 8
N_PLANES = 4
N_TABLES = 2


def _adversarial_vectors() -> pd.DataFrame:
    rng = np.random.default_rng(7)
    rows = []
    # exact grid multiples: v*1e6 integral, floor boundary dead-on
    rows.append(np.arange(1, DIM + 1, dtype=np.float64) * 1e-6)
    rows.append(-np.arange(1, DIM + 1, dtype=np.float64) * 1e-6)
    # negative zero and mixed signs
    rows.append(np.array([-0.0, 0.0, -1e-6, 1e-6, -0.5, 0.5, -1.0, 1.0]))
    # float32 denormals / tiny magnitudes (quantize to 0 in both engines)
    rows.append(np.full(DIM, np.float32(1e-40), dtype=np.float64))
    # near-one magnitudes with full float32 mantissas
    rows.append(
        np.asarray(rng.uniform(-1, 1, DIM).astype(np.float32), np.float64)
    )
    for _ in range(20):
        rows.append(
            np.asarray(
                rng.normal(0, 0.3, DIM).astype(np.float32), np.float64
            )
        )
    return pd.DataFrame(
        {
            "vec_id": np.arange(len(rows), dtype=np.int64),
            # store as float32 — the embeddings column type
            "embedding": [r.astype(np.float32) for r in rows],
        }
    )


def _duck_with(pdf: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    arrow_ready = pdf.assign(embedding=pdf["embedding"].map(list))
    con.register("emb_pd", arrow_ready)
    con.execute(
        "CREATE TABLE emb AS SELECT vec_id, "
        "CAST(embedding AS FLOAT[]) AS embedding FROM emb_pd"
    )
    return con


def test_lsh_signature_matches_duckdb_replay(spark):
    pdf = _adversarial_vectors()
    sdf = spark.createDataFrame(
        pdf.assign(embedding=pdf["embedding"].map(list)),
        "vec_id long, embedding array<float>",
    )
    sig = signature_udf(N_PLANES, DIM, N_TABLES)
    got = {
        r["vec_id"]: list(r["sigs"])
        for r in sdf.select(
            "vec_id", sig(F.col("embedding")).alias("sigs")
        ).collect()
    }

    con = _duck_with(pdf)
    n_all = N_TABLES * N_PLANES
    rows = con.execute(f"""
        WITH planes AS (
            SELECT p.i AS plane, d.j AS dim_idx,
                   CASE WHEN substr(md5('hp|' || p.i || '|' || d.j), 1, 1)
                             >= '8' THEN 1 ELSE -1 END AS s
            FROM generate_series(0, {n_all - 1}) p(i),
                 generate_series(0, {DIM - 1}) d(j)
        ), comps AS (
            SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim_idx,
                   floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS qv
            FROM emb
        ), bits AS (
            SELECT c.vec_id, pl.plane,
                   CASE WHEN SUM(pl.s * c.qv) > 0 THEN 1 ELSE 0 END AS bit
            FROM comps c JOIN planes pl USING (dim_idx)
            GROUP BY c.vec_id, pl.plane
        )
        SELECT vec_id, plane // {N_PLANES} AS tbl,
               CAST(SUM(bit * (1 << (plane % {N_PLANES}))) AS BIGINT)
                   AS bucket
        FROM bits GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    want: dict[int, list[int]] = {}
    for vec_id, _tbl, bucket in rows:
        want.setdefault(vec_id, []).append(bucket)
    assert got == want


def test_quantize_matches_duckdb_replay(spark):
    pdf = _adversarial_vectors()
    sdf = spark.createDataFrame(
        pdf.assign(embedding=pdf["embedding"].map(list)),
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["scale"], r["qvec"], r["max_err"])
        for r in quantize_embeddings(sdf, "embedding", "vec_id").collect()
    }
    con = _duck_with(pdf)
    rows = con.execute("""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   greatest(list_max(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> abs(x)
                   )), 1e-30) / 127.0 AS scale
            FROM emb
        ), coded AS (
            SELECT vec_id, v, scale,
                   list_transform(v, x -> greatest(-127, least(127,
                       CAST(round(x / scale) AS INTEGER)))) AS q
            FROM base
        )
        SELECT vec_id, scale, array_to_string(q, ','),
               ROUND(list_max(list_transform(
                   list_zip(v, q),
                   p -> abs(p[1] - CAST(p[2] AS DOUBLE) * scale)
               )), 9)
        FROM coded
    """).fetchall()
    want = {r[0]: (r[1], r[2], r[3]) for r in rows}
    assert got == want


def test_kmeans_lloyd_replay_on_generated_vectors(spark):
    """The unrolled-Lloyd DuckDB replay (the q68 oracle machinery) must
    reproduce kmeans_clusters on FRESH random vectors, not just the
    fixture embeddings — guarding the portability claim against
    fixture luck. Reuses the ANN family's _lloyd_ctes/_cell_assign
    SQL generators at a different dim/cells/iters configuration."""
    from lsdm_motogp_data_integration_spark.operators.ann import (
        kmeans_clusters,
    )
    from lsdm_motogp_data_integration_spark.queries.ann import (
        _cell_assign,
        _lloyd_ctes,
    )

    rng = np.random.default_rng(21)
    dim, n, cells, iters = 6, 40, 4, 2
    vecs = rng.normal(0, 0.4, (n, dim)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs)}
    )
    sdf = spark.createDataFrame(
        pdf.assign(embedding=pdf["embedding"].map(list)),
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cluster"], r["centroid_sim"])
        for r in kmeans_clusters(
            sdf, "embedding", "vec_id", n_clusters=cells, n_iters=iters
        ).collect()
    }

    con = duckdb.connect()
    arrow_ready = pdf.assign(embedding=pdf["embedding"].map(list))
    con.register("emb_pd", arrow_ready)
    con.execute(
        "CREATE TABLE embeddings AS SELECT vec_id, "
        "CAST(embedding AS FLOAT[]) AS embedding FROM emb_pd"
    )
    sql = f"""
        WITH {_lloyd_ctes(iters, cells, dim=dim)},
        assigned AS {_cell_assign(f"c{iters}", "rn = 1")}
        SELECT e.vec_id, CAST(a.cell AS BIGINT) AS cluster,
               ROUND(list_dot_product(e.v, k.c)
                     / greatest(sqrt(list_dot_product(e.v, e.v)), 1e-12),
                     6) AS centroid_sim
        FROM qemb e
        JOIN assigned a USING (vec_id)
        JOIN c{iters} k ON k.cell = a.cell
    """
    want = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    assert got == want
