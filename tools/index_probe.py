"""Persisted-index serving probe (r4): evidence that the
train-once/assign-once/search-many split actually pays at scale.

At 1× and ~20× the sf0.1 embeddings corpus, measures:

- ``ivf_inline``  — ivf_topk end to end (Lloyd training + corpus
  assignment + search) — what a naive caller pays PER QUERY BATCH;
- ``ivf_build``   — train + save_codebook + build_ivf_index (the
  once-per-corpus cost);
- ``ivf_serve``   — ivf_topk_from_index against the saved artifacts
  (the per-query-batch cost after the split);
- same trio for PQ (codes index + ADC serving).

The claim being tested: serve << inline at every scale, and serve
scales with the PROBED cells / stored codes, not with training. The
cell-partitioned IVF layout also gets dynamic partition pruning on
disk — only nprobe/n_cells of the index directories are read.

Usage: python tools/index_probe.py [replicas]  (default 20)
Emits one JSON line consumed into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lsdm_motogp_data_integration_spark.operators.ann import (
    _pq_fit,
    _train_centroids,
    build_ivf_index,
    build_pq_index,
    ivf_topk,
    ivf_topk_from_index,
    pq_topk,
    pq_topk_from_index,
    save_codebook,
)
from lsdm_motogp_data_integration_spark.session import get_spark
from tools.scale_probe import scaled_embeddings, timed


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("index_probe")
    spark.range(100).count()
    work = tempfile.mkdtemp(prefix="index_probe_")
    r: dict = {"replicas": replicas}
    try:
        for scale, n_rep in (("1x", 1), (f"{replicas}x", replicas)):
            emb = scaled_embeddings(spark, n_rep).localCheckpoint(
                eager=True
            )
            q = emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
            n = emb.count()
            print(f"{scale}: {n} vectors", flush=True)
            s = {"n_vecs": n}

            s["ivf_inline_s"], _ = timed(
                f"ivf_inline_{scale}",
                lambda: ivf_topk(
                    emb, q, "embedding", "vec_id", "query_id",
                    "query_vec", k=5, n_cells=16, nprobe=3,
                ),
            )
            cb = f"{work}/ivf_cb_{scale}"
            ix = f"{work}/ivf_ix_{scale}"
            t0 = time.time()
            mat = _train_centroids(emb, "embedding", "vec_id", 16, 2, None)
            save_codebook(mat, spark, cb)
            build_ivf_index(
                emb, "embedding", "vec_id", path=ix, codebook=mat
            )
            s["ivf_build_s"] = round(time.time() - t0, 3)
            print(f"  ivf_build_{scale}: {s['ivf_build_s']}s", flush=True)
            s["ivf_serve_s"], _ = timed(
                f"ivf_serve_{scale}",
                lambda: ivf_topk_from_index(
                    spark, ix, q, "embedding", "vec_id", "query_id",
                    "query_vec", codebook=cb, k=5, nprobe=3,
                ),
            )

            s["pq_inline_s"], _ = timed(
                f"pq_inline_{scale}",
                lambda: pq_topk(
                    emb, q, "embedding", "vec_id", "query_id",
                    "query_vec", k=5, n_subspaces=2, n_codes=8,
                    n_iters=1, train_sample=256,
                ),
            )
            pcb = f"{work}/pq_cb_{scale}"
            pix = f"{work}/pq_ix_{scale}"
            t0 = time.time()
            books, _ = _pq_fit(
                emb, "embedding", "vec_id", 2, 8, 1, 256
            )
            save_codebook(books, spark, pcb)
            build_pq_index(
                emb, "embedding", "vec_id", path=pix, codebooks=books
            )
            s["pq_build_s"] = round(time.time() - t0, 3)
            print(f"  pq_build_{scale}: {s['pq_build_s']}s", flush=True)
            s["pq_serve_s"], _ = timed(
                f"pq_serve_{scale}",
                lambda: pq_topk_from_index(
                    spark, pix, q, "vec_id", "query_id", "query_vec",
                    codebooks=pcb, k=5,
                ),
            )
            r[scale] = s
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import os

    r["load_avg"] = list(os.getloadavg())
    print(json.dumps(r), flush=True)


if __name__ == "__main__":
    main()
