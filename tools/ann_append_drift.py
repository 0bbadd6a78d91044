"""Recall drift of a FROZEN IVF-PQ index under appends (r10): quantify
when encoding new batches with frozen artifacts (no retrain) stops
being free.

Protocol: train centroids + residual codebook on the FIRST HALF of the
sf0.1 embedding corpus (the base index), then grow the corpus in 25%
steps encoding each batch with the FROZEN artifacts. At every corpus state, measure recall@5 of
the 4-probe residual search against brute-force truth ON THAT corpus —
frozen vs a fully RETRAINED index at the same state. The gap is the
price of not rebuilding; where it exceeds the tolerance is the rebuild
trigger a production deployment sets.

Usage: python tools/ann_append_drift.py [n_queries] [k]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from social_media_data_pipeline_spark import io as eio  # noqa: E402
from social_media_data_pipeline_spark.functions import kmeans as ekm  # noqa: E402
from social_media_data_pipeline_spark.functions import pq as epq  # noqa: E402
from social_media_data_pipeline_spark.functions import similarity as sim  # noqa: E402
from social_media_data_pipeline_spark.session import get_spark  # noqa: E402

sys.path.insert(0, os.path.join(REPO, "tools"))
from ann_recall import recall_at_k  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("ann-append-drift")
    emb = eio.read_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    ).localCheckpoint()
    n = emb.count()
    base = emb.filter(F.col("vec_id") < n // 2).localCheckpoint()
    cents_f = ekm.kmeans_centroids(base, iters=5, corpus_size=n // 2)
    cb_f = epq.pq_codebook_kmeans(
        epq.residual_table(base, cents_f), m=8, ksub=16, iters=3,
        vec_col="__resid",
    )
    print(f"corpus {n}, base index on first {n // 2}; recall@{k}, "
          f"{n_queries} queries (half old, half newest)\n")
    print(f"{'corpus':>7} {'new_frac':>8} {'frozen':>7} {'retrained':>9} "
          f"{'gap':>6}")
    for frac in (0.5, 0.625, 0.75, 0.875, 1.0):
        m_rows = int(n * frac)
        cur = emb.filter(F.col("vec_id") < m_rows).localCheckpoint()
        # queries: half from the base corpus, half from the newest rows
        q_old = cur.filter(F.col("vec_id") < n_queries // 2)
        q_new = cur.filter(F.col("vec_id") >= m_rows - n_queries // 2)
        queries = q_old.unionByName(q_new).localCheckpoint()
        truth: dict[int, set] = {}
        for r in sim.brute_force_topk(queries, cur, k=k).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        frozen_codes = epq.pq_encode(
            epq.residual_table(cur, cents_f), cb_f, "vec_id", "__resid",
            keep_cols=["cluster"],
        )
        frozen = epq.ivf_pq_residual_topk(
            queries, cur, cents_f, k=k, probes=4,
            codebook=cb_f, codes=frozen_codes,
        )
        r_frozen = recall_at_k(truth, frozen.collect(), k)
        cents_r = ekm.kmeans_centroids(cur, iters=5, corpus_size=m_rows)
        retrained = epq.ivf_pq_residual_topk(
            cur_q := queries, cur, cents_r, m=8, ksub=16, iters=3,
            k=k, probes=4,
        )
        r_retrained = recall_at_k(truth, retrained.collect(), k)
        print(f"{m_rows:>7} {frac - 0.5:>8.3f} {r_frozen:>7.3f} "
              f"{r_retrained:>9.3f} {r_retrained - r_frozen:>6.3f}",
              flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
