"""Band-store lifecycle growth sweep: 8 simulated ingest batches.

Splits the sf documents table into 8 ingest batches (doc_id mod 8,
arriving in order), runs the full continuous-crawl cycle per batch
(`dedup.incremental_dedup_against_store`: semi-join-pruned store read →
flag → survivors-only append), and measures what the long-lived asset
does: store rows, parquet file count, flagged duplicates, and per-batch
wall time. Then compacts (coalescing the 8 appends' files into one) and
re-times a probe batch against the compacted store.

The numbers to read: (a) per-batch wall time should stay ~flat as the
store grows 8× — the batch side of the join is constant; (b) the flat
store layout adds one file per append write task (one per append at
this size), and compaction collapses them to one; (c) flagged counts
reflect real cross-batch duplicates in the synthetic corpus.

Usage: python tools/band_store_growth.py   (sf dir from
SPARK_GRAFT_SF_DIR, default sf0.1)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from social_media_data_pipeline_spark import io as eio  # noqa: E402
from social_media_data_pipeline_spark import scale  # noqa: E402
from social_media_data_pipeline_spark.operators import dedup as ddp  # noqa: E402
from social_media_data_pipeline_spark.session import get_spark  # noqa: E402

N_BATCHES = 8


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("band-store-growth")
    docs = eio.read_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="band_store_growth_")
    store = os.path.join(work, "bands")
    kept_dir = os.path.join(work, "kept")

    batches = [
        docs.filter(F.col("doc_id") % N_BATCHES == i).localCheckpoint(eager=True)
        for i in range(N_BATCHES)
    ]
    rows = []
    total_flagged = 0
    for i, batch in enumerate(batches):
        kept_path = os.path.join(kept_dir, f"upto_{i}")
        if i == 0:
            history = batch.limit(0)
        else:
            history = spark.read.parquet(os.path.join(kept_dir, f"upto_{i - 1}"))
        t0 = time.time()
        flagged = ddp.incremental_dedup_against_store(
            batch, history, store, "doc_id", "text"
        )
        n_flagged = flagged.count()
        dt = round(time.time() - t0, 3)
        total_flagged += n_flagged
        survivors = batch.join(flagged.select("doc_id"), "doc_id", "left_anti")
        history.unionByName(survivors).write.mode("overwrite").parquet(kept_path)
        store_rows = ddp.band_store_read(spark, store).count()
        store_files = len(scale.read_store(store)[0])
        rows.append(
            {
                "batch": i,
                "batch_docs": batch.count(),
                "flagged": n_flagged,
                "secs": dt,
                "store_rows": store_rows,
                "store_files": store_files,
            }
        )
        print(json.dumps(rows[-1]))

    # probe timing against the grown, fragmented store (batch 0 replayed
    # read-only: no append, pure flag cost)
    t0 = time.time()
    ddp.incremental_dedup_against_store(
        batches[0],
        spark.read.parquet(os.path.join(kept_dir, f"upto_{N_BATCHES - 1}")),
        store,
        "doc_id",
        "text",
        append_survivors=False,
    ).count()
    probe_fragmented = round(time.time() - t0, 3)

    t0 = time.time()
    stats = ddp.band_store_compact(spark, store)
    compact_secs = round(time.time() - t0, 3)

    t0 = time.time()
    ddp.incremental_dedup_against_store(
        batches[0],
        spark.read.parquet(os.path.join(kept_dir, f"upto_{N_BATCHES - 1}")),
        store,
        "doc_id",
        "text",
        append_survivors=False,
    ).count()
    probe_compacted = round(time.time() - t0, 3)

    print(
        json.dumps(
            {
                "total_flagged": total_flagged,
                "first_batch_secs": rows[0]["secs"],
                "last_batch_secs": rows[-1]["secs"],
                "growth_ratio_secs": round(rows[-1]["secs"] / rows[0]["secs"], 2),
                "compact": stats,
                "compact_secs": compact_secs,
                "probe_fragmented_secs": probe_fragmented,
                "probe_compacted_secs": probe_compacted,
            }
        )
    )
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
