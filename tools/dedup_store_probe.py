"""Per-batch cost of the streaming semantic-dedup stores as the store
grows (round-5 verdict ask #7's 'store-size-vs-batch-time probe').

Feeds the sf0.1 embedding corpus through the foreachBatch bodies in
equal waves and times each batch: the coarse X512 store (k=8 whole-
cluster verify) against the ANN-routed store (fine k=64 codebook,
nprobe=2 probed cells). Run: python tools/dedup_store_probe.py [waves]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kafka_stream_spark.session import get_spark  # noqa: E402
from kafka_stream_spark.sources.tables import load  # noqa: E402


def main() -> None:
    waves = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("dedup-store-probe")
    spark.sparkContext.setLogLevel("ERROR")
    from kafka_stream_spark.operators.semdedup import train_centroids
    from kafka_stream_spark.streaming.pipeline import (
        semantic_dedup_batch_fn,
        semantic_dedup_routed_batch_fn,
    )

    emb = load(spark, "/root/testdata/sf0.1", "embeddings").localCheckpoint()
    n = emb.count()
    step = (n + waves - 1) // waves
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    tmp = tempfile.mkdtemp(prefix="dedup_probe_")
    results = {}
    for label, k, mk in (
        ("coarse_k8", 8, semantic_dedup_batch_fn),
        ("routed_k64_np2", 64, semantic_dedup_routed_batch_fn),
    ):
        cent_dir = f"{tmp}/cent_{label}"
        train_centroids(e, k=k).write.parquet(cent_dir)
        store, out = f"{tmp}/store_{label}", f"{tmp}/out_{label}"
        fn = mk(cent_dir, store, out)
        times = []
        for i in range(waves):
            wave = emb.filter(
                (F.col("vec_id") >= i * step) & (F.col("vec_id") < (i + 1) * step)
            )
            t0 = time.time()
            fn(wave, i)
            times.append(round(time.time() - t0, 2))
        results[label] = times
        print(f"{label}: {times}")
    print(
        "# ratio last/first:",
        {k: round(v[-1] / v[0], 2) for k, v in results.items()},
    )
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
