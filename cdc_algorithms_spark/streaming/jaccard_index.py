"""Streaming maintenance of the durable exact-Jaccard prefix index
(foreachBatch) — the near-dup twin of streaming/text_index.py.

The shingle index seeds on an initial corpus
(operators/dedup_docs.py::jaccard_prefix_index → write_jaccard_index);
new documents then stream in and each micro-batch lands as
bucket-partitioned ``sets``/``prefix`` epoch deltas
(extend_jaccard_index). The frozen total order — ``(df_base(shingle) or
0, shingle)`` — is a fixed function every generation sorts by, so ``df``
never has deltas and probes over the live store return EXACTLY the
pairs a one-shot ``incremental_jaccard_pairs`` over seed ∪ every batch
would: candidate sets differ only by the order (a superset under the
prefix-filter theorem, which holds for any fixed total order), and
exact verification decides membership. The ``streaming_jaccard_index``
driver row therefore shares the batch incremental-Jaccard oracle
verbatim — no approximation tier.

``foreachBatch`` + per-epoch overwrite keeps at-least-once replay
idempotent; a replay of an epoch compact_jaccard_index already folded
is dead via the ``_folded_epochs.json`` manifest (storeio machinery),
not double-counted — the same liveness rule as the text/PQ/DSIR stores.

Scale posture: per-batch work is batch-proportional — one shingle pass,
one df lookup statically pruned to the batch's own shingle buckets, two
batch-sized partitioned writes; the resident index is never re-read or
rewritten. Mid-stream compaction (exercised here between stages, with
the stream quiesced at a processAllAvailable boundary) bounds the
epoch files the probe lists.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def run_streaming_jaccard_index(
    spark: SparkSession,
    seed_docs: DataFrame,
    batch_stages: list[DataFrame],
    index_path: str,
    n: int = 3,
    threshold: float = 0.8,
    compact_after_stage: int | None = 0,
) -> str:
    """Build + write the base index on ``seed_docs``, then stream the
    stages' (doc_id, text) rows through :func:`extend_jaccard_index`,
    one micro-batch per stage, compacting the store after stage
    ``compact_after_stage`` (None → never) while the stream is quiesced
    between ``processAllAvailable`` calls. Returns ``index_path`` ready
    for ``incremental_jaccard_pairs_indexed`` over
    ``read_jaccard_index_live``. doc_ids must be unique across seed and
    stages."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        compact_jaccard_index,
        extend_jaccard_index,
        jaccard_prefix_index,
        write_jaccard_index,
    )

    if not batch_stages:
        raise ValueError("need at least one batch stage")
    shutil.rmtree(index_path, ignore_errors=True)
    index = jaccard_prefix_index(seed_docs, n=n, threshold=threshold)
    write_jaccard_index(index, index_path)
    index[1].unpersist()  # the build's persisted sets frame has served

    in_dir = tempfile.mkdtemp(prefix="cdc_jaccardstream_in_")
    try:
        batch_stages[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(batch_stages[0].schema).parquet(in_dir)
        query = (
            stream.writeStream.foreachBatch(
                lambda b, bid: extend_jaccard_index(
                    spark, index_path, b, bid, n=n, threshold=threshold
                )
            )
            .outputMode("append")
            .start()
        )
        try:
            query.processAllAvailable()
            for i, stage in enumerate(batch_stages[1:], start=1):
                if compact_after_stage is not None and i - 1 == compact_after_stage:
                    # stream quiesced (between processAllAvailable
                    # calls) — the compactor's reader contract
                    compact_jaccard_index(spark, index_path)
                stage.write.mode("append").parquet(in_dir)
                query.processAllAvailable()
        finally:
            query.stop()
            query.awaitTermination()
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
    return index_path
