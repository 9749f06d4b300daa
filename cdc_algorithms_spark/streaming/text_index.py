"""Streaming maintenance of the durable BM25 text index (foreachBatch).

The retrieval twin of streaming/ann_index.py: the posting index seeds
on an initial corpus (operators/retrieval.py::write_text_index); new
documents then stream in and each micro-batch is tokenized and appended
as a bucket-partitioned epoch delta plus an exact-count meta row
(extend_text_index). Probes (bm25_topk_indexed) read base + deltas with
the same statically pruned bucket scans.

Convergence contract — STRONGER than the ANN twin's: the PQ store's
streamed form equals a one-shot encode only because the model is
frozen; here there is no model at all. The index stores nothing but
exact counts, and the probe derives df and avgdl from what it reads, so
the streamed index answers every query BIT-IDENTICALLY to a one-shot
index over seed ∪ batches — and to the batch bm25_topk over the full
corpus. The ``streaming_bm25_index`` driver row therefore shares the
batch BM25 oracle verbatim (no recall floor, no approximation tier).

``foreachBatch`` + per-epoch overwrite keeps at-least-once replay
idempotent, same as every epoch store in this repo.

Scale posture: per-batch work is batch-proportional (one tokenize + one
bucket-hash exchange of the batch's postings); nothing resident is
re-read. Compaction (compact_text_index) bounds the epoch files the
probe lists, same economics as compact_pq_index (§19).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def run_streaming_text_index(
    spark: SparkSession,
    seed_docs: DataFrame,
    batch_stages: list[DataFrame],
    index_path: str,
    buckets: int | None = None,
) -> str:
    """Build + write the base index on ``seed_docs``, then stream the
    stages' (doc_id, text) rows through
    :func:`~cdc_algorithms_spark.operators.retrieval.extend_text_index`
    one micro-batch per stage. Returns ``index_path`` ready for
    ``bm25_topk_indexed``. doc_ids must be unique across seed and
    stages (a doc arrives exactly once — the dedup operators own the
    other case)."""
    from cdc_algorithms_spark.operators.retrieval import (
        extend_text_index,
        write_text_index,
    )

    if not batch_stages:
        raise ValueError("need at least one batch stage")
    shutil.rmtree(index_path, ignore_errors=True)
    write_text_index(seed_docs, index_path, buckets=buckets)

    in_dir = tempfile.mkdtemp(prefix="cdc_textstream_in_")
    try:
        batch_stages[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(batch_stages[0].schema).parquet(
            in_dir
        )
        query = (
            stream.writeStream.foreachBatch(
                lambda b, bid: extend_text_index(
                    spark, index_path, b, bid, buckets=buckets
                )
            )
            .outputMode("append")
            .start()
        )
        try:
            query.processAllAvailable()
            for stage in batch_stages[1:]:
                stage.write.mode("append").parquet(in_dir)
                query.processAllAvailable()
        finally:
            query.stop()
            query.awaitTermination()
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
    return index_path


__all__ = ["run_streaming_text_index"]
