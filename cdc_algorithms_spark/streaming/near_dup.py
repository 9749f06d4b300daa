"""Streaming near-dup index maintenance (foreachBatch).

Closes ingest → near-dup-index → dedup as ONE continuous pipeline: new
documents stream in, each micro-batch probes the persisted MinHash band
index (operators/dedup_docs.py::minhash_band_index — per-document band
hashes, no corpus statistics, so the index is append-only), emits the
exact-Jaccard-verified near-dup pairs touching the batch, and extends
both the index and the document store before the next batch arrives.
``foreachBatch`` is the right tool for the same reason as
streaming/sync.py: each batch must both READ and EXTEND persistent
state — a sink with feedback.

Convergence contract (the oracle): pairs between two streamed docs are
found exactly once — when the LATER one arrives, its bands probing an
index that already holds the earlier one — and corpus-batch pairs when
the batch lands. The union over batches therefore equals the
pairs-touching-batch subset of the one-shot exact join over
corpus ∪ stream (the same DuckDB oracle as incremental_jaccard_pairs),
regardless of how the stream is micro-batched.

Scale posture: the band index holds (doc_id, band, band_hash) — ~tens
of bytes per document, 1/1000th of corpus bytes; the doc store is read
ONLY to verify candidate ids (semi-joined before shingling, see
_verify_exact_jaccard), so per-batch work is candidate-proportional,
never corpus-proportional. Both stores are storeio epoch stores: the
corpus is the base ``seed`` and micro-batch ``<id>`` overwrites
``seed_delta/epoch=<id>``, so foreachBatch's at-least-once replay
rewrites instead of double-appending, mirroring streaming/sync.py's
recovery semantics.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.storeio import epoch_dir, read_live


def near_dup_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    docs_dir: str,
    pairs_dir: str,
    batch_id: int,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int | None = None,
) -> None:
    """Settle one micro-batch of (doc_id, text) documents — IDEMPOTENT
    per ``batch_id``: probe the persisted band index, write the batch's
    verified pairs to ``pairs_dir/batch_<id>``, then extend the index
    and doc store under the same epoch key. The current batch's own
    epoch is excluded from the reads by a partition filter (see
    streaming/sync.py::sync_batch for why a data filter is not enough
    under replay-after-partial-write)."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        incremental_minhash_pairs,
        minhash_band_index,
    )

    index = read_live(spark, index_dir, "seed", exclude=batch_id)
    corpus = read_live(spark, docs_dir, "seed", exclude=batch_id)
    batch = batch.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    pairs = incremental_minhash_pairs(
        corpus,
        batch,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        corpus_index=index,
        max_bucket=max_bucket,
    )
    pairs.write.mode("overwrite").parquet(
        os.path.join(pairs_dir, f"batch_{batch_id}")
    )
    minhash_band_index(batch, n, num_hashes, bands).write.mode(
        "overwrite"
    ).parquet(epoch_dir(spark, index_dir, "seed", batch_id))
    batch.write.mode("overwrite").parquet(
        epoch_dir(spark, docs_dir, "seed", batch_id)
    )


def run_streaming_near_dup_index(
    spark: SparkSession,
    corpus: DataFrame,
    batch_stages: list[DataFrame],
    workdir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    compact_after: set[int] | None = None,
) -> DataFrame:
    """Seed the band index and doc store from ``corpus``, stream the
    stages' (doc_id, text) documents through :func:`near_dup_batch`,
    and return the accumulated near-dup pairs (id_a, id_b, jaccard).
    doc_ids must be unique across corpus and all stages.

    ``compact_after`` (stage indices) runs the store OPTIMIZE between
    micro-batches — api.compact_stream_store folds the index and doc
    epochs into their ``seed`` (manifest-guarded rename-first swap),
    bounding the files each later probe lists and opens exactly like
    compact_pq_index bounds the ANN probe's (§19); the pair stream is
    untouched and later batches probe the folded stores."""
    from cdc_algorithms_spark.api import compact_stream_store
    from cdc_algorithms_spark.operators.dedup_docs import minhash_band_index

    if not batch_stages:
        raise ValueError("need at least one batch stage")
    index_dir = os.path.join(workdir, "band_index")
    docs_dir = os.path.join(workdir, "docs")
    pairs_dir = os.path.join(workdir, "pairs")
    for d in (index_dir, docs_dir, pairs_dir):
        shutil.rmtree(d, ignore_errors=True)
    corpus = corpus.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    minhash_band_index(corpus, n, num_hashes, bands).write.parquet(
        os.path.join(index_dir, "seed")
    )
    corpus.write.parquet(os.path.join(docs_dir, "seed"))
    os.makedirs(pairs_dir, exist_ok=True)

    in_dir = tempfile.mkdtemp(prefix="cdc_neardup_in_")
    try:
        batch_stages[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(batch_stages[0].schema).parquet(in_dir)
        query = (
            stream.writeStream.foreachBatch(
                lambda b, bid: near_dup_batch(
                    spark, b, index_dir, docs_dir, pairs_dir, bid,
                    n=n, num_hashes=num_hashes, bands=bands,
                    threshold=threshold, max_bucket=max_bucket,
                )
            )
            .outputMode("append")
            .start()
        )
        try:
            def _maybe_compact(stage_i: int) -> None:
                if compact_after and stage_i in compact_after:
                    compact_stream_store(spark, index_dir)
                    compact_stream_store(spark, docs_dir)

            query.processAllAvailable()
            _maybe_compact(0)
            for i, stage in enumerate(batch_stages[1:], start=1):
                stage.write.mode("append").parquet(in_dir)
                query.processAllAvailable()
                _maybe_compact(i)
        finally:
            query.stop()
            query.awaitTermination()
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)

    return spark.read.parquet(os.path.join(pairs_dir, "*"))
