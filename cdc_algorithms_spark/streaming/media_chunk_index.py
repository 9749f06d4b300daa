"""Streaming maintenance of a durable media CHUNK-OVERLAP index
(foreachBatch) — the missing standing form of the media dedup tier's
second family: perceptual fingerprints got their store in
streaming/media_index.py; this gives CDC chunk-set Broder resemblance
(operators/media_dedup.py::media_chunk_overlap_pairs) the same
extend/compact/probe lifecycle, so a standing media-ingest pipeline
never re-chunks the resident corpus.

Everything is the r10 Jaccard-store machinery verbatim
(operators/dedup_docs.py write/extend/compact/probe verbs) run over
``media_chunk_elements`` — per-media DISTINCT 8-byte BLAKE2b chunk
identities instead of text shingles. That reuse is sound because the
prefix-filter theorem is about SETS under a frozen total order, not
about strings: the frozen order here is ``(df_base(ck) or 0, ck)`` over
chunk keys, batches rank never-seen keys rarest exactly like probes do,
and exact verification (``|A∩B| / |A∪B|`` over full chunk-key sets)
decides membership — so a probe over the live store returns EXACTLY
the chunk-overlap pairs the one-shot batch operator finds, and the
``streaming_media_chunk_index`` driver row shares the batch
planted-clone oracle VERBATIM (byte-identical payloads chunk
identically ⇒ jaccard exactly 1.0).

Scale posture: each micro-batch's payload bytes are chunked ONCE in the
scan-side Arrow UDF (the only Python pass — pinned in
tests/test_plans.py); only 8-byte keys enter the store, bucket-
partitioned so probes statically prune to the batch's own key buckets;
per-epoch overwrite keeps at-least-once replay idempotent; mid-stream
compaction (manifest-guarded, storeio) bounds the epoch files the
probe lists. The resident corpus is never re-read.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def run_streaming_media_chunk_index(
    spark: SparkSession,
    seed_media: DataFrame,
    batch_stages: list[DataFrame],
    index_path: str,
    algo: str = "ae",
    expected_size: int = 320,
    threshold: float = 0.3,
    compact_after_stage: int | None = 0,
) -> str:
    """Build + write the base chunk-key index on ``seed_media``
    (media_id, content), then stream the stages through
    ``extend_jaccard_index`` over their chunk elements, one micro-batch
    per stage, compacting after stage ``compact_after_stage`` (None →
    never) while the stream is quiesced. Returns ``index_path`` ready
    for :func:`incremental_media_chunk_pairs`. media_ids must be unique
    across seed and stages."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        compact_jaccard_index,
        extend_jaccard_index,
        jaccard_prefix_index,
        write_jaccard_index,
    )
    from cdc_algorithms_spark.operators.media_dedup import (
        media_chunk_elements,
    )

    if not batch_stages:
        raise ValueError("need at least one batch stage")
    shutil.rmtree(index_path, ignore_errors=True)
    index = jaccard_prefix_index(
        None,
        threshold=threshold,
        elements=media_chunk_elements(seed_media, algo, expected_size),
    )
    write_jaccard_index(index, index_path)
    index[1].unpersist()  # the build's persisted sets frame has served

    in_dir = tempfile.mkdtemp(prefix="cdc_mediachunk_in_")
    try:
        narrow = [s.select("media_id", "content") for s in batch_stages]
        narrow[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(narrow[0].schema).parquet(in_dir)
        query = (
            stream.writeStream.foreachBatch(
                lambda b, bid: extend_jaccard_index(
                    spark, index_path, None, bid,
                    threshold=threshold,
                    elements=media_chunk_elements(b, algo, expected_size),
                )
            )
            .outputMode("append")
            .start()
        )
        try:
            query.processAllAvailable()
            for i, stage in enumerate(narrow[1:], start=1):
                if (
                    compact_after_stage is not None
                    and i - 1 == compact_after_stage
                ):
                    # stream quiesced between processAllAvailable calls
                    compact_jaccard_index(spark, index_path)
                stage.write.mode("append").parquet(in_dir)
                query.processAllAvailable()
        finally:
            query.stop()
            query.awaitTermination()
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
    return index_path


def incremental_media_chunk_pairs(
    spark: SparkSession,
    index_path: str,
    batch_media: DataFrame,
    algo: str = "ae",
    expected_size: int = 320,
    threshold: float = 0.3,
) -> DataFrame:
    """(id_a, id_b, jaccard) chunk-overlap pairs TOUCHING the batch —
    batch-vs-store and batch-vs-batch, never store-vs-store: the batch's
    payloads are chunked once, their 8-byte keys probe the LIVE store
    (base ∪ unfolded extend epochs, bucket-pruned), and exact chunk-set
    verification decides membership. media_ids must be disjoint from
    the store's."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        incremental_jaccard_pairs_indexed,
        read_jaccard_index_live,
    )
    from cdc_algorithms_spark.operators.media_dedup import (
        media_chunk_elements,
    )

    return incremental_jaccard_pairs_indexed(
        read_jaccard_index_live(spark, index_path),
        None,
        threshold=threshold,
        elements=media_chunk_elements(batch_media, algo, expected_size),
    )
