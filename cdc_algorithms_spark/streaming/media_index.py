"""Streaming maintenance of the media perceptual-fingerprint index
(foreachBatch) — the multimodal twin of streaming/near_dup.py, closing
the tier's standing-pipeline loop: new media stream in, each micro-batch
fingerprints its payloads ONCE (the only Python pass), probes the
persisted fingerprint store for perceptual near-dups touching the batch,
emits the verified ``(id_a, id_b, hamming)`` pairs, and extends the
store before the next batch arrives.

Convergence contract (the oracle): a pair between two streamed media is
found exactly once — when the LATER one arrives, its bands probing a
store that already holds the earlier one — and corpus-batch pairs when
the batch lands; the union over batches equals the one-shot
:func:`~cdc_algorithms_spark.operators.media_dedup.media_fingerprint_pairs`
pairs touching the stream, however it was micro-batched. The
``streaming_media_phash_index`` driver row shares the planted-clone
oracle of the batch form VERBATIM (byte-identical and stub-resized
clones MUST pair at hamming exactly 0 — the NN-composition invariance
theorem, media_dedup.py).

Scale posture: the store holds (media_id, phash) — 16 bytes per media,
payload bytes never re-read after the scan-side fingerprint pass;
banding is a pure projection at probe time so the store stays one row
per media. The store is a storeio epoch store — the seed media are
the base ``seed`` and micro-batch ``<id>`` overwrites
``seed_delta/epoch=<id>`` — so at-least-once replay stays idempotent,
and the shared manifest-guarded OPTIMIZE (api.compact_stream_store)
folds the epochs into the seed between micro-batches exactly like the
near-dup loop.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from cdc_algorithms_spark.operators.storeio import epoch_dir, read_live


def media_phash_batch(
    spark: SparkSession,
    batch_media: DataFrame,
    fps_dir: str,
    pairs_dir: str,
    batch_id: int,
    max_hamming: int = 3,
) -> None:
    """Settle one micro-batch of (media_id, content) media — IDEMPOTENT
    per ``batch_id``: fingerprint the batch once, probe the persisted
    fingerprint store (current epoch excluded by a partition filter — see
    streaming/sync.py::sync_batch for the replay-after-partial-write
    rationale), write the batch's pairs to ``pairs_dir/batch_<id>``,
    then extend the store under the same epoch key."""
    from cdc_algorithms_spark.operators.media_dedup import (
        incremental_media_phash_pairs,
        media_fingerprints,
    )

    index = read_live(spark, fps_dir, "seed", exclude=batch_id)
    fps = media_fingerprints(batch_media).persist()
    try:
        pairs = incremental_media_phash_pairs(
            index, fps, max_hamming=max_hamming
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch_{batch_id}")
        )
        fps.write.mode("overwrite").parquet(
            epoch_dir(spark, fps_dir, "seed", batch_id)
        )
    finally:
        fps.unpersist()


def run_streaming_media_phash_index(
    spark: SparkSession,
    seed_media: DataFrame,
    batch_stages: list[DataFrame],
    workdir: str,
    max_hamming: int = 3,
    compact_after: set[int] | None = None,
) -> DataFrame:
    """Seed the fingerprint store from ``seed_media``, stream the
    stages' (media_id, content) rows through :func:`media_phash_batch`,
    and return the accumulated pairs (id_a, id_b, hamming). media_ids
    must be unique across seed and stages. ``compact_after`` (stage
    indices) folds the store between micro-batches via the shared
    manifest-guarded OPTIMIZE."""
    from cdc_algorithms_spark.api import compact_stream_store
    from cdc_algorithms_spark.operators.media_dedup import media_fingerprints

    if not batch_stages:
        raise ValueError("need at least one batch stage")
    fps_dir = os.path.join(workdir, "phash")
    pairs_dir = os.path.join(workdir, "pairs")
    for d in (fps_dir, pairs_dir):
        shutil.rmtree(d, ignore_errors=True)
    media_fingerprints(seed_media).write.parquet(
        os.path.join(fps_dir, "seed")
    )
    os.makedirs(pairs_dir, exist_ok=True)

    narrow = [s.select("media_id", "content") for s in batch_stages]
    in_dir = tempfile.mkdtemp(prefix="cdc_mediastream_in_")
    try:
        narrow[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(narrow[0].schema).parquet(in_dir)
        query = (
            stream.writeStream.foreachBatch(
                lambda b, bid: media_phash_batch(
                    spark, b, fps_dir, pairs_dir, bid,
                    max_hamming=max_hamming,
                )
            )
            .outputMode("append")
            .start()
        )
        try:
            def _maybe_compact(stage_i: int) -> None:
                if compact_after and stage_i in compact_after:
                    compact_stream_store(spark, fps_dir)

            query.processAllAvailable()
            _maybe_compact(0)
            for i, stage in enumerate(narrow[1:], start=1):
                stage.write.mode("append").parquet(in_dir)
                query.processAllAvailable()
                _maybe_compact(i)
        finally:
            query.stop()
            query.awaitTermination()
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)

    return spark.read.parquet(os.path.join(pairs_dir, "*"))
