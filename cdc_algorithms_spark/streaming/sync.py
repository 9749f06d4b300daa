"""Incremental delta-sync against a content-addressed store (foreachBatch).

The streaming twin of ``operators/diff.py::sync_plan``: the new
snapshot's chunks arrive as a stream, and each micro-batch settles
against a persistent chunk store — identities the old snapshot already
holds cost nothing (``reused_old``), first-seen new identities are
"shipped" (``transfer``) and added to the store, every other occurrence
of a new identity deduplicates within the transfer (``dedup_new``)
whether it repeats inside one batch or across batches. ``foreachBatch``
is the right tool because each batch must both read and extend the
store — a sink with feedback, which pure streaming operators can't
express.

Store rows carry their origin ('old' seed vs 'new' added mid-run) so the
reused/dedup split is batch-boundary-invariant and the converged totals
equal the batch plan's — the DuckDB oracle for the batch sync_plan
(global totals form) checks this stream exactly.

Store layout: ``(chunk_text, origin, batch_id)`` rows, the storeio
epoch-store layout with one kind: the old snapshot is the base
``seed`` and micro-batch ``<id>`` lands in ``seed_delta/epoch=<id>``.
Each micro-batch reads the live store as two scans (the base, and the
delta root filtered on ``epoch``), with no key pruning, so the bytes
read grow with the store until ``api.compact_stream_store`` folds the
epochs into the seed. Metrics are 1-row-per-batch writes
(``metrics_dir/batch_<id>``) — no driver-side accumulation.

Recovery semantics: foreachBatch is at-least-once — after a failure the
last uncommitted batch REPLAYS with the same batch_id — so both sinks
are epoch-keyed overwrites and the store read excludes the current
batch_id. Replay rewrites the same files instead of appending
duplicates; totals are exactly-once.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.storeio import epoch_dir, read_live


def sync_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    metrics_dir: str,
    batch_id: int = 0,
) -> None:
    """Settle one micro-batch of chunks against the store — IDEMPOTENT
    per ``batch_id``.

    ``batch`` needs columns (chunk_text, length). Writes first-seen
    identities to ``store_dir/seed_delta/epoch=<id>`` and one metrics row to
    ``metrics_dir/batch_<id>``, both with ``mode("overwrite")``: after a
    failure, Structured Streaming REPLAYS the last uncommitted batch
    with the same batch_id, so an append sink would double-count its
    metrics and duplicate its store rows. The epoch-keyed overwrite
    makes the replay a no-op-equivalent rewrite, and the store read
    EXCLUDES the current batch_id's epoch so a half-written
    first attempt can't make its own identities look pre-existing
    (which would flip transfer→reused and corrupt the totals).
    """
    per_key = batch.groupBy("chunk_text").agg(
        F.sum("length").alias("bytes_all"),
        F.max("length").alias("bytes_one"),
    )
    # exclude the current batch's epoch with a PARTITION filter, not a
    # data filter: the overwrite below deletes epoch=<id>'s files, and
    # if they were in this read's lineage a post-failure recompute (lost
    # executor between the metrics and store writes) would re-read files
    # the overwrite just removed — FileNotFound in exactly the recovery
    # path this sink exists to survive. The partition filter prunes the
    # epoch at planning, so its files never enter the scan.
    store = read_live(spark, store_dir, "seed", exclude=batch_id)
    classified = per_key.join(store, "chunk_text", "left").persist()
    unseen = F.col("origin").isNull()
    metrics = classified.agg(
        F.coalesce(F.sum("bytes_all"), F.lit(0)).cast("long").alias("total_bytes"),
        F.coalesce(
            F.sum(F.when(F.col("origin") == "old", F.col("bytes_all"))), F.lit(0)
        ).cast("long").alias("reused_old_bytes"),
        F.coalesce(F.sum(F.when(unseen, F.col("bytes_one"))), F.lit(0))
        .cast("long")
        .alias("transfer_bytes"),
        F.coalesce(
            F.sum(
                F.when(unseen, F.col("bytes_all") - F.col("bytes_one")).when(
                    F.col("origin") == "new", F.col("bytes_all")
                )
            ),
            F.lit(0),
        ).cast("long").alias("dedup_new_bytes"),
    )
    try:
        metrics.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(metrics_dir, f"batch_{batch_id}"))
        classified.where(unseen).select(
            "chunk_text",
            F.lit("new").alias("origin"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        ).write.mode("overwrite").parquet(
            epoch_dir(spark, store_dir, "seed", batch_id)
        )
    finally:
        classified.unpersist()


def run_incremental_sync(
    spark: SparkSession,
    old_chunks: DataFrame,
    new_chunk_stages: list[DataFrame],
    workdir: str,
) -> DataFrame:
    """Seed the store with the old snapshot's identities, stream the new
    snapshot's chunks through ``sync_batch``, return total transfer
    metrics (1 row). Which occurrence of a duplicate set ships is
    arrival-order-dependent; the byte totals are not (identical text has
    identical length), so the converged totals are deterministic."""
    if not new_chunk_stages:
        raise ValueError("need at least one new-chunk stage")
    store_dir = os.path.join(workdir, "store")
    metrics_dir = os.path.join(workdir, "metrics")
    # a reused workdir must not leak a prior run's epochs into this
    # run's store or totals (both are per-batch-id directories, so
    # overwriting the seed alone would not clear them)
    shutil.rmtree(metrics_dir, ignore_errors=True)
    shutil.rmtree(store_dir, ignore_errors=True)
    old_chunks.select("chunk_text").distinct().select(
        "chunk_text",
        F.lit("old").alias("origin"),
        F.lit(-1).cast("long").alias("batch_id"),
    ).write.mode("overwrite").parquet(os.path.join(store_dir, "seed"))

    in_dir = tempfile.mkdtemp(prefix="cdc_sync_in_")
    try:
        new_chunk_stages[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(new_chunk_stages[0].schema).parquet(in_dir)
        query = (
            stream.writeStream.foreachBatch(
                lambda b, bid: sync_batch(spark, b, store_dir, metrics_dir, bid)
            )
            .outputMode("append")
            .start()
        )
        try:
            query.processAllAvailable()
            for stage in new_chunk_stages[1:]:
                stage.write.mode("append").parquet(in_dir)
                query.processAllAvailable()
        finally:
            query.stop()
            query.awaitTermination()
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)

    return spark.read.parquet(os.path.join(metrics_dir, "*")).agg(
        F.sum("total_bytes").cast("long").alias("total_bytes"),
        F.sum("reused_old_bytes").cast("long").alias("reused_old_bytes"),
        F.sum("transfer_bytes").cast("long").alias("transfer_bytes"),
        F.sum("dedup_new_bytes").cast("long").alias("dedup_new_bytes"),
    )

