"""Streaming maintenance of mergeable quantile sketches (foreachBatch).

The histogram sketches (operators/qsketch.py) merge EXACTLY — counts
are integers, merge-of-sketches == sketch-of-union bit-for-bit — so
their streaming form needs no arrival contract at all: each micro-batch
sketches ONLY its own rows into an epoch directory (overwrite per
epoch, replay-idempotent), and any reader folds the epochs with
``sketch_merge`` on demand. Disorder, re-batching, and replay cannot
change the converged sketch, which is why the batch query's DuckDB
oracle applies verbatim to the streamed result
(``streaming_value_quantile_sketch``).

This completes the pattern: every durable artifact in the package —
near-dup band index, PQ codes, ingest manifests, and now quantile
sketches — has (a) a one-shot build, (b) an epoch-keyed streaming
extension, and (c) a fold-the-epochs read. The store is a seedless
storeio epoch store — micro-batch ``<id>`` overwrites
``seed_delta/epoch=<id>`` — read through ``storeio.read_epochs`` as one
relation; it is never compacted (sketch rows are row-mergeable on read,
and ``sketch_merge`` folds them there).

Scale posture: per-batch work is one (group, bucket) aggregate over the
batch alone; the persisted state is #groups × few-hundred-byte rows per
epoch; reads touch only sketch rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from cdc_algorithms_spark.operators.storeio import epoch_dir, read_epochs


def run_streaming_quantile_sketch(
    spark: SparkSession,
    batch_stages: list[DataFrame],
    store_dir: str,
    group_cols: list[str],
    value_col: str,
    lo: int,
    hi: int,
    buckets: int = 64,
) -> DataFrame:
    """Stream the stages through a per-epoch sketch writer and return
    the folded per-group sketch rows (``sketch_merge`` over every
    epoch) — bit-identical to one-shot sketching of the union."""
    from cdc_algorithms_spark.operators.qsketch import (
        histogram_sketch,
        sketch_merge,
    )

    if not batch_stages:
        raise ValueError("need at least one batch stage")
    shutil.rmtree(store_dir, ignore_errors=True)
    os.makedirs(store_dir, exist_ok=True)

    def sketch(batch: DataFrame) -> DataFrame:
        return histogram_sketch(batch, group_cols, value_col, lo, hi, buckets)

    def settle(batch: DataFrame, batch_id: int) -> None:
        sketch(batch).write.mode("overwrite").parquet(
            epoch_dir(spark, store_dir, "seed", batch_id)
        )

    in_dir = tempfile.mkdtemp(prefix="cdc_qsketch_in_")
    try:
        batch_stages[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(batch_stages[0].schema).parquet(
            in_dir
        )
        query = (
            stream.writeStream.foreachBatch(settle)
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

    schema = sketch(batch_stages[0]).schema
    return sketch_merge(read_epochs(spark, store_dir, "seed", schema), group_cols)


def run_streaming_quantile_sketch_log(
    spark: SparkSession,
    batch_stages: list[DataFrame],
    store_dir: str,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """The BOUNDLESS twin: same epoch-store discipline with the log₂
    grid (operators/qsketch.py::histogram_sketch_log). This is where
    the universal grid earns its keep in a standing pipeline — there is
    NO bounds parameter to agree on up front, so a batch whose values
    land orders of magnitude outside anything seen before still
    sketches and folds exactly (the auto-discovered linear grid is
    frozen at seed time and would clamp it). Shares the batch query's
    oracle verbatim, same as the linear streamed form."""
    from cdc_algorithms_spark.operators.qsketch import (
        histogram_sketch_log,
        sketch_merge,
    )

    if not batch_stages:
        raise ValueError("need at least one batch stage")
    shutil.rmtree(store_dir, ignore_errors=True)
    os.makedirs(store_dir, exist_ok=True)

    def sketch(batch: DataFrame) -> DataFrame:
        return histogram_sketch_log(batch, group_cols, value_col)

    def settle(batch: DataFrame, batch_id: int) -> None:
        sketch(batch).write.mode("overwrite").parquet(
            epoch_dir(spark, store_dir, "seed", batch_id)
        )

    in_dir = tempfile.mkdtemp(prefix="cdc_qsketchlog_in_")
    try:
        batch_stages[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(batch_stages[0].schema).parquet(
            in_dir
        )
        query = (
            stream.writeStream.foreachBatch(settle)
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

    schema = sketch(batch_stages[0]).schema
    return sketch_merge(read_epochs(spark, store_dir, "seed", schema), group_cols)


__all__ = [
    "run_streaming_quantile_sketch",
    "run_streaming_quantile_sketch_log",
]
