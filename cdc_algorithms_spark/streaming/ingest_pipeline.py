"""End-to-end streaming ingest: near-dup dedup → keep → compaction
manifest, as ONE continuous foreachBatch pipeline.

Composes the two already-verified streaming pieces into the standing
ingest loop a training-data pipeline actually runs (the streaming
sibling of ``training_manifest``'s batch composition):

1. **Probe + extend the near-dup index** (streaming/near_dup.py's
   settle pattern): each micro-batch's MinHash bands probe the
   persisted band index, candidates are exact-Jaccard verified, and
   the index + doc store extend under the batch's epoch key.
2. **Greedy keep-first dedup**: a batch document is KEPT iff it pairs
   with no smaller-id document (corpus ids precede batch ids because
   arrival is id-ordered — the same monotone-arrival contract as the
   stateful funnel's ts ordering). Dropped docs still extend the
   index, so later chains (c dup-of b dup-of a) resolve exactly like
   the batch rule.
3. **Cross-batch compaction routing**: kept docs bin-pack into
   ~``target_bytes`` files per source with the SAME running-sum rule as
   ``compaction_plan`` — the carried per-source byte total is read back
   from the previously written manifest rows (state lives in the store,
   so replay of an epoch recomputes, never double-counts).

Convergence contract (the oracle): because arrival order is doc_id
order and every pair is discovered when its later member arrives, the
converged keep set equals "documents that are not the greater id of
any exact J≥t pair", and the converged manifest equals
``compaction_plan`` over exactly that keep set in doc_id order — one
plain SQL statement over the source table, regardless of how the
stream was micro-batched (within the id-ordered stage contract).

**The contract is ENFORCED, not assumed** (r07): each batch carries a
max-id watermark (one tiny row per epoch in ``wm_dir``; the carried
value is the max over previous epochs — a ≤#batches-row read, never a
corpus scan). A batch document at or below the watermark is OUT OF
ORDER — it is quarantined to ``quarantine_dir`` (with the watermark it
violated) instead of silently breaking the greedy-keep equivalence,
the same bounded-disorder-repaired-deterministically idea as the
reference's seam rule (ae.rs:33,74: a chunker never trusts unordered
input either — segment seams are re-derived, not assumed). Accepted
docs are therefore id-ordered across batches BY CONSTRUCTION, so the
convergence oracle holds over exactly the accepted set, and the
quarantine store accounts for every set-aside document. Re-admission:
a quarantined id is below the watermark FOREVER, so it re-enters under
a FRESH id above the current watermark (arrival-time identity — the
keep-first rule then stays exact with respect to actual arrival order,
with the late doc taking the LOWER priority its late arrival earned),
or through an offline batch recompute over corpus ∪ quarantine.
``on_late="error"`` turns detection into a hard failure for pipelines
that prefer to halt.

Scale posture: per-batch work is candidate-proportional (band-index
probe, semi-joined verification) plus one ≤#sources-row totals read;
nothing corpus-sized shuffles per batch. The band index, doc store,
watermark and manifest are storeio epoch stores: micro-batch ``<id>``
overwrites ``seed_delta/epoch=<id>`` (the index and doc store also have
a ``seed`` base; the watermark and manifest have none and read through
``storeio.read_epochs``). The pairs and quarantine sinks overwrite
``batch_<id>`` directories. So foreachBatch's at-least-once replay
rewrites instead of double-appending, exactly as streaming/sync.py and
streaming/near_dup.py document.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.storeio import (
    epoch_dir,
    read_epochs,
    read_live,
)

WM_SCHEMA = "max_id long"
MANIFEST_SCHEMA = "source string, file_seq long, doc_id long, n_chars long"


def ingest_pipeline_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    docs_dir: str,
    pairs_dir: str,
    manifest_dir: str,
    batch_id: int,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    target_bytes: int = 4096,
    wm_dir: str | None = None,
    quarantine_dir: str | None = None,
    on_late: str = "quarantine",
) -> None:
    """Settle one micro-batch of (doc_id, text, source, n_chars) rows —
    IDEMPOTENT per ``batch_id``: enforce the id-ordered arrival
    contract against the carried max-id watermark (when ``wm_dir`` is
    given — :func:`run_streaming_ingest_pipeline` always gives it),
    probe the band index for near-dup pairs over the in-order docs,
    keep the batch docs that pair with no smaller id, route the kept
    docs into the cross-batch compaction manifest, then extend the
    index and doc store. Out-of-order docs go to ``quarantine_dir``
    (``on_late="quarantine"``) or raise (``on_late="error"``); they
    extend NOTHING — re-admission happens under a fresh above-watermark
    id or an offline batch recompute (see the module docstring).
    Every write lands under this batch's epoch; every store read
    excludes that epoch by a partition filter (replay safety, see
    streaming/sync.py::sync_batch)."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        incremental_minhash_pairs,
        minhash_band_index,
    )

    if on_late not in ("quarantine", "error"):
        raise ValueError(f"on_late must be 'quarantine' or 'error', got {on_late!r}")
    me = f"batch_{batch_id}"
    index = read_live(spark, index_dir, "seed", exclude=batch_id)
    corpus = read_live(spark, docs_dir, "seed", exclude=batch_id)
    batch = batch.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    if wm_dir is not None:
        # carried watermark: max settled id over previous epochs — one
        # row per epoch, so this read is #batches-bounded metadata, and
        # on replay the epoch's own row is excluded like any store's
        carried_wm = (
            read_epochs(spark, wm_dir, "seed", WM_SCHEMA, exclude=batch_id)
            .agg(F.max("max_id"))
            .first()[0]
        )
        wm = -1 if carried_wm is None else int(carried_wm)
        late = batch.where(F.col("doc_id") <= F.lit(wm))
        batch = batch.where(F.col("doc_id") > F.lit(wm))
        if on_late == "error":
            n_late = late.count()
            if n_late:
                raise ValueError(
                    f"arrival-contract violation in batch {batch_id}: "
                    f"{n_late} doc(s) at or below watermark {wm}"
                )
        if quarantine_dir is not None:
            # settled even when empty: replay must overwrite a previous
            # attempt's quarantine rows, never leave them stale
            late.withColumn("violated_wm", F.lit(wm).cast("long")).write.mode(
                "overwrite"
            ).parquet(os.path.join(quarantine_dir, me))
        # this epoch's watermark row: max accepted id, or the carried
        # value when the whole batch was late/empty
        batch.agg(
            F.coalesce(F.max("doc_id"), F.lit(wm)).cast("long").alias("max_id")
        ).write.mode("overwrite").parquet(
            epoch_dir(spark, wm_dir, "seed", batch_id)
        )
    pairs = incremental_minhash_pairs(
        corpus,
        batch.select("doc_id", "text"),
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        corpus_index=index,
        max_bucket=max_bucket,
    )
    # settle the pairs first, then derive the drop set from the WRITTEN
    # store — one execution of the probe plan, and the kept computation
    # survives replay identically
    pairs.write.mode("overwrite").parquet(os.path.join(pairs_dir, me))
    dropped = (
        spark.read.parquet(os.path.join(pairs_dir, me))
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    kept = batch.join(dropped, "doc_id", "left_anti")

    # carried per-source byte totals = what the manifest already holds
    # (state lives in the store: one ≤#sources-row aggregate per batch)
    carried = (
        read_epochs(spark, manifest_dir, "seed", MANIFEST_SCHEMA, exclude=batch_id)
        .groupBy("source")
        .agg(F.sum("n_chars").alias("__carried"))
    )
    kept = kept.join(F.broadcast(carried), "source", "left")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = kept.withColumn(
        "file_seq",
        F.floor(
            (
                F.coalesce(F.col("__carried"), F.lit(0))
                + F.coalesce(F.sum("n_chars").over(w), F.lit(0))
            ).cast("double")
            / F.lit(float(int(target_bytes)))
        ).cast("long"),
    )
    assigned.select("source", "file_seq", "doc_id", "n_chars").write.mode(
        "overwrite"
    ).parquet(epoch_dir(spark, manifest_dir, "seed", batch_id))

    # extend the index and doc store with the FULL batch — dropped docs
    # stay probe-able so duplicate chains resolve like the batch rule
    minhash_band_index(
        batch.select("doc_id", "text"), n, num_hashes, bands
    ).write.mode("overwrite").parquet(
        epoch_dir(spark, index_dir, "seed", batch_id)
    )
    batch.select("doc_id", "text").write.mode("overwrite").parquet(
        epoch_dir(spark, docs_dir, "seed", batch_id)
    )


def run_streaming_ingest_pipeline(
    spark: SparkSession,
    batch_stages: list[DataFrame],
    workdir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    target_bytes: int = 4096,
    on_late: str = "quarantine",
    return_quarantine: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Stream the stages' (doc_id, text, source, n_chars) documents
    through :func:`ingest_pipeline_batch` (empty seed — EVERYTHING is
    ingested through the loop) and return the converged doc-level
    manifest rows ``(source, file_seq, doc_id, n_chars)`` — plus, with
    ``return_quarantine=True``, the quarantined rows ``(doc_id, text,
    source, n_chars, violated_wm)``.

    Stages should be doc_id-ordered (every id in stage k smaller than
    every id in stage k+1) — the arrival-order contract under which the
    greedy keep-first rule converges to the batch keep set. The
    contract is ENFORCED per batch against the carried max-id
    watermark: out-of-order docs are quarantined (default) or raise
    (``on_late="error"``), so the manifest always equals the batch
    composition over exactly the accepted docs, violation or not.
    """
    if not batch_stages:
        raise ValueError("need at least one batch stage")
    index_dir = os.path.join(workdir, "band_index")
    docs_dir = os.path.join(workdir, "docs")
    pairs_dir = os.path.join(workdir, "pairs")
    manifest_dir = os.path.join(workdir, "manifest")
    wm_dir = os.path.join(workdir, "watermark")
    quarantine_dir = os.path.join(workdir, "quarantine")
    for d in (index_dir, docs_dir, pairs_dir, manifest_dir, wm_dir,
              quarantine_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    # empty seeds with the store schemas: the first batch probes an
    # empty index, exactly like a pipeline bootstrapping from nothing
    first = batch_stages[0]
    from cdc_algorithms_spark.operators.dedup_docs import minhash_band_index

    empty_docs = first.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).limit(0)
    minhash_band_index(empty_docs, n, num_hashes, bands).write.parquet(
        os.path.join(index_dir, "seed")
    )
    empty_docs.write.parquet(os.path.join(docs_dir, "seed"))

    in_dir = tempfile.mkdtemp(prefix="cdc_ingest_in_")
    try:
        batch_stages[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(batch_stages[0].schema).parquet(in_dir)
        query = (
            stream.writeStream.foreachBatch(
                lambda b, bid: ingest_pipeline_batch(
                    spark, b, index_dir, docs_dir, pairs_dir, manifest_dir,
                    bid, n=n, num_hashes=num_hashes, bands=bands,
                    threshold=threshold, max_bucket=max_bucket,
                    target_bytes=target_bytes, wm_dir=wm_dir,
                    quarantine_dir=quarantine_dir, on_late=on_late,
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

    manifest = read_epochs(spark, manifest_dir, "seed", MANIFEST_SCHEMA)
    if return_quarantine:
        return manifest, spark.read.parquet(os.path.join(quarantine_dir, "*"))
    return manifest


def requeue_quarantined(spark: SparkSession, workdir: str) -> DataFrame:
    """The documented deterministic repair for quarantined documents,
    as an executable verb: re-key every quarantined row to a FRESH id
    above the pipeline's current watermark so it re-enters the stream
    as a valid next stage (arrival-time identity — the keep-first rule
    stays exact with respect to actual arrival order, and the late doc
    takes the LOWER priority its late arrival earned).

    Returns ``(doc_id, text, source, n_chars, orig_doc_id)``: fresh ids
    are ``watermark + dense rank`` over the quarantine ordered by the
    original id, so the re-keying is deterministic and collision-free;
    ``orig_doc_id`` is the lineage column. Feed the result to the
    ingest stream as the next stage; after it settles the quarantine
    has been fully re-admitted (pinned in tests/test_streaming.py).

    Scale note: the quarantine is violation-sized by contract (a
    healthy pipeline quarantines nothing), so the single-partition rank
    window over it is bounded by the disorder, never the corpus.
    """
    q = spark.read.parquet(os.path.join(workdir, "quarantine", "*"))
    wm_row = (
        read_epochs(spark, os.path.join(workdir, "watermark"), "seed", WM_SCHEMA)
        .agg(F.max("max_id"))
        .first()
    )
    wm = -1 if wm_row[0] is None else int(wm_row[0])
    order = Window.orderBy("doc_id")
    return q.select(
        (F.lit(wm) + F.row_number().over(order)).cast("long").alias("doc_id"),
        "text",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("doc_id").alias("orig_doc_id"),
    )
