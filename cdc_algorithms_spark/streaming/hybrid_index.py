"""Streaming maintenance of BOTH hybrid-retrieval stores in one loop.

A standing hybrid-search pipeline ingests documents that arrive with
their embeddings; its two durable stores — the term-bucket BM25
posting index (operators/retrieval.py) and the cell-partitioned IVF-PQ
code store (operators/similarity.py) — must stay in lockstep or a doc
is findable by one leg and invisible to the other. This module runs
ONE foreachBatch loop over a combined (doc_id, text, lang?, embedding)
stream and extends both stores per micro-batch:

* the lexical half appends bucket-partitioned postings + exact counts
  (``extend_text_index``) — the folded store answers BIT-identically
  to a batch build (the BM25-store contract);
* the semantic half encodes the batch with the FROZEN seed model and
  appends cell-partitioned code deltas + drift-evidence stats
  (``extend_pq_index``) — bit-identical to a one-shot encode, with
  recall carrying the frozen-model tier and the drift verbs
  (pq_drift_report → rebuild_pq_index_if_drifted) watching for the
  re-train trigger.

Per-epoch overwrite on BOTH halves keeps at-least-once replay
idempotent; because the two extends share the epoch id, a replayed
micro-batch re-lands both halves consistently — the lockstep survives
replay, not just steady state. Per-batch cost is batch-proportional
(one tokenize + one bucket exchange; one encode + one cell exchange);
nothing resident is re-read.

The ``streaming_hybrid_index`` driver row probes the streamed stores
with the hybrid_rrf_indexed check: lexical leg count+checksum-exact
against the DuckDB-recomputed batch ranks, fused top-k recall-floored
against the brute fusion.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def run_streaming_hybrid_index(
    spark: SparkSession,
    seed_docs: DataFrame,
    seed_vectors: DataFrame,
    batch_stages: list[DataFrame],
    path: str,
    buckets: int | None = None,
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    nlist: int = 16,
    iters: int = 3,
) -> tuple[str, str]:
    """Seed both stores (text index on ``seed_docs``, PQ index trained
    on ``seed_vectors``), then stream the stages' combined
    (doc_id, text, embedding) rows through one foreachBatch loop that
    extends BOTH per micro-batch. Returns ``(text_path, pq_path)``
    ready for bm25_topk_indexed / pq_topk_indexed. doc_ids must be
    unique across seed and stages and shared between the text and
    vector halves (one id space — the fusion key)."""
    from cdc_algorithms_spark.operators.retrieval import (
        extend_text_index,
        write_text_index,
    )
    from cdc_algorithms_spark.operators.similarity import (
        extend_pq_index,
        write_pq_index,
    )

    if not batch_stages:
        raise ValueError("need at least one batch stage")
    shutil.rmtree(path, ignore_errors=True)
    text_path = f"{path}/text"
    pq_path = f"{path}/pq"
    write_text_index(seed_docs, text_path, buckets=buckets)
    write_pq_index(
        seed_vectors, pq_path, dim=dim, m=m, ksub=ksub, nlist=nlist,
        iters=iters,
    )

    def _extend_both(batch: DataFrame, epoch: int) -> None:
        # one shared epoch id: a replayed micro-batch re-lands BOTH
        # halves (per-epoch overwrite), so the stores stay in lockstep
        # under at-least-once delivery
        extend_text_index(
            spark, text_path, batch.select("doc_id", "text"), epoch,
            buckets=buckets,
        )
        # partial modality is legal: a doc arriving without an embedding
        # is lexically findable and semantically absent
        vecs = batch.where(batch["embedding"].isNotNull()).select(
            batch["doc_id"].alias("vec_id"), "embedding"
        )
        extend_pq_index(spark, pq_path, vecs, epoch)

    in_dir = tempfile.mkdtemp(prefix="cdc_hybridstream_in_")
    try:
        batch_stages[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(batch_stages[0].schema).parquet(
            in_dir
        )
        query = (
            stream.writeStream.foreachBatch(_extend_both)
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
    return text_path, pq_path


__all__ = ["run_streaming_hybrid_index"]
