"""Standing corpus-build pipeline (foreachBatch) — the streaming form
of ``queries_extras.q_corpus_build_manifest``, built so that
stream == one-shot == batch BIT-identically (the streaming_jaccard_index
contract, applied to the whole flagship composition).

Why this folds exactly
----------------------
The batch pipeline is quality filter → exact near-dup keep-one → DSIR
over the survivors → integer-exact PPS → split carve → packing. Each
stage folds from per-epoch deltas:

* **Quality** is per-document (map-only), so filtering each batch equals
  filtering the union.
* **Near-dup pairs**: each micro-batch probes the durable Jaccard
  prefix index (batch-vs-store and batch-vs-batch, never
  store-vs-store) and then extends it. A pair (a, b) with a arriving at
  epoch i ≤ j surfaces EXACTLY at epoch j (at epoch i, b exists
  nowhere), so the union of per-epoch pair deltas IS the one-shot
  ``ngram_jaccard_pairs`` set over all quality survivors — exact, since
  the indexed probe verifies against full shingle sets
  (operators/dedup_docs.py). Connected components over the union equal
  the batch components.
* **DSIR**: the unigram models are integer term counts, so the standing
  count store (operators/selection.py::extend_dsir_counts) folds
  additively over ALL quality docs. The batch pipeline models the
  DEDUP SURVIVORS only, and a doc's survivor status can change as later
  arrivals connect components — so the fold derives the kept-corpus
  model by SUBTRACTION: kept counts = folded store counts − the dropped
  docs' counts, read from the per-epoch doc-term deltas this loop also
  writes (batch-proportional; the corpus is never re-tokenized).
  Scoring then runs the shared ``_dsir_score`` expression tree over the
  stored doc-term rows of the kept docs — identical inputs through the
  identical tree ⇒ identical quantized weights.
* **PPS / split / packing** are pure integer functions of
  (doc_id, weight, n_chars); the fold runs the same operators over the
  folded frames.

Store layout (one root)::

    root/jaccard/...            durable Jaccard index (dedup_docs verbs)
    root/dsir/...               durable DSIR count store (selection verbs)
    root/pairs_delta/epoch=<n>  (id_a, id_b, jaccard) pairs TOUCHING epoch n
    root/doctf_delta/epoch=<n>  (doc_id, lang, dl, term, tf) of epoch n's
                                quality survivors — fold-time scoring input
    root/docs_delta/epoch=<n>   (doc_id, lang, n_chars) quality survivors
    root/census_delta/epoch=<n> one row: epoch's raw input count
    root/_seed_epoch.json       which epoch seeded the two durable stores

Replay idempotence: every per-epoch artifact is an overwrite of its own
``epoch=<id>`` directory; the seed marker makes an at-least-once replay
of the SEED epoch re-run the (overwriting) seed path instead of
appending a duplicate extend epoch. A replayed non-seed epoch re-probes
a store that already contains its own ids — candidates dedupe on the id
pair, so the rewritten pair delta is value-identical (pinned in
tests/test_streaming.py). The seed path rewrites the BASE stores whole,
so a seed replay is only safe while no later epoch has been folded into
them — exactly the at-least-once contract (only the last uncommitted
batch replays; compaction runs between committed batches).

Scale posture: per-batch work is batch-proportional — one quality pass,
one bucket-pruned index probe, one tokenize, four batch-sized writes;
the resident stores are extended, never rewritten (mid-stream
compaction, exercised here, bounds the epoch files each probe lists
via the storeio manifests). At fold time nothing corpus-sized crosses the driver and
the corpus TEXT is never re-read: components run over the accumulated
pair list, the model fold is vocabulary-sized, scoring joins the stored
doc-term rows, and the PPS/packing prefix sums are the audited bounded
two-phase forms.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.storeio import (
    epoch_dir,
    read_epochs,
    read_json,
    read_live,
    write_json,
)

SEED_MARKER = "_seed_epoch.json"

_PAIRS_SCHEMA = "id_a long, id_b long, jaccard double"
_DOCTF_SCHEMA = "doc_id long, lang string, dl int, term string, tf long"
_DOCS_SCHEMA = "doc_id long, lang string, n_chars long"
_CENSUS_SCHEMA = "n_input long"


def process_corpus_batch(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    epoch: int,
    *,
    qmin: float,
    n: int,
    threshold: float,
    target_lang: str = "en",
) -> None:
    """Fold one document micro-batch (doc_id, text, lang) into the
    standing corpus-build stores. Idempotent under at-least-once replay
    (module docstring). doc_ids must be unique across all epochs."""
    from cdc_algorithms_spark.functions.text import words
    from cdc_algorithms_spark.operators.dedup_docs import (
        extend_jaccard_index,
        incremental_jaccard_pairs_indexed,
        jaccard_prefix_index,
        ngram_jaccard_pairs,
        read_jaccard_index_live,
        release_cached_frames,
        write_jaccard_index,
    )
    from cdc_algorithms_spark.operators.selection import (
        extend_dsir_counts,
        write_dsir_counts,
    )
    from cdc_algorithms_spark.operators.textstats import quality_scores

    epoch = int(epoch)
    target_pred = F.col("lang") == target_lang
    # census first: raw arrivals, before the quality gate
    batch.agg(F.count(F.lit(1)).cast("long").alias("n_input")).write.mode(
        "overwrite"
    ).parquet(epoch_dir(spark, root, "census", epoch))

    good = quality_scores(batch).where(
        F.col("quality_score") >= qmin
    ).select("doc_id")
    # persisted: six consumers (probe, extend, DSIR extend, doc-tf,
    # docs delta, plus the seed path's index build) would otherwise each
    # re-run the quality regex pass over the batch
    fdocs = (
        batch.select(
            F.col("doc_id").cast("long").alias("doc_id"), "lang", "text"
        )
        .join(good, "doc_id", "left_semi")
        .persist()
    )

    seed = read_json(spark, f"{root}/{SEED_MARKER}")
    seeding = seed is None or int(seed["seed_epoch"]) == epoch
    jpath = f"{root}/jaccard"
    if seeding:
        # seed epoch (or its replay): pairs are within-batch; both
        # stores are (re)written whole — overwrite ⇒ idempotent
        pairs = ngram_jaccard_pairs(fdocs, n=n, threshold=threshold)
        pairs.write.mode("overwrite").parquet(
            epoch_dir(spark, root, "pairs", epoch)
        )
        index = jaccard_prefix_index(fdocs, n=n, threshold=threshold)
        write_jaccard_index(index, jpath)
        write_dsir_counts(fdocs, target_pred, f"{root}/dsir")
        write_json(spark, f"{root}/{SEED_MARKER}", {"seed_epoch": epoch})
    else:
        # probe BEFORE extending (a replay's store already holds this
        # epoch's ids — same ids ⇒ the candidate distinct dedupes to
        # the same pair set, keeping the rewritten delta value-equal).
        # The batch's hashed shingle set is computed ONCE and passed to
        # both the probe and the extend as the `elements` frame — the
        # two verbs otherwise re-run the identical tokenize + shingle +
        # hash pass per epoch.
        from cdc_algorithms_spark.operators.dedup_docs import (
            _hashed_doc_shingles,
        )

        batch_sh = _hashed_doc_shingles(
            fdocs, n, "doc_id", "text"
        ).persist()
        pairs = incremental_jaccard_pairs_indexed(
            read_jaccard_index_live(spark, jpath),
            fdocs.select("doc_id", "text"),
            n=n,
            threshold=threshold,
            elements=batch_sh,
        )
        pairs.write.mode("overwrite").parquet(
            epoch_dir(spark, root, "pairs", epoch)
        )
        extend_jaccard_index(
            spark, jpath, fdocs.select("doc_id", "text"), epoch,
            n=n, threshold=threshold, elements=batch_sh,
        )
        batch_sh.unpersist()
        extend_dsir_counts(
            spark, f"{root}/dsir", fdocs, target_pred, epoch
        )

    # per-doc term counts — the fold's scoring input AND the kept-model
    # subtraction input (same construction as dsir_importance_weights)
    tf = (
        fdocs.select("doc_id", "lang", words("text").alias("__ws"))
        .select(
            "doc_id", "lang", F.size("__ws").alias("dl"),
            F.explode("__ws").alias("word"),
        )
        .select("doc_id", "lang", "dl", F.lower("word").alias("term"))
        .groupBy("doc_id", "lang", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf.write.mode("overwrite").parquet(epoch_dir(spark, root, "doctf", epoch))
    fdocs.select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    ).write.mode("overwrite").parquet(epoch_dir(spark, root, "docs", epoch))
    # the probe's internal persists served their writes — reclaim
    fdocs.unpersist()
    release_cached_frames()


def run_streaming_corpus_build(
    spark: SparkSession,
    batch_stages: list[DataFrame],
    root: str,
    *,
    qmin: float,
    n: int,
    threshold: float,
    target_lang: str = "en",
    compact_after_stage: int | None = 1,
) -> str:
    """Stream the stages' (doc_id, text, lang) rows through
    :func:`process_corpus_batch`, one micro-batch per stage, compacting
    both durable stores after stage ``compact_after_stage`` (None →
    never; the default 1 folds the first EXTEND epoch — stage 0 is the
    seed, so compacting after it would be a no-op) while the stream is
    quiesced between ``processAllAvailable`` calls. Returns ``root``
    ready for :func:`corpus_build_manifest_from_store`."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        compact_jaccard_index,
    )
    from cdc_algorithms_spark.operators.selection import compact_dsir_counts

    if not batch_stages:
        raise ValueError("need at least one batch stage")
    shutil.rmtree(root, ignore_errors=True)
    in_dir = tempfile.mkdtemp(prefix="cdc_corpusbuild_in_")
    try:
        batch_stages[0].write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(batch_stages[0].schema).parquet(
            in_dir
        )
        query = (
            stream.writeStream.foreachBatch(
                lambda b, bid: process_corpus_batch(
                    spark, root, b, bid,
                    qmin=qmin, n=n, threshold=threshold,
                    target_lang=target_lang,
                )
            )
            .outputMode("append")
            .start()
        )
        try:
            query.processAllAvailable()
            for i, stage in enumerate(batch_stages[1:], start=1):
                if (
                    compact_after_stage is not None
                    and i - 1 == compact_after_stage
                ):
                    # stream quiesced between processAllAvailable calls
                    # — the compactors' reader contract
                    compact_jaccard_index(spark, f"{root}/jaccard")
                    compact_dsir_counts(spark, f"{root}/dsir")
                stage.write.mode("append").parquet(in_dir)
                query.processAllAvailable()
        finally:
            query.stop()
            query.awaitTermination()
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
    return root


def corpus_build_manifest_from_store(
    spark: SparkSession,
    root: str,
    *,
    k: int,
    wq: int,
    seq_len: int,
    pps_seed: int,
    split_fractions,
    split_seed: int,
    target_lang: str = "en",
) -> DataFrame:
    """The manifest fold: identical output to the one-shot
    ``corpus_build_manifest`` over the union of every streamed epoch
    (module docstring has the stage-by-stage equality argument). The
    corpus text is never re-read — everything derives from the standing
    stores and the per-epoch deltas."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        _persist,
        connected_components,
    )
    from cdc_algorithms_spark.operators.packing import sequence_packing
    from cdc_algorithms_spark.operators.sampling import pps_systematic_sample
    from cdc_algorithms_spark.operators.selection import (
        _dsir_score,
        _fold_counts,
    )
    from cdc_algorithms_spark.operators.splits import split_assignment

    pairs = read_epochs(spark, root, "pairs", _PAIRS_SCHEMA)
    comp = connected_components(pairs)
    docmeta = read_epochs(spark, root, "docs", _DOCS_SCHEMA)
    # persisted: survivors feed the scoring semi-join, the dedup census,
    # and (via dropped) the model subtraction
    kept = _persist(
        docmeta.join(F.broadcast(comp), "doc_id", "left")
        .where(
            F.col("component_id").isNull()
            | (F.col("component_id") == F.col("doc_id"))
        )
        .drop("component_id")
    )
    # the complement of kept within the quality survivors: a non-
    # representative member of some component (comp is pair-graph-sized
    # — broadcastable — so this is a map-side filter, not a subtract)
    dropped_ids = (
        docmeta.join(F.broadcast(comp), "doc_id")
        .where(F.col("component_id") != F.col("doc_id"))
        .select("doc_id")
    )
    doctf = read_epochs(spark, root, "doctf", _DOCTF_SCHEMA)
    drop_model = (
        doctf.join(F.broadcast(dropped_ids), "doc_id", "left_semi")
        .groupBy("term")
        .agg(
            F.sum("tf").cast("long").alias("d_raw"),
            F.coalesce(
                F.sum(F.when(F.col("lang") == target_lang, F.col("tf"))),
                F.lit(0),
            )
            .cast("long")
            .alias("d_tgt"),
        )
    )
    folded = _fold_counts(read_live(spark, f"{root}/dsir", "counts"), "term")
    # kept-corpus model = all-quality model − dropped docs' counts
    # (exact integers); a term entirely inside dropped docs leaves the
    # vocabulary, matching the batch model built from survivors alone
    model = _persist(
        folded.join(drop_model, "term", "left")
        .select(
            "term",
            (F.col("c_raw") - F.coalesce("d_raw", F.lit(0))).alias("c_raw"),
            (F.col("c_tgt") - F.coalesce("d_tgt", F.lit(0))).alias("c_tgt"),
        )
        .where(F.col("c_raw") > 0)
    )
    raw = model.select("term", "c_raw")
    tgt = model.where(F.col("c_tgt") > 0).select("term", "c_tgt")
    meta = model.agg(
        F.sum("c_raw").alias("total_raw"),
        F.sum("c_tgt").alias("total_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    tf_kept = doctf.join(kept.select("doc_id"), "doc_id", "left_semi")
    weights = _dsir_score(tf_kept, raw, tgt, meta).select(
        "doc_id", F.round(F.col("weight") * wq).cast("long").alias("wq")
    )
    wmin = weights.agg(F.min("wq").alias("mn"))
    pop = _persist(
        weights.crossJoin(F.broadcast(wmin)).select(
            "doc_id", (F.col("wq") - F.col("mn") + 1).alias("w")
        )
    )
    picked = _persist(
        pps_systematic_sample(
            pop, "w", k=k, id_col="doc_id", seed=pps_seed
        ).select(F.col("id").alias("doc_id"))
    )
    carved = split_assignment(
        picked.join(docmeta.select("doc_id", "n_chars"), "doc_id"),
        split_fractions,
        seed=split_seed,
    )
    pack = sequence_packing(
        carved,
        seq_len,
        toks=F.ceil(F.col("n_chars") / 4.0).cast("long"),
        group_cols=["split"],
    )
    pack_tot = pack.groupBy("split").agg(
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_sequences"),
        F.sum("n_boundary_docs").cast("long").alias("n_boundary_crossings"),
    )
    census_in = read_epochs(spark, root, "census", _CENSUS_SCHEMA)
    census = (
        census_in.agg(F.sum("n_input").cast("long").alias("n_input_docs"))
        .crossJoin(
            F.broadcast(
                docmeta.agg(
                    F.count(F.lit(1)).cast("long").alias("n_quality_kept")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                kept.agg(F.count(F.lit(1)).cast("long").alias("n_dedup_kept"))
            )
        )
        .crossJoin(
            F.broadcast(
                picked.agg(F.count(F.lit(1)).cast("long").alias("n_selected"))
            )
        )
    )
    return (
        carved.groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .join(pack_tot, "split", "left")
        .crossJoin(F.broadcast(census))
        .select(
            "split",
            "n_docs",
            "n_tokens",
            "n_sequences",
            "n_boundary_crossings",
            "n_input_docs",
            "n_quality_kept",
            "n_dedup_kept",
            "n_selected",
        )
    )
