"""Data-selection operators for training corpora: cross-document
duplication fractions, DSIR importance weights, and exact
substring-span dedup.

The per-document signals a curation pipeline computes corpus-wide:

* :func:`cross_doc_dup_fraction` — the share of a document's word
  n-gram INSTANCES that also occur in at least one other document (the
  C4/RefinedWeb "duplicate text fraction"). Complements
  ``textstats.repetition_ratios`` (intra-doc looping) and the pairwise
  dedup operators (`dedup_docs`): this is the per-doc marginal signal
  you threshold on, not a pair list.
* :func:`dsir_importance_weights` — hashed-n-gram importance weights in
  the style of DSIR (Xie et al., 2023, "Data Selection for Language
  Models via Importance Resampling"): the per-document log-likelihood
  ratio between a smoothed unigram model of a TARGET slice and one of
  the RAW corpus. Positive weight = looks more like the target; the
  mixture/sampling operators (`mixture.py`, `sampling.py`) consume the
  weights to realize a selection.
* :func:`remove_duplicate_spans` — the TRANSFORM: exact substring-span
  dedup after Lee et al. 2022, removing every cross-doc duplicated
  n-gram instance from all but its canonical document (measured at
  corpus scale in SCALING.md §23).

Determinism contract (same device as ``retrieval.py``): every
per-term float contribution is quantized to a BIGINT
(``floor(x * 1e9)``) before the per-document sum, making the sum
order-independent and the DuckDB oracle bit-exact; reported floats are
the quantized sums scaled back.

Scale notes (100 TB):
* Both operators fold the token stream to (doc, term/gram, count)
  before any join — raw text never shuffles.
* The gram-keyed joins are vocabulary-sized on both sides; no
  broadcast hint (a forced broadcast of a corpus vocabulary would OOM
  the driver) — AQE picks the strategy from sizes, the same contract
  as `tfidf_top_terms`.
* At or above ``FINGERPRINT_AUTO_DOCS`` input documents,
  :func:`cross_doc_dup_fraction` and :func:`remove_duplicate_spans`
  switch to 128-bit gram fingerprints automatically (the measured
  1M-doc exact-string shuffle exhausts local disk — SCALING.md §23);
  ``fingerprint=True/False`` forces either path. The oracle fixtures
  run exact strings; fingerprinting is collision-bounded
  (:func:`_gram_fingerprint`), not bit-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_algorithms_spark.functions.text import shingles_of_words, words
from cdc_algorithms_spark.operators.storeio import (
    STORE_META,
    adaptive_buckets,
    compact_delta_store,
    epoch_dir,
    read_json,
    read_live,
    resolve_buckets,
    write_json,
    write_partitioned,
)

QUANT = 1_000_000_000

DUP_NGRAM_N = 8

# Exact-string gram shuffles are measured to exhaust local shuffle disk
# at 1M docs (SCALING.md §23); at/above this many input documents the
# span operators default to 128-bit fingerprint grams so the first
# corpus-scale caller cannot rediscover that cliff.
FINGERPRINT_AUTO_DOCS = 200_000


# memoized auto-switch decisions keyed by (analyzed plan semantic hash,
# threshold): repeated default calls over the same input (the common
# measure-then-transform pattern: cross_doc_dup_fraction followed by
# remove_duplicate_spans) pay the probe once, not per call.
# ACCEPTED staleness: a semantically-identical file-source plan whose
# underlying files GREW past the threshold mid-session keeps its cached
# "small" decision until the session (or the 256-entry bound) clears
# the memo — the switch is a performance guard, not a correctness gate,
# so a stale decision costs shuffle headroom, never wrong results;
# callers racing a growing source pass ``fingerprint=`` explicitly.
_FP_DECISIONS: dict[tuple[int, int], bool] = {}


def _resolve_fingerprint(docs: DataFrame, fingerprint: bool | None) -> bool:
    if fingerprint is not None:
        return fingerprint
    try:
        key = (
            docs._jdf.queryExecution().analyzed().semanticHash(),
            FINGERPRINT_AUTO_DOCS,
        )
    except Exception:  # non-JVM-backed frame (e.g. connect) — no memo
        key = None
    if key is not None and key in _FP_DECISIONS:
        return _FP_DECISIONS[key]
    # cheapest first: Catalyst's optimized-plan row-count statistic is
    # free (no job) when the source carries it (CBO stats, a LocalRelation,
    # or a LIMIT-capped plan); only when it's absent fall back to a
    # LIMIT-bounded count probe, which stops at the threshold instead of
    # materializing the whole upstream plan. Callers who know their size
    # pass fingerprint explicitly and skip both. NOTE (API semantics):
    # the default silently switches ≥ FINGERPRINT_AUTO_DOCS callers from
    # exact-string to collision-bounded fingerprint grams — documented
    # in the module docstring and README; results at scale differ from
    # fingerprint=False by at most the 2^-128 collision mass.
    # The stats rowCount is an UPPER BOUND, not an actual count — the
    # size-only visitor reports a GlobalLimit's cap even when the child
    # count is unknown, and stale CBO stats over-report. An upper bound
    # is only trustworthy in the "small" direction (rc < threshold ⇒
    # actual < threshold); an rc >= threshold could be a limit(N) over a
    # tiny input, so that direction always re-checks with the bounded
    # count probe.
    decided: bool | None = None
    try:
        rc = docs._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined() and int(rc.get().longValue()) < FINGERPRINT_AUTO_DOCS:
            decided = False
    except Exception:
        decided = None
    if decided is None:
        decided = (
            docs.limit(FINGERPRINT_AUTO_DOCS).count() >= FINGERPRINT_AUTO_DOCS
        )
    if key is not None:
        if len(_FP_DECISIONS) > 256:  # bound the memo for long sessions
            _FP_DECISIONS.clear()
        _FP_DECISIONS[key] = decided
    return decided


def cross_doc_dup_fraction(
    docs: DataFrame,
    n: int = DUP_NGRAM_N,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: bool | None = None,
) -> DataFrame:
    """(doc_id, n_ngrams, n_dup_ngrams, dup_fraction) per document.

    ``dup_fraction`` is the share of the doc's positional n-gram
    instances whose n-gram occurs in ≥ 2 distinct documents. Documents
    shorter than n words contribute one whole-doc gram (same rule as
    every shingle operator here), so short exact dupes still score 1.0.

    ``fingerprint=None`` (default) auto-selects: exact-string grams
    below ``FINGERPRINT_AUTO_DOCS`` documents, 128-bit fingerprints at
    or above it (module docstring).
    """
    fingerprint = _resolve_fingerprint(docs, fingerprint)
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        words(text_col).alias("__ws"),
    )
    gram: Column = F.explode(shingles_of_words(F.col("__ws"), n)).alias("g")
    grams = base.select("doc_id", gram)
    if fingerprint:
        # same 128-bit key as remove_duplicate_spans: a single 64-bit
        # hash starts colliding around ~5e9 distinct grams — real
        # territory for a trillion-gram corpus both operators advertise
        grams = grams.select(
            "doc_id", _gram_fingerprint(F.col("g")).alias("g")
        )
    cnt = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    # cnt is unique on (doc_id, g) → document frequency is a plain count
    dfr = cnt.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        cnt.join(dfr, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("__total"),
            F.sum(
                F.when(F.col("df") >= 2, F.col("cnt")).otherwise(F.lit(0))
            ).alias("__dup"),
        )
        .select(
            "doc_id",
            F.col("__total").cast("long").alias("n_ngrams"),
            F.col("__dup").cast("long").alias("n_dup_ngrams"),
            F.round(F.col("__dup") * F.lit(1.0) / F.col("__total"), 6).alias(
                "dup_fraction"
            ),
        )
    )


def dsir_importance_weights(
    docs: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, lang, n_tokens, weight): smoothed unigram log-likelihood
    ratio of target-slice vs raw-corpus language models.

    weight(d) = Σ_t tf_dt · [ ln((c_tgt(t)+1)/(T_tgt+V))
                            − ln((c_raw(t)+1)/(T_raw+V)) ]

    with add-one smoothing over the raw corpus vocabulary V. All counts
    are exact BIGINTs; each term's contribution is quantized before the
    per-doc sum (module docstring). ``target_pred`` is any boolean
    column over the docs frame (e.g. ``F.col("lang") == "en"``).
    """
    ws = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        "lang",
        target_pred.alias("__tgt"),
        words(text_col).alias("__ws"),
    )
    tf = (
        ws.select(
            "doc_id",
            "lang",
            "__tgt",
            F.size("__ws").alias("dl"),
            F.explode("__ws").alias("word"),
        )
        .select("doc_id", "lang", "__tgt", "dl", F.lower("word").alias("term"))
        .groupBy("doc_id", "lang", "__tgt", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf feeds four branches of ONE returned plan (raw/tgt/meta/join);
    # its shuffle exchange is identical in each, so ReusedExchange makes
    # the token fold run once. No persist(): a DataFrame-level cache is
    # never auto-released (CacheManager holds it for the session), and a
    # plan-building function has no post-materialization hook to
    # unpersist from — the leak outweighs re-reading one shuffle.
    # ONE vocabulary fold feeds everything: raw + target counts come
    # from a single groupBy(term) (the same frame the durable store
    # persists), and the totals/vocabulary-size row aggregates THAT
    # vocab-sized frame, not the corpus-sized tf — so the only
    # corpus-sized exchange (tf's) has two consumers (model + scoring
    # join) instead of four, and ReusedExchange dedupes both tiers
    model = tf.groupBy("term").agg(
        F.sum("tf").alias("c_raw"),
        F.coalesce(
            F.sum(F.when(F.col("__tgt"), F.col("tf"))), F.lit(0)
        ).alias("c_tgt"),
    )
    raw = model.select("term", "c_raw")
    tgt = model.where(F.col("c_tgt") > 0).select("term", "c_tgt")
    meta = model.agg(
        F.sum("c_raw").alias("total_raw"),
        F.sum("c_tgt").alias("total_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    return _dsir_score(tf, raw, tgt, meta)


def _dsir_score(
    tf: DataFrame, raw: DataFrame, tgt: DataFrame, meta: DataFrame
) -> DataFrame:
    """Shared scoring tail (batch and durable-index paths run the SAME
    expression tree, so a folded index scores bit-identically to the
    one-shot model): ``tf`` is (doc_id, lang, dl, term, tf); ``raw`` /
    ``tgt`` are (term, c_raw) / (term, c_tgt); ``meta`` is one row
    (total_raw, total_tgt, v)."""
    ln_tgt = F.log(
        (F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(1))
        * F.lit(1.0)
        / (F.col("total_tgt") + F.col("v"))
    )
    ln_raw = F.log(
        (F.col("c_raw") + F.lit(1))
        * F.lit(1.0)
        / (F.col("total_raw") + F.col("v"))
    )
    cq = F.floor(
        F.col("tf") * (ln_tgt - ln_raw) * F.lit(float(QUANT))
    ).cast("long")
    return (
        tf.join(raw, "term")
        .join(tgt, "term", "left")
        .crossJoin(F.broadcast(meta))
        .withColumn("__cq", cq)
        .groupBy("doc_id", "lang", "dl")
        .agg(F.sum("__cq").alias("weight_q"))
        .select(
            "doc_id",
            "lang",
            F.col("dl").cast("long").alias("n_tokens"),
            F.round(F.col("weight_q") / F.lit(float(QUANT)), 6).alias("weight"),
        )
    )


# --- Durable DSIR term-count store -------------------------------------------
#
# The selection tier's standing-pipeline form (the fifth instance of the
# repo's durable-index pattern, after the Jaccard shingle index, the
# IVF-PQ codes, the BM25 postings, and the Z-layout store): the unigram
# language models behind dsir_importance_weights are nothing but exact
# term counts, so they maintain incrementally the way the BM25 store
# does — and with the SAME bit-identity contract, since the probe
# derives every model quantity (c_raw, c_tgt, totals, vocabulary size)
# from the folded counts at read time. Layout:
#
#     path/counts/bucket=<pmod(xxhash64(term), buckets)>/   base
#     path/counts_delta/epoch=<n>/bucket=.../               extends
#     path/meta/                 one row (total_raw, total_tgt)  base
#     path/meta_delta/epoch=<n>/ one row per extend epoch
#
# Counts rows are (term, c_raw, c_tgt) — integer sums, so generations
# fold exactly; a term may appear in several generations (grouped at
# read). Per-epoch overwrite keeps foreachBatch replay idempotent.

DSIR_BUCKETS = 32  # CAP since r12; actual counts are size-adaptive

# Store-layout marker (r12, same discipline as the Jaccard index's
# _index_meta.json): the writer derives a size-adaptive bucket count,
# records it in storeio.STORE_META, and every extend resolves it from
# the store — a tiny corpus writes a couple of partition directories per
# epoch instead of 32 (the per-epoch directory/commit overhead dominated
# the streaming loops' sweep walls at fixture sizes), while at real
# corpus sizes the cap engages and the layout is exactly the fixed one.
# Readers are unaffected: they fold the whole vocabulary-sized store and
# never prune by bucket (see dsir_weights_indexed).


def _fold_counts(counts: DataFrame, *keys: str) -> DataFrame:
    """Sum the per-generation term counts (a term may appear in several
    generations) into one row per ``keys``."""
    return counts.groupBy(*keys).agg(
        F.sum("c_raw").cast("long").alias("c_raw"),
        F.sum("c_tgt").cast("long").alias("c_tgt"),
    )


def _fold_totals(meta: DataFrame) -> DataFrame:
    """One (total_raw, total_tgt) row from the per-generation rows."""
    return meta.agg(
        F.sum("total_raw").cast("long").alias("total_raw"),
        F.sum("total_tgt").cast("long").alias("total_tgt"),
    )


def _dsir_term_frame(
    docs: DataFrame, target_pred: Column, text_col: str, buckets: int
) -> DataFrame:
    t = (
        docs.select(target_pred.alias("__tgt"), words(text_col).alias("__ws"))
        .select("__tgt", F.explode("__ws").alias("word"))
        .select("__tgt", F.lower("word").alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c_raw"),
            F.sum(F.when(F.col("__tgt"), 1).otherwise(0))
            .cast("long")
            .alias("c_tgt"),
        )
    )
    return t.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets))
    )


def _dsir_meta_frame(docs: DataFrame, target_pred: Column, text_col: str):
    ws = docs.select(target_pred.alias("__tgt"), words(text_col).alias("__ws"))
    return ws.agg(
        F.sum(F.size("__ws")).cast("long").alias("total_raw"),
        F.coalesce(
            F.sum(F.when(F.col("__tgt"), F.size("__ws"))), F.lit(0)
        )
        .cast("long")
        .alias("total_tgt"),
    )


def write_dsir_counts(
    docs: DataFrame,
    target_pred: Column,
    path: str,
    text_col: str = "text",
    buckets: int | None = None,
) -> None:
    """Write the base DSIR term-count store (layout comment above).
    ``buckets`` defaults to a size-adaptive count recorded in the
    store's ``_store_meta.json``."""
    if buckets is None:
        buckets = adaptive_buckets(docs.count(), DSIR_BUCKETS, 64)
    write_partitioned(
        _dsir_term_frame(docs, target_pred, text_col, buckets),
        f"{path}/counts",
        "bucket",
    )
    _dsir_meta_frame(docs, target_pred, text_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    write_json(docs.sparkSession, f"{path}/{STORE_META}", {"buckets": int(buckets)})


def extend_dsir_counts(
    spark,
    path: str,
    batch_docs: DataFrame,
    target_pred: Column,
    epoch: int,
    text_col: str = "text",
    buckets: int | None = None,
) -> None:
    """Fold a document batch into the standing unigram models WITHOUT
    touching resident counts: the batch's term counts land bucket-
    partitioned under ``counts_delta/epoch=<n>``, its exact token
    totals under ``meta_delta/epoch=<n>``. Cost tracks the batch (one
    tokenize + one hash exchange over the batch alone); because counts
    are integers, the folded store equals a one-shot build over
    seed ∪ batches BIT-identically — same contract as the BM25 store,
    stronger than the PQ store's frozen-model tier.

    ``buckets`` defaults to the store's recorded count (the writer's
    size-adaptive choice); an explicit value contradicting the record
    keeps the epochs' bucket VALUES inconsistent with the base — still
    read-exact (readers fold by term, never by bucket) but it defeats
    the one-writer-task-per-directory layout, so it fails loudly."""
    [buckets] = resolve_buckets(
        read_json(spark, f"{path}/{STORE_META}"),
        f"extend_dsir_counts({path})",
        buckets=(buckets, DSIR_BUCKETS),
    )
    write_partitioned(
        _dsir_term_frame(batch_docs, target_pred, text_col, buckets),
        epoch_dir(spark, path, "counts", epoch),
        "bucket",
    )
    _dsir_meta_frame(batch_docs, target_pred, text_col).write.mode(
        "overwrite"
    ).parquet(epoch_dir(spark, path, "meta", epoch))


def compact_dsir_counts(spark, path: str) -> None:
    """Fold epoch deltas back into one base count store — the DSIR
    OPTIMIZE (``storeio.compact_delta_store``, same discipline as
    compact_text_index): counts pre-fold by term (so probes read one row
    per term again) and token-total meta rows sum."""
    compact_delta_store(spark, path, {
        "counts": lambda live, dest: write_partitioned(
            _fold_counts(live, "bucket", "term").select(
                "term", "c_raw", "c_tgt", "bucket"
            ),
            dest,
            "bucket",
        ),
        "meta": lambda live, dest: _fold_totals(live).write.mode(
            "overwrite"
        ).parquet(dest),
    })


def dsir_weights_indexed(
    spark,
    path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against the DURABLE unigram models: identical
    output schema to :func:`dsir_importance_weights`, and — when the
    store's generations fold to the same corpus the batch form would
    model — identical VALUES, because every model quantity is derived
    from the folded integer counts through the shared
    :func:`_dsir_score` expression tree. Terms absent from the store
    contribute with c_raw = 0 smoothing (a genuinely-new token scores
    against the add-one floor rather than erroring).

    Scale shape: scoring needs the GLOBAL totals and vocabulary size,
    so the count store is read in full once per scoring batch — it is
    vocabulary-sized (the same frame the batch form shuffles), never
    corpus-sized; the term join is AQE-sized like tfidf's. The bucket
    partitioning exists for the writers (one hash exchange per epoch)
    and for future term-subset probes, not for this whole-model
    read."""
    folded = _fold_counts(read_live(spark, path, "counts"), "term")
    meta = _fold_totals(read_live(spark, path, "meta")).crossJoin(
        folded.agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    tf = (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            "lang",
            words(text_col).alias("__ws"),
        )
        .select(
            "doc_id", "lang", F.size("__ws").alias("dl"),
            F.explode("__ws").alias("word"),
        )
        .select("doc_id", "lang", "dl", F.lower("word").alias("term"))
        .groupBy("doc_id", "lang", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # unseen terms score against the add-one smoothing floor instead of
    # silently dropping (the _dsir_score raw join is inner): complete
    # the raw model over the probe's own term set with c_raw = 0. The
    # batch form never hits this case — every scored term is in its own
    # model by construction — so shared-oracle runs are unaffected.
    raw = (
        tf.select("term")
        .distinct()
        .join(folded.select("term", "c_raw"), "term", "left")
        .select(
            "term", F.coalesce("c_raw", F.lit(0).cast("long")).alias("c_raw")
        )
    )
    tgt = folded.where(F.col("c_tgt") > 0).select("term", "c_tgt")
    return _dsir_score(tf, raw, tgt, meta)


def _gram_fingerprint(g: Column) -> Column:
    """128-bit gram key: two independent xxhash64 draws as a struct.

    A single 64-bit hash starts colliding around ~5·10⁹ distinct grams
    (birthday bound) — real territory for a trillion-gram corpus; the
    paired form pushes that past 10¹⁸ while still shuffling 16 bytes
    instead of an n-word string."""
    return F.struct(
        F.xxhash64(g).alias("h1"),
        F.xxhash64(g, F.lit(0x9E3779B9)).alias("h2"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = DUP_NGRAM_N,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: bool | None = None,
) -> DataFrame:
    """Exact substring-span dedup (the transform behind Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    word n-gram instance whose n-gram occurs in ≥ 2 documents is
    REMOVED from every document except the canonical one (min doc_id
    containing the gram), and the surviving tokens are re-joined.

    Returns (doc_id, n_tokens, n_removed, cleaned_text). The canonical
    doc keeps all its instances (including intra-doc repeats); other
    docs lose every token covered by a removable instance. Tokens are
    re-joined with single spaces — original whitespace is not
    preserved (the tokenizer is the shared ``words``).

    Scale notes: the gram join is the same inverted-index class as
    :func:`cross_doc_dup_fraction`; the cover explode is ×n on
    REMOVABLE instances only (bounded by the duplicate volume, not the
    corpus); the rebuild is one per-doc aggregate over kept tokens
    (documents are bounded-length rows — a per-doc sort_array, never a
    corpus sort). ``fingerprint=None`` (default) auto-selects: at or
    above ``FINGERPRINT_AUTO_DOCS`` documents the gram-keyed shuffles
    carry 128-bit fingerprints instead of n-word strings (measured: the
    exact-string shuffle exhausts local disk at 1M docs on this
    container; the fingerprinted run fits — SCALING.md §23).
    """
    fingerprint = _resolve_fingerprint(docs, fingerprint)
    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        words(text_col).alias("__ws"),
    ).select("doc_id", "__ws", F.size("__ws").alias("dl"))
    toks = base.select(
        "doc_id", F.posexplode("__ws").alias("pos", "token")
    )
    grams = base.select(
        "doc_id",
        "dl",
        F.posexplode(shingles_of_words(F.col("__ws"), n)).alias("gpos", "g"),
    )
    if fingerprint:
        # the 100 TB path: the gram-keyed shuffles carry a 16-byte
        # 128-bit fingerprint instead of an n-word string (~6× fewer
        # shuffle bytes measured at 1M docs); collision-bounded, not
        # bit-exact, so it is an explicit opt-in — the oracle-checked
        # form uses exact strings
        grams = grams.select(
            "doc_id", "dl", "gpos", _gram_fingerprint(F.col("g")).alias("g")
        )
    stats = (
        grams.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("df") >= 2)
    )
    removable = grams.join(stats, "g").where(F.col("doc_id") != F.col("keeper"))
    covered = removable.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("gpos"),
                F.least(F.col("gpos") + F.lit(n - 1), F.col("dl") - 1),
            )
        ).alias("pos"),
    ).distinct()
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda x: x["token"],
            ),
            " ",
        ).alias("__cleaned"),
    )
    return (
        base.select("doc_id", "dl")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dl").cast("long").alias("n_tokens"),
            (F.col("dl") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("__cleaned"), F.lit("")).alias("cleaned_text"),
        )
    )
