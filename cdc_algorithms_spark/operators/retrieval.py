"""Ranked full-text retrieval (BM25) — batch and durable-index forms.

The training-data use case: given a handful of probe queries (an eval
set's topics, a contamination suspect, a targeted-selection prompt),
rank the corpus by BM25 and keep the top-k per query. This is the
fourth instance of the repo's durable-index pattern (after the Jaccard
shingle index, the PQ/ANN index, and the Z-layout store): the posting
list is written ONCE as term-bucket-partitioned parquet and every probe
statically prunes its reads down to the buckets the query's own terms
hash into — probe I/O is query-proportional, never corpus-proportional.

Determinism contract (what makes the DuckDB oracle bit-exact): each
per-term contribution ``idf(t) * tf_saturation(t, d)`` is an identical
IEEE-double expression tree in Spark and the oracle SQL, then
**quantized to a BIGINT** (``floor(contrib * 1e9)``) before summation.
Integer sums are associative, so the score is independent of Spark's
partition-order-of-summation — the one place a float BM25 would drift
between engines — and ranking on the quantized score with a ``doc_id``
tiebreak is fully deterministic. The reported ``score`` is the
quantized sum scaled back (exact to 1e-9, rounded to 6).

Scale notes (100 TB):
* The fold to ``(doc_id, term, tf)`` happens before anything joins —
  the token stream never shuffles raw.
* Query terms ride an explicit ``broadcast`` (a query is a few words).
* Document frequency is computed ONLY for the query's terms — filter
  first, then count — in BOTH the batch form and the index probe (a
  term's postings all live in its bucket, so the pruned read contains
  exactly what df needs). The full vocabulary df is corpus-sized and
  is never materialized.
* Top-k per query is the rank-window + filter form Catalyst rewrites
  with partial ``WindowGroupLimit``: each input partition keeps only
  its local top-k before the exchange.

Reference tie-in: the reference engine has no text retrieval; this
module is part of the mandated LLM-pipeline surface (task brief), built
on the same tokenizer (`functions/text.py::words`) as the dedup and
TF-IDF operators so every text operator agrees on what a "term" is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_algorithms_spark.functions.text import words
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

K1 = 1.2
B = 0.75
QUANT = 1_000_000_000  # 1e-9 contribution quantum (see module docstring)


def doc_term_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, dl, term, tf): per-document term frequencies + doc length.

    ``dl`` is the total token count (not distinct), bound to a column
    BEFORE the explode so the regex split runs once per row. Rows are
    unique on (doc_id, term).
    """
    ws = docs.select("doc_id", words("text").alias("__ws"))
    return (
        ws.select(
            "doc_id",
            F.size("__ws").alias("dl"),
            F.explode("__ws").alias("word"),
        )
        .select("doc_id", "dl", F.lower("word").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def corpus_meta(docs: DataFrame) -> DataFrame:
    """One row (n, sum_dl): corpus size + total token count.

    Kept as two exact BIGINTs (avgdl is derived inside the scoring
    expression as ``sum_dl * 1.0 / n``) so the meta row is
    storage-stable — no float round-trips through parquet.
    """
    ws = docs.select(words("text").alias("__ws"))
    return ws.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("__ws")).alias("sum_dl"),
    )


def query_terms(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    """(query_id, term) rows, distinct per query, from literal strings.

    Terms are deduplicated within a query (classic BM25 with binary
    query tf); tokenization is the shared ``words`` + lower, so query
    and corpus agree on term identity.
    """
    qdf = spark.createDataFrame(queries, "query_id long, qtext string")
    return (
        qdf.select("query_id", F.explode(words("qtext")).alias("word"))
        .select("query_id", F.lower("word").alias("term"))
        .distinct()
    )


def _contrib_q(k1: float, b: float) -> Column:
    """Quantized per-(query-term, doc) BM25 contribution.

    Expects columns tf, dl, df, n, sum_dl in scope. The expression tree
    mirrors the oracle SQL token-for-token (operand order matters for
    bit-identity): idf = ln(1 + (n - df + 0.5)/(df + 0.5)), saturation
    = tf / (tf + k1*(1 - b + b*dl/avgdl)), avgdl = sum_dl*1.0/n.
    """
    avgdl = F.col("sum_dl") * F.lit(1.0) / F.col("n")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    sat = F.col("tf") / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
    )
    return F.floor(idf * sat * F.lit(float(QUANT))).cast("long")


def _score_and_rank(
    matched: DataFrame, meta: DataFrame, k: int, k1: float, b: float
) -> DataFrame:
    """Shared tail: quantize, exact-sum, rank, top-k, format."""
    scored = (
        matched.crossJoin(F.broadcast(meta))
        .withColumn("__cq", _contrib_q(k1, b))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__cq").alias("score_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.round(F.col("score_q") / F.lit(float(QUANT)), 6).alias("score"),
        )
    )


def _bm25_from_matched(
    matched: DataFrame,
    qterms: DataFrame,
    meta: DataFrame,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Score from postings already restricted to the query's terms.

    ``matched`` must be unique on (doc_id, term) with columns
    (term, doc_id, tf, dl) — document frequency is then a plain count
    over it, computed HERE rather than stored, so an index extended
    with new epochs stays exactly-correct (df and avgdl reflect every
    generation the probe reads; nothing is stale)."""
    dfq = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    matched = matched.join(F.broadcast(dfq), "term").join(
        F.broadcast(qterms), "term"
    )
    return _score_and_rank(matched, meta, k, k1, b)


def bm25_topk(
    docs: DataFrame,
    qterms: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Batch BM25 top-k: (query_id, rank, doc_id, score).

    Postings are filtered to the query's terms FIRST (broadcast join),
    and df is counted over the filtered frame — the full vocabulary's
    document frequency is never materialized, so the batch form's
    working set is (docs containing a query term), not the corpus
    vocabulary.
    """
    postings = doc_term_frame(docs)
    matched = postings.join(F.broadcast(qterms.select("term").distinct()), "term")
    return _bm25_from_matched(matched, qterms, corpus_meta(docs), k, k1, b)


# --- Durable term-bucket-partitioned index ---------------------------------
#
# Layout (the epoch-delta discipline of the PQ/ANN store,
# similarity.py::extend_pq_index, restated for postings):
#
#     path/postings/bucket=<pmod(xxhash64(term), buckets)>/...   base
#     path/postings_delta/epoch=<n>/bucket=.../                  extends
#     path/meta/                    one row (n, sum_dl)          base
#     path/meta_delta/epoch=<n>/    one row per extend epoch
#
# Postings rows are (term, doc_id, tf, dl), unique on (doc_id, term)
# across ALL generations (a doc arrives exactly once). Because the
# probe derives df from the postings it reads and (n, avgdl) from the
# summed meta rows, an extended index is BIT-IDENTICAL to a one-shot
# index over seed ∪ batches — a stronger contract than the PQ store's
# frozen-model approximation, and it falls out of storing only counts.


TEXT_INDEX_BUCKETS = 32  # CAP since r12; actual counts are size-adaptive


def _sum_meta(meta: DataFrame) -> DataFrame:
    """One (n, sum_dl) row from the per-generation meta rows."""
    return meta.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    )


def _postings_frame(docs: DataFrame, buckets: int) -> DataFrame:
    return doc_term_frame(docs).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets))
    )


def write_text_index(
    docs: DataFrame, path: str, buckets: int | None = None
) -> None:
    """Write the base BM25 posting index (see layout comment above).

    The bucket count bounds probe fan-in: a q-term query touches ≤ q
    partition directories per generation regardless of corpus size.
    ``buckets`` defaults to a size-adaptive count recorded in the
    store's ``_store_meta.json``; probes and extends resolve it from
    there.
    """
    if buckets is None:
        buckets = adaptive_buckets(docs.count(), TEXT_INDEX_BUCKETS, 64)
    write_partitioned(_postings_frame(docs, buckets), path + "/postings", "bucket")
    corpus_meta(docs).write.mode("overwrite").parquet(path + "/meta")
    write_json(docs.sparkSession, f"{path}/{STORE_META}", {"buckets": int(buckets)})


def extend_text_index(
    spark: SparkSession,
    path: str,
    batch_docs: DataFrame,
    epoch: int,
    buckets: int | None = None,
) -> None:
    """Add a batch of new documents to a durable text index WITHOUT
    touching resident postings: the batch's postings land bucket-
    partitioned under ``postings_delta/epoch=<n>`` and its exact
    (n, sum_dl) counts under ``meta_delta/epoch=<n>``. Per-epoch
    OVERWRITE keeps foreachBatch's at-least-once replay idempotent.
    Cost tracks the batch (one tokenize + one hash exchange over the
    batch alone); probes stay exact across generations because df and
    avgdl are derived at read time (see layout comment). ``buckets``
    resolves from the store meta (``storeio.resolve_buckets``)."""
    [buckets] = resolve_buckets(
        read_json(spark, f"{path}/{STORE_META}"),
        f"extend_text_index({path})",
        buckets=(buckets, TEXT_INDEX_BUCKETS),
    )
    write_partitioned(
        _postings_frame(batch_docs, buckets),
        epoch_dir(spark, path, "postings", epoch),
        "bucket",
    )
    corpus_meta(batch_docs).write.mode("overwrite").parquet(
        epoch_dir(spark, path, "meta", epoch)
    )


def compact_text_index(spark: SparkSession, path: str) -> None:
    """Fold epoch deltas back into one base store — the text-index
    OPTIMIZE (``storeio.compact_delta_store``: stage the merged store
    with its manifest, park the old base, install, drop deltas last, so
    a crash at any point leaves a readable index). Postings are
    immutable rows — the merge is a pure union, no dedup logic; the
    meta rows sum."""
    compact_delta_store(spark, path, {
        "postings": lambda live, dest: write_partitioned(live, dest, "bucket"),
        "meta": lambda live, dest: _sum_meta(live).write.mode(
            "overwrite"
        ).parquet(dest),
    })


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    qterms: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    buckets: int | None = None,
) -> DataFrame:
    """Probe the durable index: identical output to :func:`bm25_topk`
    over base ∪ every extend epoch.

    The probe collects the query terms' bucket ids (≤ #query-terms
    values — a driver list the size of the query, never the corpus) and
    filters every generation's posting scan on the partition column, so
    Spark prunes each read down to those directories statically
    (PartitionFilters — pinned in tests/test_plans.py and
    tests/test_retrieval.py). ``buckets`` resolves from the store meta
    (``storeio.resolve_buckets``) — pruning with the wrong modulus would
    silently read the wrong directories.
    """
    [buckets] = resolve_buckets(
        read_json(spark, f"{path}/{STORE_META}"),
        f"bm25_topk_indexed({path})",
        buckets=(buckets, TEXT_INDEX_BUCKETS),
    )
    bkts = [
        r["bucket"]
        for r in qterms.select(
            F.pmod(F.xxhash64("term"), F.lit(buckets)).alias("bucket")
        )
        .distinct()
        .collect()
    ]
    matched = (
        read_live(spark, path, "postings")
        .where(F.col("bucket").isin(bkts))
        .join(F.broadcast(qterms.select("term").distinct()), "term")
    )
    meta = _sum_meta(read_live(spark, path, "meta"))
    return _bm25_from_matched(matched, qterms, meta, k, k1, b)


# --- Hybrid retrieval: quantized MIPS + reciprocal-rank fusion ---------------

MIPS_SCALE = 1_048_576  # 2^20: float→int quantization is EXACT (power of 2)
RRF_K0 = 60
RRF_DEPTH = 50


def quantize_vec(col: Column | str) -> Column:
    """float[] → BIGINT[]: ``floor(double(x) * 2^20)`` per component.

    Multiplying by a power of two is exact in IEEE arithmetic, so both
    engines produce identical integers from the same parquet floats —
    the device that makes similarity ranking ORDER-EXACT across
    engines (a float dot product's summation order is not)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * F.lit(float(MIPS_SCALE))).cast("long")
    )


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = RRF_DEPTH,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximum-inner-product top-k with QUANTIZED integer arithmetic:
    (query_id, doc_id, rank). The dot product is a BIGINT sum over the
    quantized components — exact, associative, engine-identical — so
    ranks are fully deterministic (tiebreak on id). Queries ride an
    explicit broadcast (a probe set is small); the corpus is scanned
    map-side once. This is the brute-force tier — the IVF/PQ store
    (similarity.py) is the corpus-scale path; hybrid fusion only needs
    the top ``k`` of a probe set, which is exactly this shape."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        quantize_vec(vec_col).alias("__qv"),
    )
    d = corpus.select(
        F.col(corpus_id).cast("long").alias("doc_id"),
        quantize_vec(vec_col).alias("__dv"),
    )
    dot = F.aggregate(
        F.zip_with("__qv", "__dv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = d.crossJoin(F.broadcast(q)).select(
        "query_id", "doc_id", dot.alias("__dot")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__dot"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k0: int = RRF_K0,
) -> DataFrame:
    """Reciprocal-rank fusion over any number of (query_id, doc_id,
    rank) frames: score = Σ floor(1e9 / (k0 + rank)) summed as exact
    BIGINTs (1e9/(k0+rank) is a double division shared verbatim by the
    oracle; its floor is engine-identical), final rank over (score
    DESC, doc_id). A doc absent from one ranking simply contributes
    nothing from it — standard RRF semantics."""
    allr = rankings[0]
    for r in rankings[1:]:
        allr = allr.unionByName(r)
    contrib = F.floor(
        F.lit(float(QUANT)) / (F.lit(k0) + F.col("rank"))
    ).cast("long")
    fused = (
        allr.withColumn("__c", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__c").alias("rrf_q"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_q"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.round(F.col("rrf_q") / F.lit(float(QUANT)), 6).alias("rrf_score"),
        )
    )


def bm25_ranks(
    docs: DataFrame,
    qterms: DataFrame,
    depth: int = RRF_DEPTH,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """(query_id, doc_id, rank) to fusion depth — the lexical leg of
    hybrid search, same scoring machinery as :func:`bm25_topk`."""
    return bm25_topk(docs, qterms, k=depth, k1=k1, b=b).select(
        "query_id", "doc_id", "rank"
    )


def hard_negatives(
    lex: DataFrame,
    sem: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Mine hard negatives for contrastive retriever training: documents
    a LEXICAL ranker scores highly that the SEMANTIC ranker does NOT
    return — the classic BM25-negatives recipe (lexically confusable,
    semantically wrong), as (query_id, rank, doc_id, lex_rank).

    ``lex``/``sem`` are (query_id, doc_id, rank) frames (bm25_ranks /
    mips_topk); the anti-join keeps lex candidates absent from sem's
    top set, ranked by their lexical rank with the usual doc_id
    tiebreak. Pure rank arithmetic — deterministic end to end."""
    neg = lex.join(sem, ["query_id", "doc_id"], "left_anti")
    return (
        neg.withColumnRenamed("rank", "lex_rank")
        .withColumn(
            "rank",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("lex_rank"), F.asc("doc_id")
                )
            )
            .cast("long"),
        )
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "lex_rank")
    )
