"""Streaming change-feed query: stateful per-source chunk diff between
two corpus versions, oracle-checked against the SQL multiset diff.

The stream carries (src_id, version, text): version 0 = the documents
table, version 1 = the deterministically perturbed copy (diff.py's
PERTURB_SQL), in separate micro-batches so the diff state crosses a
batch boundary. The DuckDB oracle recomputes both versions' fixed-chunk
multisets and the same inserted/deleted/unchanged accounting per
(src_id, version).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.diff import PERTURB_SQL, perturb_documents
from cdc_algorithms_spark.queries import register
from cdc_algorithms_spark.sources.registry import load_table
from cdc_algorithms_spark.streaming import chunk_change_feed, run_staged_stream

_SIZE = 64

_CHANGE_FEED_ORACLE = f"""
WITH new_docs AS ({PERTURB_SQL}),
oc AS (
  SELECT d.doc_id AS src_id,
         substring(d.text, CAST(u.off + 1 AS INT), {_SIZE}) AS chunk_text,
         CAST(LEAST({_SIZE}, d.n_chars - u.off) AS BIGINT) AS len
  FROM documents d, UNNEST(range(0, d.n_chars, {_SIZE})) AS u(off)
),
nc AS (
  SELECT d.doc_id AS src_id,
         substring(d.text, CAST(u.off + 1 AS INT), {_SIZE}) AS chunk_text,
         CAST(LEAST({_SIZE}, d.n_chars - u.off) AS BIGINT) AS len
  FROM new_docs d, UNNEST(range(0, d.n_chars, {_SIZE})) AS u(off)
),
o AS (SELECT src_id, chunk_text, COUNT(*) AS n, MAX(len) AS len
      FROM oc GROUP BY src_id, chunk_text),
n AS (SELECT src_id, chunk_text, COUNT(*) AS n, MAX(len) AS len
      FROM nc GROUP BY src_id, chunk_text),
v0 AS (
  SELECT src_id, CAST(0 AS BIGINT) AS version,
         CAST(SUM(n) AS BIGINT) AS n_inserted,
         CAST(0 AS BIGINT) AS n_deleted,
         CAST(0 AS BIGINT) AS n_unchanged,
         CAST(SUM(n * len) AS BIGINT) AS inserted_bytes,
         1.0 AS change_ratio
  FROM o GROUP BY src_id
),
v1 AS (
  SELECT COALESCE(o.src_id, n.src_id) AS src_id, CAST(1 AS BIGINT) AS version,
         CAST(SUM(GREATEST(COALESCE(n.n, 0) - COALESCE(o.n, 0), 0)) AS BIGINT) AS n_inserted,
         CAST(SUM(GREATEST(COALESCE(o.n, 0) - COALESCE(n.n, 0), 0)) AS BIGINT) AS n_deleted,
         CAST(SUM(LEAST(COALESCE(o.n, 0), COALESCE(n.n, 0))) AS BIGINT) AS n_unchanged,
         CAST(SUM(GREATEST(COALESCE(n.n, 0) - COALESCE(o.n, 0), 0)
                  * COALESCE(n.len, o.len)) AS BIGINT) AS inserted_bytes,
         ROUND(SUM(GREATEST(COALESCE(n.n, 0) - COALESCE(o.n, 0), 0)
                   * COALESCE(n.len, o.len)) * 1.0
               / GREATEST(SUM(COALESCE(n.n, 0) * COALESCE(n.len, 0)), 1), 6)
           AS change_ratio
  FROM o FULL OUTER JOIN n
    ON o.src_id = n.src_id AND o.chunk_text = n.chunk_text
  GROUP BY COALESCE(o.src_id, n.src_id)
)
SELECT * FROM v0 UNION ALL SELECT * FROM v1
"""


@register("streaming_change_feed", _CHANGE_FEED_ORACLE)
def streaming_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    v0 = docs.select(
        F.col("doc_id").cast("long").alias("src_id"),
        F.lit(0).cast("long").alias("version"),
        "text",
    )
    v1 = perturb_documents(docs).select(
        F.col("doc_id").cast("long").alias("src_id"),
        F.lit(1).cast("long").alias("version"),
        "text",
    )
    return run_staged_stream(
        spark, [v0, v1], lambda s: chunk_change_feed(s, _SIZE)
    )


# --- foreachBatch incremental delta-sync -----------------------------------

_SYNC_TOTALS_ORACLE = f"""
WITH new_docs AS ({PERTURB_SQL}),
old_chunks AS (
  SELECT substring(d.text, CAST(u.off + 1 AS INT), {_SIZE}) AS chunk_text
  FROM documents d, UNNEST(range(0, d.n_chars, {_SIZE})) AS u(off)
),
new_chunks AS (
  SELECT substring(d.text, CAST(u.off + 1 AS INT), {_SIZE}) AS chunk_text,
         CAST(LEAST({_SIZE}, d.n_chars - u.off) AS BIGINT) AS length
  FROM new_docs d, UNNEST(range(0, d.n_chars, {_SIZE})) AS u(off)
),
store AS (SELECT DISTINCT chunk_text FROM old_chunks),
per_key AS (
  SELECT n.chunk_text, SUM(n.length) AS bytes_all, MAX(n.length) AS bytes_one,
         s.chunk_text IS NOT NULL AS in_store
  FROM new_chunks n LEFT JOIN store s USING (chunk_text)
  GROUP BY n.chunk_text, in_store
)
SELECT CAST(SUM(bytes_all) AS BIGINT) AS total_bytes,
  CAST(COALESCE(SUM(CASE WHEN in_store THEN bytes_all END), 0) AS BIGINT)
    AS reused_old_bytes,
  CAST(COALESCE(SUM(CASE WHEN NOT in_store THEN bytes_one END), 0) AS BIGINT)
    AS transfer_bytes,
  CAST(COALESCE(SUM(CASE WHEN NOT in_store THEN bytes_all - bytes_one END), 0) AS BIGINT)
    AS dedup_new_bytes
FROM per_key
"""


@register("streaming_sync_totals", _SYNC_TOTALS_ORACLE)
def streaming_sync_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental delta-sync (streaming/sync.py): the new
    snapshot's chunks stream in 3 micro-batches against a persistent
    content store seeded with the old snapshot; converged totals must
    equal the batch sync plan's global byte accounting."""
    import tempfile

    from cdc_algorithms_spark.operators.chunking import fixed_chunks
    from cdc_algorithms_spark.streaming.sync import run_incremental_sync

    docs = load_table(spark, "documents", sf_dir)
    old = fixed_chunks(docs, _SIZE)
    new = fixed_chunks(perturb_documents(docs), _SIZE).select(
        "src_id", "chunk_text", "length"
    )
    stages = [new.where(F.col("src_id") % 3 == i).drop("src_id") for i in range(3)]
    workdir = tempfile.mkdtemp(prefix="cdc_sync_store_")
    try:
        result = run_incremental_sync(spark, old, stages, workdir)
        # materialize before the store dirs vanish — safe to collect:
        # run_incremental_sync returns GLOBAL TOTALS (a fixed handful of
        # aggregate rows, independent of corpus size), never per-chunk
        # rows; a corpus-proportional result would have to be written
        # out instead (sinks.py) before the tempdir cleanup
        rows = result.collect()
    finally:
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


# --- streaming novel-chunk detection vs a static baseline -------------------
# Incremental corpus ingest: new documents stream in, each micro-batch's
# chunks are anti-joined against the baseline corpus's (static,
# broadcast) chunk set, and the running novel-content tally converges to
# the batch set difference. This is delta-ingest change detection — the
# streaming face of snapshot_diff — and fully oracle-checkable because
# the join key is the chunk text itself (fixed chunking is pure SQL).
# At scale the static side is a bucketed chunk-store table (sinks.py)
# instead of a broadcast; the stream side is unchanged.

_NOVEL_SIZE = 64

_NOVEL_ORACLE = f"""
WITH base AS (
  SELECT DISTINCT substring(d.text, CAST(u.off + 1 AS INT), {_NOVEL_SIZE}) AS chunk_text
  FROM documents d, UNNEST(range(0, d.n_chars, {_NOVEL_SIZE})) AS u(off)
  WHERE d.doc_id % 2 = 0
),
novel AS (
  SELECT d.lang,
         substring(d.text, CAST(u.off + 1 AS INT), {_NOVEL_SIZE}) AS chunk_text,
         CAST(LEAST({_NOVEL_SIZE}, d.n_chars - u.off) AS BIGINT) AS length
  FROM documents d, UNNEST(range(0, d.n_chars, {_NOVEL_SIZE})) AS u(off)
  WHERE d.doc_id % 2 = 1
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_novel_chunks,
       CAST(SUM(length) AS BIGINT) AS novel_bytes
FROM novel
WHERE chunk_text NOT IN (SELECT chunk_text FROM base)
GROUP BY lang
"""


@register("streaming_novel_chunks_by_lang", _NOVEL_ORACLE)
def streaming_novel_chunks_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_algorithms_spark.operators.chunking import fixed_chunks
    from cdc_algorithms_spark.streaming import run_staged_stream

    docs = load_table(spark, "documents", sf_dir)
    baseline = (
        fixed_chunks(docs.where(F.col("doc_id") % 2 == 0), _NOVEL_SIZE)
        .select("chunk_text")
        .distinct()
    )
    lang_map = docs.select(F.col("doc_id").cast("long").alias("m_id"), "lang")
    incoming = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    stages = [incoming.where(F.col("doc_id") % 6 == 2 * i + 1) for i in range(3)]

    def build(stream: DataFrame) -> DataFrame:
        chunks = fixed_chunks(stream, _NOVEL_SIZE)
        novel = chunks.join(F.broadcast(baseline), "chunk_text", "left_anti")
        return (
            novel.join(F.broadcast(lang_map), novel.src_id == F.col("m_id"))
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_novel_chunks"),
                F.sum("length").cast("long").alias("novel_bytes"),
            )
        )

    return run_staged_stream(spark, stages, build, output_mode="complete")


# --- streaming near-dup index maintenance ------------------------------------
# Ingest → near-dup-index → dedup as one continuous pipeline
# (streaming/near_dup.py): the batch docs (doc_id % 3 == 0) arrive in 3
# micro-batches, each probing the persisted MinHash band index seeded
# from the corpus and extending it. The converged pair set must equal
# the one-shot incremental join — the same exact-Jaccard oracle as
# incremental_jaccard_pairs — no matter how the stream is batched.


from cdc_algorithms_spark.queries_text import _INCR_JACCARD_ORACLE


@register("streaming_near_dup_index", _INCR_JACCARD_ORACLE)
def streaming_near_dup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence oracle: the accumulated streaming pair set equals
    the EXACT Jaccard pairs touching the streamed docs — valid for the
    same reason incremental_minhash_pairs shares this oracle
    (verification makes precision exact; the 32/8 banding misses zero
    J≥0.8 pairs on the driver corpus), plus the find-once argument in
    streaming/near_dup.py for cross-micro-batch pairs."""
    import tempfile

    from cdc_algorithms_spark.queries_text import (
        JACCARD_N,
        JACCARD_THRESHOLD,
        LSH_MAX_BUCKET,
    )
    from cdc_algorithms_spark.streaming.near_dup import (
        run_streaming_near_dup_index,
    )

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    incoming = docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    stages = [incoming.where(F.col("doc_id") % 9 == 3 * i) for i in range(3)]
    workdir = tempfile.mkdtemp(prefix="cdc_neardup_store_")
    try:
        result = run_streaming_near_dup_index(
            spark,
            corpus,
            stages,
            workdir,
            n=JACCARD_N,
            num_hashes=32,
            bands=8,
            threshold=JACCARD_THRESHOLD,
            max_bucket=LSH_MAX_BUCKET,
        )
        rows = result.collect()  # small pair frame; outlives the tempdir
        schema = result.schema
    finally:
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@register("streaming_near_dup_compacted", _INCR_JACCARD_ORACLE)
def streaming_near_dup_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pipeline with its store OPTIMIZE exercised
    MID-STREAM: after the first micro-batch, api.compact_stream_store
    folds the band-index and doc-store epochs into their ``seed``
    (storeio.compact_delta_store: manifest-guarded rename-first swap —
    the same crash-window discipline as every durable store here), and
    the remaining batches probe the FOLDED stores. The converged pair
    set must still equal the one-shot exact join — compaction is
    storage maintenance, not semantics — so this row shares
    streaming_near_dup_index's oracle verbatim. Scale point: the probe
    reads each store as two scans at any epoch count, but without
    periodic folding every epoch's files stay listed and opened by
    every later probe (the §19 economics, restated for the 4th durable
    store)."""
    import tempfile

    from cdc_algorithms_spark.queries_text import (
        JACCARD_N,
        JACCARD_THRESHOLD,
        LSH_MAX_BUCKET,
    )
    from cdc_algorithms_spark.streaming.near_dup import (
        run_streaming_near_dup_index,
    )

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    incoming = docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    stages = [incoming.where(F.col("doc_id") % 9 == 3 * i) for i in range(3)]
    workdir = tempfile.mkdtemp(prefix="cdc_neardup_compact_")
    try:
        result = run_streaming_near_dup_index(
            spark,
            corpus,
            stages,
            workdir,
            n=JACCARD_N,
            num_hashes=32,
            bands=8,
            threshold=JACCARD_THRESHOLD,
            max_bucket=LSH_MAX_BUCKET,
            compact_after={0, 1},
        )
        rows = result.collect()  # small pair frame; outlives the tempdir
        schema = result.schema
    finally:
        import shutil

        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# End-to-end streaming ingest: dedup -> keep -> compaction manifest
# ---------------------------------------------------------------------------
# The composition showcase (streaming/ingest_pipeline.py): every
# document flows through the continuous foreachBatch loop — band-index
# probe, exact-verified near-dup pairs, greedy keep-first dedup, and
# cross-batch bin-packed routing — and the converged manifest must
# equal the BATCH composition in one SQL statement: compaction_plan
# over "docs that are not the greater id of any exact J>=t pair".


def _build_ingest_pipeline_oracle() -> str:
    from cdc_algorithms_spark.queries_text import (
        _shingles_cte,
        _WORDS_CTE,
        JACCARD_N,
        JACCARD_THRESHOLD,
    )

    return f"""
WITH {_WORDS_CTE}, {_shingles_cte(JACCARD_N)},
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
s AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
dup AS (
  SELECT DISTINCT id_b FROM p
  JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
  WHERE ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6)
        >= {JACCARD_THRESHOLD}
),
kept AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE doc_id NOT IN (SELECT id_b FROM dup)
),
cum AS (
  SELECT source, doc_id, n_chars,
         COALESCE(SUM(n_chars) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM kept
),
assigned AS (
  SELECT source,
         CAST(FLOOR(CAST(before AS DOUBLE) / 4096.0) AS BIGINT) AS file_seq,
         doc_id, n_chars
  FROM cum
)
SELECT source AS "group", file_seq,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       MIN(doc_id) AS first_item,
       MAX(doc_id) AS last_item
FROM assigned GROUP BY 1, 2
"""


@register("streaming_ingest_pipeline", _build_ingest_pipeline_oracle())
def q_streaming_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous ingest loop end-to-end
    (streaming/ingest_pipeline.py): documents arrive in three
    id-ordered micro-batch stages through ONE foreachBatch pipeline
    that probes/extends the near-dup band index, keeps each batch's
    non-duplicate docs (greedy keep-first — exact under the id-ordered
    arrival contract), and routes the kept docs into the cross-batch
    compaction manifest. The converged manifest equals the batch
    composition: compaction_plan over the exact keep set (the oracle's
    single SQL statement), for any micro-batching within the
    contract."""
    import shutil
    import tempfile

    from cdc_algorithms_spark.queries_text import (
        JACCARD_N,
        JACCARD_THRESHOLD,
        LSH_MAX_BUCKET,
    )
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        run_streaming_ingest_pipeline,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "source", "n_chars"
    )
    c1, c2 = docs.agg(
        F.expr("percentile(doc_id, 0.34)"), F.expr("percentile(doc_id, 0.67)")
    ).first()
    stages = [
        docs.where(F.col("doc_id") <= c1),
        docs.where((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)),
        docs.where(F.col("doc_id") > c2),
    ]
    workdir = tempfile.mkdtemp(prefix="cdc_ingest_store_")
    try:
        manifest = run_streaming_ingest_pipeline(
            spark,
            stages,
            workdir,
            n=JACCARD_N,
            num_hashes=32,
            bands=8,
            threshold=JACCARD_THRESHOLD,
            max_bucket=LSH_MAX_BUCKET,
            target_bytes=4096,
        )
        result = manifest.groupBy(
            F.col("source").alias("group"), F.col("file_seq")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("n_chars").cast("long").alias("total_bytes"),
            F.min("doc_id").alias("first_item"),
            F.max("doc_id").alias("last_item"),
        )
        rows = result.collect()  # small manifest; outlives the tempdir
        schema = result.schema
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Arrival-contract enforcement: out-of-order ingest is DETECTED, not silent
# ---------------------------------------------------------------------------
# The ingest loop's keep-first rule is exact under id-ordered arrival;
# r07 turns that contract into an enforced invariant — a max-id
# watermark per batch quarantines late documents deterministically.
# This check DELIBERATELY violates the contract (a deterministic slice
# of each stage is delayed into the next) and requires the full
# disposition of every document — kept (with its compaction routing),
# dropped (near-dup of a smaller accepted id), or quarantined — to
# equal one SQL statement: the watermark algebra (a late doc is one
# below the max id of any earlier stage), then the batch composition
# over exactly the accepted set.


def _build_ingest_disorder_oracle() -> str:
    from cdc_algorithms_spark.queries_text import (
        JACCARD_N,
        JACCARD_THRESHOLD,
    )

    nm1 = JACCARD_N - 1
    return rf"""
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
staged AS (
  SELECT d.doc_id, d.source, d.n_chars, d.text,
         LEAST((d.doc_id * 3) // (m + 1)
               + CASE WHEN d.doc_id % 7 = 3 THEN 1 ELSE 0 END, 2) AS stg
  FROM documents d, mx
),
quar AS (
  SELECT s.doc_id FROM staged s
  WHERE s.stg > 0
    AND s.doc_id < (SELECT MAX(p.doc_id) FROM staged p WHERE p.stg < s.stg)
),
acc AS (
  SELECT * FROM staged WHERE doc_id NOT IN (SELECT doc_id FROM quar)
),
w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS words
  FROM acc
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+{nm1}], ' ') AS shingle
  FROM w, UNNEST(range(1, greatest(len(words) - {nm1}, 1) + 1)) AS t(i)
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
dup AS (
  SELECT DISTINCT id_b FROM p
  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6)
        >= {JACCARD_THRESHOLD}
),
kept AS (
  SELECT doc_id, source, n_chars FROM acc
  WHERE doc_id NOT IN (SELECT id_b FROM dup)
),
cum AS (
  SELECT source, doc_id, n_chars,
         COALESCE(SUM(n_chars) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM kept
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'kept' AS status, source,
       CAST(FLOOR(CAST(before AS DOUBLE) / 4096.0) AS BIGINT) AS file_seq
FROM cum
UNION ALL
SELECT CAST(doc_id AS BIGINT), 'quarantined', source, CAST(NULL AS BIGINT)
FROM staged WHERE doc_id IN (SELECT doc_id FROM quar)
UNION ALL
SELECT CAST(doc_id AS BIGINT), 'dropped', source, CAST(NULL AS BIGINT)
FROM acc WHERE doc_id IN (SELECT id_b FROM dup)
"""


@register("streaming_ingest_disorder_check", _build_ingest_disorder_oracle())
def q_streaming_ingest_disorder_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-contract ENFORCEMENT end-to-end
    (streaming/ingest_pipeline.py): documents arrive in three stages
    with a DELIBERATE bounded disorder — ids with doc_id % 7 == 3 are
    delayed one stage — and the pipeline's max-id watermark quarantines
    every late document instead of letting it silently break the
    greedy-keep equivalence. The result is the full disposition of
    every document: kept (with its converged compaction file_seq),
    dropped (near-dup of a smaller accepted id), or quarantined. The
    oracle derives the same disposition in one SQL statement — the
    watermark algebra reduces to 'late iff below the max id of any
    earlier stage' because the max arrived id is always accepted — so
    the quarantined set is accounted for exactly, and the manifest
    equals the batch composition over exactly the accepted docs."""
    import shutil
    import tempfile

    from cdc_algorithms_spark.queries_text import (
        JACCARD_N,
        JACCARD_THRESHOLD,
        LSH_MAX_BUCKET,
    )
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        run_streaming_ingest_pipeline,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "source", "n_chars"
    )
    mx = docs.agg(F.max("doc_id")).first()[0]
    staged = docs.withColumn(
        "__stg",
        F.least(
            F.expr(f"(doc_id * 3) DIV ({int(mx)} + 1)")
            + F.when(F.col("doc_id") % 7 == 3, F.lit(1)).otherwise(F.lit(0)),
            F.lit(2),
        ),
    )
    stages = [staged.where(F.col("__stg") == i).drop("__stg") for i in range(3)]
    workdir = tempfile.mkdtemp(prefix="cdc_ingest_disorder_")
    try:
        manifest, quarantine = run_streaming_ingest_pipeline(
            spark,
            stages,
            workdir,
            n=JACCARD_N,
            num_hashes=32,
            bands=8,
            threshold=JACCARD_THRESHOLD,
            max_bucket=LSH_MAX_BUCKET,
            target_bytes=4096,
            return_quarantine=True,
        )
        kept = manifest.select(
            "doc_id", F.lit("kept").alias("status"), "source", "file_seq"
        )
        quar = quarantine.select(
            "doc_id",
            F.lit("quarantined").alias("status"),
            "source",
            F.lit(None).cast("long").alias("file_seq"),
        )
        settled = kept.unionByName(quar)
        dropped = (
            docs.join(settled.select("doc_id"), "doc_id", "left_anti")
            .select(
                "doc_id",
                F.lit("dropped").alias("status"),
                "source",
                F.lit(None).cast("long").alias("file_seq"),
            )
        )
        result = settled.unionByName(dropped)
        rows = result.collect()  # doc-count-sized; outlives the tempdir
        schema = result.schema
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)
