"""Query registry: every implemented operator exposed as a named query.

Each entry pairs a PySpark implementation ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an equivalent ANSI-SQL string the DuckDB
oracle can run on the same parquet fixtures. The driver compares
row-count + schema + order-insensitive value hash at sf0.01
(``__spark_entry__.py`` re-exports these dicts).

Naming rule: every computed column is aliased identically on both sides —
the driver's compare sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.chunking import cdc_chunks, fixed_chunks
from cdc_algorithms_spark.operators.dedup import dedup_stats
from cdc_algorithms_spark.sources.registry import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

SPARK_QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optionally its DuckDB oracle) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Fixed chunking (reference: fixed.rs:20-52) — pure SQL, fully oracle-checked
# ---------------------------------------------------------------------------

FIXED_SIZE = 64  # bytes; FIXTURES.md recommends 16-64 for the ~100-500 char docs

_FIXED_CHUNKS_ORACLE = f"""
SELECT d.doc_id AS src_id,
       'fixed{FIXED_SIZE}' AS algo,
       CAST(u.off / {FIXED_SIZE} AS BIGINT) AS chunk_idx,
       CAST(u.off AS BIGINT) AS "offset",
       CAST(LEAST({FIXED_SIZE}, d.n_chars - u.off) AS BIGINT) AS length,
       substring(d.text, CAST(u.off + 1 AS INT), {FIXED_SIZE}) AS chunk_text
FROM documents d, UNNEST(range(0, d.n_chars, {FIXED_SIZE})) AS u(off)
"""


@register("fixed_chunks", _FIXED_CHUNKS_ORACLE)
def q_fixed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return fixed_chunks(docs, FIXED_SIZE)


_FIXED_DEDUP_ORACLE = f"""
WITH chunks AS ({_FIXED_CHUNKS_ORACLE}),
per_key AS (
    SELECT algo, chunk_text,
           COUNT(*) AS occurrences,
           SUM(length) AS bytes_all,
           MAX(length) AS bytes_one
    FROM chunks GROUP BY algo, chunk_text
)
SELECT algo,
       CAST(SUM(bytes_all) AS BIGINT) AS total_bytes,
       CAST(SUM(bytes_one) AS BIGINT) AS unique_bytes,
       CAST(SUM(occurrences) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_unique,
       ROUND(SUM(bytes_one) * 1.0 / SUM(bytes_all), 6) AS dedup_coeff,
       ROUND(SUM(bytes_all) * 1.0 / COUNT(*), 6) AS avg_chunk,
       ROUND(SUM(bytes_one) * 1.0 / COUNT(*), 6) AS avg_chunk_unique
FROM per_key GROUP BY algo
"""


@register("fixed_dedup_stats", _FIXED_DEDUP_ORACLE)
def q_fixed_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup_stats(fixed_chunks(docs, FIXED_SIZE))


# ---------------------------------------------------------------------------
# CDC chunkers (reference: ae.rs / rabin.rs / fastcdc.rs) — boundary
# computation is not SQL-expressible, so the chunk tables and dedup stats
# get rows-only driver checks; the *_concat_check queries cross-verify the
# chunkers' byte accounting against DuckDB (sum of chunk lengths per doc
# must equal the fixture's n_chars — FIXTURES.md invariant 1).
# ---------------------------------------------------------------------------

# Scaled-down parameters per FIXTURES.md: docs are ~100-500 bytes (vs the
# reference's multi-MB tar), so expected sizes are bytes-not-KiB. AE's
# reference window formula needs expected > 256 (ae.rs:26), hence 320.
CDC_CONFIGS: dict[str, dict] = {
    "ae": {"algo": "ae", "expected_size": 320},          # window = 64
    "rabin": {"algo": "rabin", "expected_size": 64, "seed": 0},
    "fastcdc": {"algo": "fastcdc", "expected_size": 64, "seed": 1},
}

_CONCAT_ORACLE = """
SELECT doc_id AS src_id, CAST(n_chars AS BIGINT) AS total_len
FROM documents
WHERE n_chars > 0  -- the chunkers emit no row for an empty doc
"""


# Contiguity oracles — strictly stronger than the byte-sum concat
# checks, via the coverage-derivative argument: treat each chunk as +1
# at its start offset and −1 at its end; summing the deltas PER
# POSITION, a perfect tiling of [0, L) with multiplicity one has net +1
# at exactly one position (0), −1 at exactly one position (L), and 0
# everywhere else — any overlap, gap, shift, or duplicate leaves a
# nonzero interior delta, even when byte totals and the overall span
# cancel (e.g. a 5-byte overlap plus a 5-byte gap passes concat AND a
# naive span==sum test, but fails here). Two aggregates keyed on
# (src, position) — no per-source window, hot positions combine
# map-side.


def _tiling_check(chunks: DataFrame, per_src: bool) -> DataFrame:
    keys = ["src_id"] if per_src else []
    deltas = chunks.select(
        *keys, F.col("offset").alias("pos"), F.lit(1).alias("d")
    ).unionByName(
        chunks.select(
            *keys,
            (F.col("offset") + F.col("length")).alias("pos"),
            F.lit(-1).alias("d"),
        )
    )
    net = deltas.groupBy(*keys, "pos").agg(F.sum("d").alias("net"))
    zero = F.lit(0)
    return net.groupBy(*keys).agg(
        F.coalesce(F.sum(F.when(F.col("net") == 1, 1)), zero)
        .cast("long")
        .alias("n_source_pos"),
        F.coalesce(F.sum(F.when(F.col("net") == -1, 1)), zero)
        .cast("long")
        .alias("n_sink_pos"),
        F.coalesce(F.sum(F.when(~F.col("net").isin(1, -1, 0), 1)), zero)
        .cast("long")
        .alias("n_bad_pos"),
        F.coalesce(F.min(F.when(F.col("net") == 1, F.col("pos"))), F.lit(-1))
        .cast("long")
        .alias("start_pos"),
        F.coalesce(F.max(F.when(F.col("net") == -1, F.col("pos"))), F.lit(-1))
        .cast("long")
        .alias("end_pos"),
    )


_TILING_ORACLE = """
SELECT doc_id AS src_id,
       CAST(1 AS BIGINT) AS n_source_pos,
       CAST(1 AS BIGINT) AS n_sink_pos,
       CAST(0 AS BIGINT) AS n_bad_pos,
       CAST(0 AS BIGINT) AS start_pos,
       CAST(n_chars AS BIGINT) AS end_pos
FROM documents WHERE n_chars > 0
"""


def _register_cdc(name: str, conf: dict) -> None:
    def q_chunks(spark: SparkSession, sf_dir: str, _c=conf) -> DataFrame:
        return cdc_chunks(load_table(spark, "documents", sf_dir), **_c)

    def q_concat(spark: SparkSession, sf_dir: str, _c=conf) -> DataFrame:
        chunks = cdc_chunks(load_table(spark, "documents", sf_dir), **_c)
        return chunks.groupBy("src_id").agg(
            F.sum("length").cast("long").alias("total_len")
        )

    def q_stats(spark: SparkSession, sf_dir: str, _c=conf) -> DataFrame:
        chunks = cdc_chunks(load_table(spark, "documents", sf_dir), **_c)
        return dedup_stats(chunks)

    def q_tiling(spark: SparkSession, sf_dir: str, _c=conf) -> DataFrame:
        chunks = cdc_chunks(load_table(spark, "documents", sf_dir), **_c)
        return _tiling_check(chunks, per_src=True)

    SPARK_QUERIES[f"{name}_chunks"] = q_chunks
    SPARK_QUERIES[f"{name}_concat_check"] = q_concat
    ORACLE_SQL[f"{name}_concat_check"] = _CONCAT_ORACLE
    SPARK_QUERIES[f"{name}_dedup_stats"] = q_stats
    SPARK_QUERIES[f"{name}_tiling_check"] = q_tiling
    ORACLE_SQL[f"{name}_tiling_check"] = _TILING_ORACLE


for _name, _conf in CDC_CONFIGS.items():
    _register_cdc(_name, _conf)


@register("dedup_stats_all_algos")
def q_dedup_stats_all_algos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head chunker comparison: one dedup-metrics row per
    algorithm (fixed + the three CDC chunkers) over the same corpus —
    the experiment the reference runs by hand, one algorithm per binary
    invocation (main.rs:16-24), as a single DataFrame. Each pipeline is
    an independent scan branch, so Spark runs the four in parallel;
    rows-only driver check (CDC cuts aren't SQL-expressible; each
    branch's own *_dedup_stats / concat invariants are checked
    separately)."""
    docs = load_table(spark, "documents", sf_dir)
    out = dedup_stats(fixed_chunks(docs, FIXED_SIZE))
    for conf in CDC_CONFIGS.values():
        out = out.unionByName(dedup_stats(cdc_chunks(docs, **conf)))
    return out


# ---------------------------------------------------------------------------
# Chunk-size distribution + approximate dedup (SURVEY.md §7 M2, §2.5)
# ---------------------------------------------------------------------------

_HIST_BUCKET = 16

_FIXED_HIST_ORACLE = f"""
WITH chunks AS ({_FIXED_CHUNKS_ORACLE})
SELECT algo,
       CAST(length // {_HIST_BUCKET} * {_HIST_BUCKET} AS BIGINT) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(length) AS BIGINT) AS bytes
FROM chunks GROUP BY algo, bucket_lo
"""


@register("chunk_size_histogram_fixed", _FIXED_HIST_ORACLE)
def q_chunk_size_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_algorithms_spark.operators.dedup import chunk_size_histogram

    docs = load_table(spark, "documents", sf_dir)
    return chunk_size_histogram(fixed_chunks(docs, FIXED_SIZE), _HIST_BUCKET)


@register("chunk_size_histogram_ae")
def q_chunk_size_histogram_ae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AE chunk-size distribution (rows-only check; AE's lack of a max
    clamp shows up as a long right tail vs Rabin/FastCDC)."""
    from cdc_algorithms_spark.operators.dedup import chunk_size_histogram

    chunks = cdc_chunks(load_table(spark, "documents", sf_dir), **CDC_CONFIGS["ae"])
    return chunk_size_histogram(chunks, _HIST_BUCKET)


_BY_LANG_ORACLE = f"""
WITH chunks AS ({_FIXED_CHUNKS_ORACLE}),
labeled AS (
  SELECT d.lang, c.chunk_text, c.length
  FROM chunks c JOIN documents d ON c.src_id = d.doc_id
),
per_key AS (
  SELECT lang, chunk_text,
         COUNT(*) AS occurrences,
         SUM(length) AS bytes_all,
         MAX(length) AS bytes_one
  FROM labeled GROUP BY lang, chunk_text
)
SELECT lang,
       CAST(SUM(bytes_all) AS BIGINT) AS total_bytes,
       CAST(SUM(bytes_one) AS BIGINT) AS unique_bytes,
       CAST(SUM(occurrences) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_unique,
       ROUND(SUM(bytes_one) * 1.0 / SUM(bytes_all), 6) AS dedup_coeff,
       ROUND(SUM(bytes_all) * 1.0 / COUNT(*), 6) AS avg_chunk
FROM per_key GROUP BY lang
"""


@register("dedup_stats_by_lang", _BY_LANG_ORACLE)
def q_dedup_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group dedup scope (operators/dedup.py::dedup_stats_by) with a
    chunk→metadata broadcast join: chunks carry only src_id, the lang
    dimension joins in from documents (the fact/dim shape at scale)."""
    from cdc_algorithms_spark.operators.dedup import dedup_stats_by

    docs = load_table(spark, "documents", sf_dir)
    chunks = fixed_chunks(docs, FIXED_SIZE)
    labeled = chunks.join(
        F.broadcast(docs.select(F.col("doc_id").alias("src_id"), "lang")),
        "src_id",
    )
    return dedup_stats_by(labeled, ["lang"])


@register("ae_dedup_stats_approx")
def q_ae_dedup_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ fast path (SURVEY.md §2.5): estimated distinct-chunk
    count — the single-pass 100 TB alternative to exact per-key dedup.
    Rows-only driver check; estimate-vs-exact tolerance is asserted in
    tests/test_training_ops.py."""
    from cdc_algorithms_spark.operators.dedup import approx_dedup_stats

    chunks = cdc_chunks(load_table(spark, "documents", sf_dir), **CDC_CONFIGS["ae"])
    return approx_dedup_stats(chunks)


# ---------------------------------------------------------------------------
# Segment-parallel blob chunking — the reference's benchmark path
# (main.rs:16-24: AE parallel chunking of one large input) restated as
# the distributed pipeline in operators/distributed.py.
# ---------------------------------------------------------------------------

from cdc_algorithms_spark.operators.distributed import parallel_chunk_blob  # noqa: E402

PARALLEL_SEGMENT_LEN = 65536


def documents_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus as ONE binary blob (reference equivalent: the benchmark
    tar file, main.rs:17): documents concatenated in doc_id order.

    Built in Spark (collect_list → concat_ws), not on the driver. This is
    a test-scale convenience; at 100 TB blobs arrive pre-formed from
    ``binaryFile`` sources.
    """
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))).alias("arr")
        )
        .select(
            F.lit(0).cast("long").alias("src_id"),
            F.encode(F.concat_ws("", F.col("arr.text")), "utf-8").alias("content"),
        )
    )


@register("parallel_ae_dedup_stats")
def q_parallel_ae_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = parallel_chunk_blob(
        documents_blob(spark, sf_dir), "ae", 320,
        segment_len=PARALLEL_SEGMENT_LEN,
    )
    return dedup_stats(chunks, key_col="hash")


@register(
    "parallel_ae_concat_check",
    "SELECT CAST(SUM(n_chars) AS BIGINT) AS total_len FROM documents",
)
def q_parallel_ae_concat_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = parallel_chunk_blob(
        documents_blob(spark, sf_dir), "ae", 320,
        segment_len=PARALLEL_SEGMENT_LEN,
    )
    return chunks.agg(F.sum("length").cast("long").alias("total_len"))


@register(
    "parallel_ae_tiling_check",
    "SELECT CAST(1 AS BIGINT) AS n_source_pos, CAST(1 AS BIGINT) AS n_sink_pos, "
    "CAST(0 AS BIGINT) AS n_bad_pos, CAST(0 AS BIGINT) AS start_pos, "
    "CAST(SUM(n_chars) AS BIGINT) AS end_pos FROM documents",
)
def q_parallel_ae_tiling_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perfect-tiling invariant for the DISTRIBUTED pipeline
    (operators/distributed.py::chunk_segments): the seam merge must
    reassemble an exact partition of the whole blob — a doubled or
    dropped seam chunk leaves a nonzero interior delta even when its
    bytes cancel in the concat check."""
    chunks = parallel_chunk_blob(
        documents_blob(spark, sf_dir), "ae", 320,
        segment_len=PARALLEL_SEGMENT_LEN,
    )
    return _tiling_check(chunks, per_src=False)


@register(
    "parallel_rabin_tiling_check",
    "SELECT CAST(1 AS BIGINT) AS n_source_pos, CAST(1 AS BIGINT) AS n_sink_pos, "
    "CAST(0 AS BIGINT) AS n_bad_pos, CAST(0 AS BIGINT) AS start_pos, "
    "CAST(SUM(n_chars) AS BIGINT) AS end_pos FROM documents",
)
def q_parallel_rabin_tiling_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perfect-tiling invariant for the distributed RABIN pipeline —
    the path where the reference's own segment-bound bug lives
    (rabin.rs:101, deliberately not replicated): the seam merge must
    reassemble an exact partition of the whole blob."""
    chunks = parallel_chunk_blob(
        documents_blob(spark, sf_dir), "rabin", 256, seed=7,
        segment_len=PARALLEL_SEGMENT_LEN,
    )
    return _tiling_check(chunks, per_src=False)


@register("parallel_rabin_dedup_stats")
def q_parallel_rabin_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = parallel_chunk_blob(
        documents_blob(spark, sf_dir), "rabin", 256, seed=7,
        segment_len=PARALLEL_SEGMENT_LEN,
    )
    return dedup_stats(chunks, key_col="hash")


@register(
    "parallel_rabin_concat_check",
    "SELECT CAST(SUM(n_chars) AS BIGINT) AS total_len FROM documents",
)
def q_parallel_rabin_concat_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-conservation oracle for the Rabin distributed pipeline
    (reference rabin.rs:61-90 ``get_bounds`` + rabin.rs:92-128
    ``parallel_chunking``, with the rabin.rs:101 segment-bound bug
    corrected): the seam-merged chunk lengths must sum exactly to the
    corpus size — mirrors ``parallel_ae_concat_check``."""
    chunks = parallel_chunk_blob(
        documents_blob(spark, sf_dir), "rabin", 256, seed=7,
        segment_len=PARALLEL_SEGMENT_LEN,
    )
    return chunks.agg(F.sum("length").cast("long").alias("total_len"))


# ---------------------------------------------------------------------------
# binaryFile-source chunking — the reference's real use case (chunking a
# tar on disk, main.rs:17) over Spark's binary file source: each parquet
# fixture file is treated as an opaque blob and CDC-chunked. Rows-only
# driver check (DuckDB cannot hash raw file bytes); byte conservation is
# asserted in tests/test_binary_source.py.
# ---------------------------------------------------------------------------

from cdc_algorithms_spark.sources.registry import load_binary_files  # noqa: E402


@register("binaryfile_ae_dedup_stats")
def q_binaryfile_ae_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    files = load_binary_files(spark, sf_dir, "*.parquet").select(
        F.xxhash64("path").alias("src_id"), F.col("content")
    )
    chunks = parallel_chunk_blob(files, "ae", 4096, segment_len=262144)
    return dedup_stats(chunks, key_col="hash")


@register("file_ranges_ae_dedup_stats")
def q_file_ranges_ae_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same files and params as binaryfile_ae_dedup_stats but via
    executor-side range reads (sources/segmented_files.py) — no whole
    blob is ever materialized. The two queries' stats are asserted
    identical in tests/test_binary_source.py."""
    from cdc_algorithms_spark.operators.distributed import chunk_segments
    from cdc_algorithms_spark.sources.segmented_files import segment_file_ranges

    segs = segment_file_ranges(
        spark, f"{sf_dir}/*.parquet", segment_len=262144, overlap=4096 - 256
    )
    return dedup_stats(chunk_segments(segs, "ae", 4096), key_col="hash")


@register("datasource_ae_dedup_stats")
def q_datasource_ae_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline and params as file_ranges_ae_dedup_stats but sourced
    through the custom Python DataSource (sources/datasource.py,
    ``format("file_segments")``): the source plans its partitions
    natively instead of slicing a driver-side listing, and the default
    lazy contract means segment bytes are still born in the chunking
    worker (no payload Arrow hops). Segments here are small (256 KiB)
    relative to task overhead, so they are grouped into
    defaultParallelism tasks — at production segment sizes (8 MiB+) the
    per-segment default is right. Stats are asserted identical to the
    other two source routes in tests/test_binary_source.py."""
    from cdc_algorithms_spark.operators.distributed import chunk_segments
    from cdc_algorithms_spark.sources.datasource import read_file_segments

    segs = read_file_segments(
        spark,
        f"{sf_dir}/*.parquet",
        segment_len=262144,
        overlap=4096 - 256,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    return dedup_stats(chunk_segments(segs, "ae", 4096), key_col="hash")


# ---------------------------------------------------------------------------
# Incremental ingest (operators/ingest.py): dedup a NEW batch against the
# persisted chunk-hash index of the already-ingested corpus — the 100 TB
# operating mode where the existing data is never re-read. Fixture split:
# docs with doc_id % 3 == 0 are "the new batch", the rest are "already
# ingested". chunk_text stands in for the hash so the oracle can replay
# membership exactly.
# ---------------------------------------------------------------------------

_INGEST_MOD = 3

_INGEST_ORACLE = f"""
WITH chunks AS ({_FIXED_CHUNKS_ORACLE}),
old AS (
  SELECT chunk_text, MAX(length) AS length
  FROM chunks WHERE src_id % {_INGEST_MOD} <> 0 GROUP BY chunk_text
),
batch AS (
  SELECT chunk_text, COUNT(*) AS occurrences,
         SUM(length) AS bytes_all, MAX(length) AS length
  FROM chunks WHERE src_id % {_INGEST_MOD} = 0 GROUP BY chunk_text
),
marked AS (
  SELECT b.*, (o.chunk_text IS NOT NULL) AS known
  FROM batch b LEFT JOIN old o USING (chunk_text)
)
SELECT CAST(SUM(bytes_all) AS BIGINT) AS batch_bytes,
       CAST(SUM(occurrences) AS BIGINT) AS batch_chunks,
       CAST(SUM(CASE WHEN NOT known THEN length ELSE 0 END) AS BIGINT) AS novel_bytes,
       CAST(SUM(CASE WHEN NOT known THEN 1 ELSE 0 END) AS BIGINT) AS novel_chunks,
       CAST(SUM(CASE WHEN known THEN bytes_all ELSE 0 END) AS BIGINT) AS dup_index_bytes,
       CAST(SUM(CASE WHEN NOT known THEN bytes_all - length ELSE 0 END) AS BIGINT) AS dup_batch_bytes,
       ROUND(SUM(CASE WHEN NOT known THEN length ELSE 0 END) * 1.0
             / SUM(bytes_all), 6) AS novel_frac
FROM marked
"""


@register("incremental_ingest_stats", _INGEST_ORACLE)
def q_incremental_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_algorithms_spark.operators.ingest import chunk_index, ingest_stats

    docs = load_table(spark, "documents", sf_dir)
    chunks = fixed_chunks(docs, FIXED_SIZE)
    index = chunk_index(
        chunks.where(F.col("src_id") % _INGEST_MOD != 0), key_col="chunk_text"
    )
    batch = chunks.where(F.col("src_id") % _INGEST_MOD == 0)
    return ingest_stats(index, batch, key_col="chunk_text")


# ---------------------------------------------------------------------------
# Mergeable-sketch dedup estimation (operators/sketches.py): per-language
# HLL sketches of fixed-chunk identities, global row derived purely by
# sketch union — the incremental any-subset dedup answer at 100 TB.
# DataSketches register VALUES aren't reproducible in DuckDB, so the
# driver row carries the exact distinct count (which DuckDB recomputes
# independently) plus est_ok = |estimate − exact| / exact within the
# tolerance; raw-estimate accuracy and repartition-stability stay pinned
# in tests/test_sketches.py. The same oracle serves the streaming twin
# (queries_streaming.py::streaming_sketch_unique_estimate).
# ---------------------------------------------------------------------------

# HLL lgK=14 standard error is ≈0.8%, so 2% is a loose-but-meaningful
# band; a broken sketch pipeline (wrong keys, lost registers, bad union)
# misses it by far.
SKETCH_EST_TOLERANCE = 0.02

_SKETCH_REPORT_ORACLE = f"""
WITH chunks AS (
  SELECT d.lang,
         substring(d.text, CAST(u.off + 1 AS INT), {FIXED_SIZE}) AS chunk_text,
         CAST(LEAST({FIXED_SIZE}, d.n_chars - u.off) AS BIGINT) AS length
  FROM documents d, UNNEST(range(0, d.n_chars, {FIXED_SIZE})) AS u(off)
),
per AS (
  SELECT lang AS grp, COUNT(*) AS n_chunks, SUM(length) AS total_bytes,
         COUNT(DISTINCT chunk_text) AS n_unique_exact
  FROM chunks GROUP BY lang
),
overall AS (
  SELECT '*' AS grp, COUNT(*) AS n_chunks, SUM(length) AS total_bytes,
         COUNT(DISTINCT chunk_text) AS n_unique_exact
  FROM chunks
)
SELECT grp AS "group",
       CAST(n_chunks AS BIGINT) AS n_chunks,
       CAST(total_bytes AS BIGINT) AS total_bytes,
       CAST(n_unique_exact AS BIGINT) AS n_unique_exact,
       TRUE AS est_ok
FROM (SELECT * FROM per UNION ALL SELECT * FROM overall)
"""


def _with_exact_unique(per_and_glob: DataFrame, chunks: DataFrame) -> DataFrame:
    """Join per-group + global ('*') sketch report rows (columns group,
    n_chunks, total_bytes, est_unique_chunks) with exact per-group
    distinct chunk counts and flag whether each estimate landed within
    SKETCH_EST_TOLERANCE of the exact value."""
    exact_per = chunks.groupBy(F.col("lang").cast("string").alias("group")).agg(
        F.countDistinct("chunk_text").cast("long").alias("n_unique_exact")
    )
    exact_glob = chunks.agg(
        F.countDistinct("chunk_text").cast("long").alias("n_unique_exact")
    ).withColumn("group", F.lit("*"))
    exact = exact_per.unionByName(exact_glob.select("group", "n_unique_exact"))
    return per_and_glob.join(exact, "group").select(
        "group",
        "n_chunks",
        "total_bytes",
        "n_unique_exact",
        (
            F.abs(F.col("est_unique_chunks") - F.col("n_unique_exact"))
            / F.col("n_unique_exact")
            <= SKETCH_EST_TOLERANCE
        ).alias("est_ok"),
    )


@register("dedup_sketch_report_fixed", _SKETCH_REPORT_ORACLE)
def q_dedup_sketch_report_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_algorithms_spark.operators.sketches import sketch_dedup_report

    docs = load_table(spark, "documents", sf_dir)
    chunks = fixed_chunks(docs, FIXED_SIZE).join(
        docs.select(F.col("doc_id").alias("src_id"), "lang"), "src_id"
    )
    report = sketch_dedup_report(chunks, group_cols=("lang",))
    return _with_exact_unique(report, chunks)


# ---------------------------------------------------------------------------
# Extension query modules (imported for their @register side effects).
# ---------------------------------------------------------------------------

from cdc_algorithms_spark import queries_diff  # noqa: E402,F401
from cdc_algorithms_spark import queries_relational  # noqa: E402,F401
from cdc_algorithms_spark import queries_tpch_extra  # noqa: E402,F401
from cdc_algorithms_spark import queries_subqueries  # noqa: E402,F401
from cdc_algorithms_spark import queries_joins  # noqa: E402,F401
from cdc_algorithms_spark import queries_text  # noqa: E402,F401
from cdc_algorithms_spark import queries_streaming  # noqa: E402,F401
from cdc_algorithms_spark import queries_streaming_diff  # noqa: E402,F401
from cdc_algorithms_spark import queries_extras  # noqa: E402,F401
from cdc_algorithms_spark import queries_retrieval  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Node-throughput headline: the reference benchmark shape (main.rs:16-24 —
# AE, expected 16 KiB, one big input, parallel workers) at a size where
# chunker throughput, not per-query overhead, is what's measured. The
# 256 MiB blob is generated executor-side (sources/synthetic.py); nothing
# ever materializes whole. Rows-only driver check; byte-conservation and
# planted-duplicate invariants are asserted in tests/test_distributed.py.
# ---------------------------------------------------------------------------

SYNTH_BLOB_LEN = 256 << 20
SYNTH_EXPECTED = 16384  # reference config: 1024 * 16 (main.rs:17)


@register("synthetic_blob_ae_node_stats")
def q_synthetic_blob_ae_node_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_algorithms_spark.operators.distributed import chunk_segments
    from cdc_algorithms_spark.sources.synthetic import synthetic_blob_segments

    segs = synthetic_blob_segments(
        spark,
        total_len=SYNTH_BLOB_LEN,
        segment_len=8 << 20,
        overlap=SYNTH_EXPECTED - 256,
        seed=11,
    )
    return dedup_stats(chunk_segments(segs, "ae", SYNTH_EXPECTED), key_col="hash")


# ---------------------------------------------------------------------------
# Dedup round-trip: recipe (per-doc hash sequence) + content-addressed
# store must losslessly rebuild every document — the read path a
# delta-sync consumer runs. The oracle replays the same reassembly
# semantics (string_agg ordered by chunk index) against the raw text.
# ---------------------------------------------------------------------------

_RECONSTRUCT_ORACLE = f"""
WITH chunks AS ({_FIXED_CHUNKS_ORACLE}),
r AS (
  SELECT src_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         string_agg(chunk_text, '' ORDER BY chunk_idx) AS restored
  FROM chunks GROUP BY src_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       r.n_chunks,
       (r.restored = d.text) AS ok
FROM documents d JOIN r ON r.src_id = d.doc_id
"""


@register("reconstruct_docs_check", _RECONSTRUCT_ORACLE)
def q_reconstruct_docs_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_algorithms_spark.operators.dedup import reconstruct_docs

    docs = load_table(spark, "documents", sf_dir)
    chunks = fixed_chunks(docs, FIXED_SIZE).withColumn(
        "hash", F.xxhash64("chunk_text")
    )
    recipes = chunks.select("src_id", "chunk_idx", "hash")
    store = chunks.select("hash", "chunk_text").dropDuplicates(["hash"])
    return (
        reconstruct_docs(recipes, store)
        .join(docs.select(F.col("doc_id").alias("src_id"), "text"), "src_id")
        .select(
            F.col("src_id").cast("long").alias("doc_id"),
            "n_chunks",
            (F.col("restored_text") == F.col("text")).alias("ok"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate mining: the most-duplicated chunks across distinct documents
# (license headers, navigation templates, signatures). A curation pipeline
# strips or downweights these before training. Heavy-hitter shape: one
# partial-agg shuffle on the chunk key, then a tiny top-k sort — no
# document content moves after the explode.
# ---------------------------------------------------------------------------

_BOILERPLATE_TOPK = 20
_BOILERPLATE_ORACLE = f"""
WITH chunks AS ({{chunks}}),
per_chunk AS (
  SELECT chunk_text,
         CAST(COUNT(*) AS BIGINT) AS occurrences,
         CAST(COUNT(DISTINCT src_id) AS BIGINT) AS n_docs,
         CAST(MAX(length) AS BIGINT) AS chunk_len
  FROM chunks GROUP BY chunk_text
)
SELECT chunk_text, occurrences, n_docs, chunk_len
FROM per_chunk
WHERE n_docs >= 2
ORDER BY occurrences DESC, chunk_text
LIMIT {_BOILERPLATE_TOPK}
""".format(chunks=_FIXED_CHUNKS_ORACLE)


@register("boilerplate_chunks", _BOILERPLATE_ORACLE)
def q_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    per_chunk = (
        fixed_chunks(docs, FIXED_SIZE)
        .groupBy("chunk_text")
        .agg(
            F.count(F.lit(1)).cast("long").alias("occurrences"),
            F.countDistinct("src_id").cast("long").alias("n_docs"),
            F.max("length").cast("long").alias("chunk_len"),
        )
    )
    return (
        per_chunk.where(F.col("n_docs") >= 2)
        .orderBy(F.desc("occurrences"), "chunk_text")
        .limit(_BOILERPLATE_TOPK)
    )


# ---------------------------------------------------------------------------
# Duplicated-span mining: maximal runs of consecutive cross-document
# duplicated chunks — the chunk-granular substring-dedup primitive
# (strip the copied stretch, keep the unique remainder). Gaps-and-islands
# over the chunk table; O(chunks), never O(doc pairs).
# ---------------------------------------------------------------------------

_DUP_SPANS_ORACLE = f"""
WITH chunks AS ({_FIXED_CHUNKS_ORACLE}),
marked AS (
  SELECT src_id, chunk_idx, "offset", length,
         (COUNT(*) OVER (PARTITION BY chunk_text) > 1
          AND (MIN(src_id) OVER (PARTITION BY chunk_text) != src_id
               OR MAX(src_id) OVER (PARTITION BY chunk_text) != src_id)) AS dup
  FROM chunks
),
islands AS (
  SELECT src_id, "offset", length,
         chunk_idx - ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY chunk_idx) AS grp
  FROM marked WHERE dup
)
SELECT src_id,
       CAST(MIN("offset") AS BIGINT) AS span_start,
       CAST(SUM(length) AS BIGINT) AS span_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_chunks
FROM islands GROUP BY src_id, grp
HAVING COUNT(*) >= 2
"""


@register("duplicated_spans_fixed", _DUP_SPANS_ORACLE)
def q_duplicated_spans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_algorithms_spark.operators.dedup import duplicated_spans

    docs = load_table(spark, "documents", sf_dir)
    return duplicated_spans(fixed_chunks(docs, FIXED_SIZE), min_chunks=2)


# ---------------------------------------------------------------------------
# Driver-window ordering (COVERAGE.md "verification rotation").
#
# The external driver compares the FIRST 50 registry entries against their
# DuckDB oracles each round (CORRECTNESS_r01 was exactly registration
# positions 1-50, leaving 66 oracle-backed queries unverified). The
# registry is therefore re-ordered after all registrations:
#
#   1. an explicit per-round verification window (oracle-backed queries
#      with no green driver row yet, plus fixes that must re-verify),
#   2. the remaining never-green oracle-backed backlog (next rotation),
#   3. previously-green oracle-backed queries (re-verified when the
#      window allows),
#   4. no-oracle entries (rows-only checks — least driver signal) last.
#
# Implementations are untouched; this is pure dict ordering.
# ---------------------------------------------------------------------------

# hash_match == true rows in CORRECTNESS_r01.json (driver DuckDB oracle, sf0.01)
_DRIVER_GREEN: frozenset[str] = frozenset({
    "ae_concat_check",
    "ae_tiling_check",
    "ann_bruteforce_topk",
    "ann_drift_check",
    "ann_ivf_recall",
    "ann_lsh_recall",
    "ann_pq_rebuild_check",
    "ann_pq_recall",
    "anomaly_runs",
    "asof_last_view_before_purchase",
    "benchmark_decontamination",
    "bloom_decontamination_check",
    "bm25_topk_docs",
    "bm25_topk_indexed",
    "boilerplate_chunks",
    "bpe_pair_counts",
    "brand_volume",
    "catalog_reconciliation",
    "cdc_apply_check",
    "change_ratio_fixed",
    "char_entropy_scores",
    "chunk_len_median_udaf",
    "chunk_overlap_ae_clone_check",
    "chunk_overlap_pairs_fixed",
    "chunk_size_histogram_fixed",
    "chunk_version_matrix_fixed",
    "cluster_safe_split_check",
    "compaction_plan",
    "compaction_rewrite_check",
    "contrastive_hard_negatives",
    "corpus_build_manifest",
    "cross_doc_dup_fraction",
    "curation_pipeline",
    "curriculum_order",
    "customer_balance_quartiles",
    "customers_no_1995_order",
    "dedup_adjusted_mixture",
    "dedup_cluster_reps",
    "dedup_components",
    "dedup_sketch_report_fixed",
    "dedup_stats_by_lang",
    "doc_table_diff",
    "docs_grouping_sets",
    "docs_rollup",
    "dsir_importance_weights",
    "dsir_topk_selection",
    "dup_ngram_coverage",
    "duplicated_spans_fixed",
    "embedding_clusters",
    "embedding_near_dup",
    "event_funnel",
    "events_cube",
    "events_hourly_locf",
    "events_json_stats",
    "events_pivot_by_type",
    "events_props_map_stats",
    "events_variant_stats",
    "exact_dedup_docs",
    "exact_substring_dedup",
    "fastcdc_concat_check",
    "fastcdc_tiling_check",
    "fingerprint_near_dup_check",
    "fixed_chunks",
    "fixed_dedup_stats",
    "fixed_dedup_sweep",
    "frequent_terms",
    "fuzzy_name_matches",
    "hybrid_rrf_indexed",
    "hybrid_rrf_search",
    "incremental_ingest_stats",
    "incremental_jaccard_pairs",
    "incremental_jaccard_pairs_indexed",
    "incremental_minhash_pairs",
    "lang_marker_hits",
    "language_id",
    "lm_bigram_scores",
    "media_chunk_overlap_clone_check",
    "media_features_check",
    "media_frame_counts",
    "media_phash_clone_check",
    "media_phash_group_clone_check",
    "media_resized_summary",
    "media_summary",
    "minhash_lsh_pairs",
    "mixture_plan_by_source",
    "mixture_realized_sample",
    "mixture_temperature_weights",
    "monthly_order_stats",
    "near_dup_clusters_lsh",
    "near_dup_threshold_sweep",
    "ngram_jaccard_pairs",
    "order_pairs_within_30d",
    "orders_above_global_avg",
    "parallel_ae_concat_check",
    "parallel_ae_tiling_check",
    "parallel_rabin_concat_check",
    "parallel_rabin_tiling_check",
    "part_metrics_unpivot",
    "parts_shipped_1998_semi",
    "pii_scrub_docs",
    "pps_sample_docs",
    "pps_sample_docs_by_lang",
    "price_quantiles",
    "profile_drift_docs",
    "profile_orders",
    "purchase_and_error_users",
    "q10_returned_items",
    "q11_important_stock",
    "q12_late_priority",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q1_pricing_summary",
    "q20_promo_suppliers",
    "q21_waiting_supplier",
    "q22_idle_rich_customers",
    "q2_cheapest_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "quality_band_by_lang",
    "quality_scores",
    "rabin_concat_check",
    "rabin_tiling_check",
    "reconstruct_docs_check",
    "repetition_ratios",
    "rolling_7d_user_value",
    "salted_user_segment_join",
    "semantic_dedup_check",
    "sequence_packing_by_lang",
    "sequence_packing_plan",
    "shuffled_corpus_order",
    "simhash_near_dup_check",
    "sliding_event_value",
    "snapshot_diff_ae_conservation",
    "snapshot_diff_ae_localization_check",
    "snapshot_diff_fixed",
    "split_assignment_summary",
    "split_leakage_pairs",
    "sql_frontend_pricing_summary",
    "store_gc_plan_fixed",
    "stratified_sample_docs",
    "streaming_bm25_index",
    "streaming_change_feed",
    "streaming_compaction_plan",
    "streaming_decontamination",
    "streaming_distinct_users_within_watermark",
    "streaming_dsir_weights",
    "streaming_event_counts_update_mode",
    "streaming_event_funnel",
    "streaming_event_type_counts",
    "streaming_hybrid_index",
    "streaming_ingest_disorder_check",
    "streaming_ingest_novelty",
    "streaming_ingest_pipeline",
    "streaming_jaccard_index",
    "streaming_media_phash_index",
    "streaming_near_dup_compacted",
    "streaming_near_dup_index",
    "streaming_novel_chunks_by_lang",
    "streaming_pq_index",
    "streaming_purchases_by_nation",
    "streaming_sketch_unique_estimate",
    "streaming_stateful_ae_concat_check",
    "streaming_stateful_ae_tiling_check",
    "streaming_sync_totals",
    "streaming_unique_chunks_stats",
    "streaming_user_sessions",
    "streaming_value_outliers",
    "streaming_value_quantile_sketch",
    "streaming_value_quantile_sketch_log",
    "streaming_view_purchase_conversions",
    "streaming_windowed_event_counts",
    "streaming_zorder_route",
    "suppliers_above_nation_avg",
    "sync_plan_budgeted_fixed",
    "sync_plan_fixed",
    "text_cleaning",
    "tfidf_top_terms",
    "token_counts",
    "top_order_per_customer",
    "training_manifest",
    "udtf_ae_concat_check",
    "udtf_fixed_chunks",
    "user_sessions",
    "value_band_range_join",
    "value_outliers",
    "value_quantile_sketch",
    "value_quantile_sketch_auto",
    "value_quantile_sketch_log",
    "viewers_never_purchased",
    "zorder3_append_check",
    "zorder3_drift_check",
    "zorder3_layout_plan",
    "zorder3_realized_pruning",
    "zorder3_rewrite_check",
    "zorder_append_check",
    "zorder_drift_check",
    "zorder_layout_plan",
    "zorder_maintenance_check",
    "zorder_pruning_gain",
    "zorder_realized_pruning",
    "zorder_relayout_check",
    "zorder_rewrite_check",
})

# The driver-verification window: the 50 registry entries the next
# driver run checks first. r10 rotation (hand-tuned over
# `tools/update_rotation.py` output): the 4 new oracle-backed queries
# (media clone checks, the streamed Jaccard store, the corpus-build
# flagship), then the 3 rows-only entries needing a driver row —
# media_features (r09's one red row, fixed this round: the window entry
# now projects driver-canonicalizable columns) and the two new media
# near-dup pairs queries whose oracle twins are the clone checks — then
# re-verifies for queries whose operator code changed this round (the
# epoch-store compactor unification, the fingerprint auto-switch memo,
# the sweep-sized ANN lifecycle fixtures), topped up with green
# re-checks. tests/test_api.py::test_verify_window_composition pins the
# composition, including the explicit rows-only tail.
_ROWS_ONLY_WINDOW_TAIL: frozenset[str] = frozenset({
    "media_features",
    "media_phash_pairs",
    "media_phash_dup_groups",
    "media_chunk_overlap_pairs",
})

_VERIFY_WINDOW: list[str] = [
    "streaming_media_chunk_index",
    "streaming_corpus_build",
    "bpe_encode_check",
    "media_phash_clone_check",
    "media_chunk_overlap_clone_check",
    "streaming_jaccard_index",
    "corpus_build_manifest",
    "streaming_media_phash_index",
    "media_phash_group_clone_check",
    "ann_drift_check",
    "streaming_dsir_weights",
    "hybrid_rrf_indexed",
    "streaming_hybrid_index",
    "streaming_near_dup_compacted",
    "value_quantile_sketch_log",
    "streaming_value_quantile_sketch_log",
    "dsir_importance_weights",
    "dsir_topk_selection",
    "cross_doc_dup_fraction",
    "exact_substring_dedup",
    "bm25_topk_indexed",
    "streaming_bm25_index",
    "ann_pq_recall",
    "streaming_pq_index",
    "ann_pq_rebuild_check",
    "bpe_pair_counts",
    "fixed_chunks",
    "fixed_dedup_stats",
    "ae_concat_check",
    "ae_tiling_check",
    "rabin_concat_check",
    "rabin_tiling_check",
    "fastcdc_concat_check",
    "fastcdc_tiling_check",
    "chunk_size_histogram_fixed",
    "dedup_stats_by_lang",
    "parallel_ae_concat_check",
    "parallel_ae_tiling_check",
    "embedding_clusters",
    "ann_ivf_recall",
    "ann_lsh_recall",
    "semantic_dedup_check",
    "snapshot_diff_fixed",
    "change_ratio_fixed",
    "sync_plan_fixed",
    "snapshot_diff_ae_conservation",
    "snapshot_diff_ae_localization_check",
    "doc_table_diff",
    "cdc_apply_check",
    "store_gc_plan_fixed",
]


def _reorder_registry() -> None:
    # Window hygiene (unknown names, oracle-less entries) is pinned by
    # tests/test_api.py::test_verify_window_composition — NOT asserted
    # here, so a stale window name can never take down the whole driver
    # contract at import time.
    ordered: list[str] = []
    seen: set[str] = set()

    def take(names) -> None:
        for n in names:
            if n in SPARK_QUERIES and n not in seen:
                ordered.append(n)
                seen.add(n)

    take(_VERIFY_WINDOW)
    take(n for n in SPARK_QUERIES if n in ORACLE_SQL and n not in _DRIVER_GREEN)
    take(n for n in SPARK_QUERIES if n in ORACLE_SQL)
    take(SPARK_QUERIES)
    assert len(ordered) == len(SPARK_QUERIES)

    reordered = {n: SPARK_QUERIES[n] for n in ordered}
    SPARK_QUERIES.clear()
    SPARK_QUERIES.update(reordered)
    oracle = {n: ORACLE_SQL[n] for n in ordered if n in ORACLE_SQL}
    ORACLE_SQL.clear()
    ORACLE_SQL.update(oracle)


_reorder_registry()
