"""User-facing API facade — the engine's verbs in one namespace.

The reference's user surface is ``Chunker::new(params)`` →
``next_chunk`` / ``parallel_chunking`` (chunker.rs:25-29, ae.rs:55-92);
this module is its Spark restatement plus the derived analytics a user
of the reference runs around it. Everything returns a DataFrame (lazy,
cluster-sized); nothing collects.

    from cdc_algorithms_spark import api

    chunks = api.chunk(docs, algo="fastcdc", expected_size=64, seed=1)
    api.dedup_stats(chunks)                      # COEFF / AVG metrics row
    api.chunk_files(spark, "/data/*.bin",        # 100 TB ingest shape
                    algo="ae", expected_size=16384)
    api.snapshot_diff(old_chunks, new_chunks)    # change detection
    api.near_dup_pairs(docs, method="minhash")   # corpus dedup
    api.topk_similar(embeddings, queries, k=10)  # ANN
    api.quality(docs); api.tokens(docs)          # corpus filters

Each verb is a thin delegation to the operator modules — importable
individually; this namespace exists so a migrating user finds every
capability in one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cdc_algorithms_spark.operators.chunking import cdc_chunks, fixed_chunks
from cdc_algorithms_spark.operators.dedup import dedup_stats as _dedup_stats
from cdc_algorithms_spark.operators.diff import change_ratio, snapshot_diff
from cdc_algorithms_spark.operators.distributed import (
    chunk_segments,
    parallel_chunk_blob,
)

__all__ = [
    "chunk",
    "chunk_fixed",
    "chunk_blob",
    "chunk_files",
    "dedup_stats",
    "near_dup_pairs",
    "dedup_groups",
    "decontaminate",
    "mixture",
    "pack_sequences",
    "ingest",
    "sql",
    "near_dup_vs_corpus",
    "diff_tables",
    "split",
    "split_leakage",
    "cluster_safe_split",
    "shuffle_order",
    "clean",
    "semantic_dedup",
    "topk_similar",
    "build_ann_index",
    "probe_ann_index",
    "extend_ann_index",
    "compact_ann_index",
    "clusters",
    "profile",
    "quality",
    "tokens",
    "language",
    "repetition",
    "fingerprints",
    "stream_dedup_unique_chunks",
    "sync_plan",
    "sync_plan_budgeted",
    "store_gc",
    "version_matrix",
    "fuzzy_matches",
    "funnel",
    "zorder_plan",
    "compact_plan",
    "outliers",
    "curriculum",
    "reconcile",
    "pruning_gain",
    "incidents_screen",
    "stream_funnel",
    "stream_compact",
    "zorder_rewrite",
    "compact_rewrite",
    "footer_stats",
    "build_near_dup_index",
    "probe_near_dup_index",
    "release_probe_frames",
    "stream_ingest_pipeline",
    "drain_quarantine",
    "quantile_sketch",
    "merge_quantile_sketches",
    "quantile_bounds",
    "layout_drift",
    "relayout",
    "compact_stream_store",
    "realize_mixture",
    "rebuild_ann_index",
    "auto_quantile_sketch",
    "log_quantile_sketch",
    "search",
    "build_text_index",
    "search_index",
    "hybrid_search",
    "mine_hard_negatives",
    "extend_text_index",
    "compact_text_index",
    "dup_text_fraction",
    "dedup_spans",
    "importance_weights",
    "learn_tokenizer",
    "encode_tokens",
    "hybrid_search_indexed",
    "ann_drift_report",
    "rebuild_index_if_drifted",
    "build_dsir_store",
    "importance_weights_indexed",
    "compact_dsir_store",
]


# --- chunking ---------------------------------------------------------------

def chunk(
    docs: DataFrame,
    algo: str = "fastcdc",
    expected_size: int = 64,
    seed: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunk table for per-row text/binary values.

    ``algo`` ∈ {"ae", "rabin", "fastcdc"} with the reference's parameter
    derivations (fastcdc.rs:62-74, rabin.rs:45-59, ae.rs:22-29). Returns
    ``(src_id, algo, chunk_idx, offset, length, chunk_text)`` rows.
    """
    return cdc_chunks(
        docs, algo, expected_size, seed=seed, id_col=id_col, text_col=text_col
    )


def chunk_fixed(
    docs: DataFrame,
    chunk_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size chunk table (fixed.rs:20-52) — pure SQL, no UDF."""
    return fixed_chunks(docs, chunk_size, id_col=id_col, text_col=text_col)


def chunk_blob(
    blobs: DataFrame,
    algo: str = "ae",
    expected_size: int = 16384,
    segment_len: int = 8 << 20,
    seed: int = 0,
) -> DataFrame:
    """Segment-parallel chunking of in-memory blobs
    ``(src_id, content, n)`` — the reference's ``parallel_chunking``
    (ae.rs:55-92) with Spark partitioning in place of rayon."""
    return parallel_chunk_blob(
        blobs, algo, expected_size, segment_len=segment_len, seed=seed
    )


def chunk_files(
    spark: SparkSession,
    path_glob: str,
    algo: str = "ae",
    expected_size: int = 16384,
    segment_len: int = 8 << 20,
    seed: int = 0,
    use_datasource: bool = False,
) -> DataFrame:
    """Chunk files by executor-side byte-range reads — no whole blob ever
    materializes (the 100 TB replacement for ``read_file``,
    chunker.rs:31-37). ``use_datasource`` routes through the custom
    ``format("file_segments")`` Python DataSource instead of the
    mapInPandas adapter; both produce identical chunk tables."""
    from cdc_algorithms_spark.chunkers.params import make_params
    from cdc_algorithms_spark.operators.distributed import _merge_spacing

    overlap = _merge_spacing(make_params(algo, expected_size, seed))
    if use_datasource:
        from cdc_algorithms_spark.sources.datasource import read_file_segments

        segs = read_file_segments(spark, path_glob, segment_len, overlap)
    else:
        from cdc_algorithms_spark.sources.segmented_files import (
            segment_file_ranges,
        )

        segs = segment_file_ranges(spark, path_glob, segment_len, overlap)
    return chunk_segments(segs, algo, expected_size, seed=seed)


# --- dedup metrics & change detection --------------------------------------

def dedup_stats(chunks: DataFrame, key_col: str = "chunk_text") -> DataFrame:
    """The reference's output metrics (ae.rs:68-91): total/unique bytes,
    chunk counts, dedup coefficient, both avg-chunk definitions (A3)."""
    return _dedup_stats(chunks, key_col=key_col)


# snapshot_diff / change_ratio re-exported as-is (operators/diff.py):
# full-outer join on (src_id, chunk identity) → unchanged/deleted/
# inserted status rows and per-source delta-sync change ratios.


# --- corpus dedup / similarity ---------------------------------------------

def near_dup_pairs(docs: DataFrame, method: str = "minhash", **kw) -> DataFrame:
    """Near-duplicate document pairs.

    method ∈ {"exact-jaccard", "minhash", "simhash", "embedding",
    "chunks"} — see operators/dedup_docs.py for each algorithm's
    scale notes. Returns (id_a, id_b, …score) rows.
    """
    from cdc_algorithms_spark.operators import dedup_docs as D

    if method == "exact-jaccard":
        return D.ngram_jaccard_pairs(docs, **kw)
    if method == "minhash":
        return D.minhash_lsh_pairs(docs, **kw)
    if method == "simhash":
        return D.simhash_pairs(docs, **kw)
    if method == "embedding":
        return D.embedding_near_dup_pairs(docs, **kw)
    if method == "chunks":
        algo = kw.pop("algo", "ae")
        expected_size = kw.pop("expected_size", 320)
        return D.chunk_overlap_pairs(cdc_chunks(docs, algo, expected_size), **kw)
    raise ValueError(f"unknown near-dup method {method!r}")


def dedup_groups(pairs: DataFrame, method: str = "minlabel", **kw) -> DataFrame:
    """Transitive closure of a near-dup pair graph → (doc_id,
    component_id) keep/drop groups. method ∈ {"minlabel" (O(diameter)
    rounds — shallow dup clusters), "star" (large-star/small-star,
    O(log n) rounds — chains / hub-skewed graphs)}."""
    from cdc_algorithms_spark.operators import dedup_docs as D

    if method == "minlabel":
        return D.connected_components(pairs, **kw)
    if method == "star":
        return D.connected_components_star(pairs, **kw)
    raise ValueError(f"unknown components method {method!r}")


def decontaminate(train: DataFrame, bench: DataFrame, **kw) -> DataFrame:
    """Train-vs-benchmark n-gram overlap flags per training doc
    (operators/dedup_docs.py::decontaminate) — the pre-training
    eval-set hygiene step."""
    from cdc_algorithms_spark.operators.dedup_docs import decontaminate as _d

    return _d(train, bench, **kw)


def mixture(docs: DataFrame, weights, total_tokens: int, **kw) -> DataFrame:
    """Weighted per-source token-budget mixture plan with deterministic
    lowest-id-first document selection (operators/mixture.py)."""
    from cdc_algorithms_spark.operators.mixture import mixture_plan

    return mixture_plan(docs, weights, total_tokens, **kw)


def pack_sequences(docs: DataFrame, seq_len: int, **kw) -> DataFrame:
    """Concat-and-split packing plan of the token stream into fixed
    ``seq_len``-token training sequences — per-sequence doc/token/
    boundary accounting via a bounded two-phase prefix sum
    (operators/packing.py)."""
    from cdc_algorithms_spark.operators.packing import sequence_packing

    return sequence_packing(docs, seq_len, **kw)


def ingest(index: DataFrame, batch_chunks: DataFrame, **kw) -> DataFrame:
    """Incremental-ingest accounting: dedup a new batch's chunks against
    the persisted chunk-hash index without re-reading the corpus
    (operators/ingest.py::ingest_stats). Pair with
    ``operators.ingest.updated_index`` to advance the index."""
    from cdc_algorithms_spark.operators.ingest import ingest_stats

    return ingest_stats(index, batch_chunks, **kw)


def sql(spark, query: str, sf_dir: str | None = None) -> DataFrame:
    """SQL front-end: register the fixture tables as temp views (same
    names the DuckDB oracle uses) plus the engine's UDTFs
    (``chunk_fixed``/``chunk_cdc``), then run ``query`` through
    ``spark.sql`` — the drop-in surface for users arriving with SQL
    instead of the DataFrame verbs."""
    from cdc_algorithms_spark.functions.udtfs import register_udtfs
    from cdc_algorithms_spark.sources.registry import load_tables

    load_tables(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(query)


def near_dup_vs_corpus(corpus: DataFrame, batch: DataFrame, **kw) -> DataFrame:
    """Incremental exact near-dup: Jaccard pairs touching the NEW batch
    only (batch-vs-corpus + batch-vs-batch, never corpus-vs-corpus) —
    work proportional to the batch, not the corpus
    (operators/dedup_docs.py::incremental_jaccard_pairs)."""
    from cdc_algorithms_spark.operators.dedup_docs import incremental_jaccard_pairs

    return incremental_jaccard_pairs(corpus, batch, **kw)


def diff_tables(old: DataFrame, new: DataFrame, **kw) -> DataFrame:
    """Row-level CDC between snapshots: (id, status ∈ added/removed/
    changed/unchanged) via one null-safe full-outer join
    (operators/diff.py::table_diff)."""
    from cdc_algorithms_spark.operators.diff import table_diff

    return table_diff(old, new, **kw)


def split(docs: DataFrame, fractions=None, seed: int = 0, **kw) -> DataFrame:
    """Deterministic train/val/test carve: map-only LCG hash thresholds,
    stable under corpus growth (operators/splits.py::split_assignment).
    ``fractions`` is ``[("train", .8), ("val", .1), ("test", .1)]``-style
    (the default)."""
    from cdc_algorithms_spark.operators.splits import (
        DEFAULT_FRACTIONS,
        split_assignment,
    )

    # `is None`, not `or`: an explicitly passed empty sequence must hit
    # split_thresholds' ValueError, not silently become the default
    if fractions is None:
        fractions = DEFAULT_FRACTIONS
    return split_assignment(docs, fractions, seed=seed, **kw)


def split_leakage(assignment: DataFrame, pairs: DataFrame, **kw) -> DataFrame:
    """Cross-split near-dup leakage audit: pairs whose docs landed in
    different splits (operators/splits.py::split_leakage)."""
    from cdc_algorithms_spark.operators.splits import split_leakage as _l

    return _l(assignment, pairs, **kw)


def cluster_safe_split(
    docs: DataFrame, pairs: DataFrame, fractions=None, seed: int = 0, **kw
) -> DataFrame:
    """Zero-leakage carve: whole near-dup clusters share a split
    (operators/splits.py::cluster_safe_split_assignment)."""
    from cdc_algorithms_spark.operators.splits import (
        DEFAULT_FRACTIONS,
        cluster_safe_split_assignment,
    )

    if fractions is None:
        fractions = DEFAULT_FRACTIONS
    return cluster_safe_split_assignment(
        docs, pairs, fractions, seed=seed, **kw
    )


def shuffle_order(docs: DataFrame, seed: int = 0, **kw) -> DataFrame:
    """Reproducible global training order: deterministic LCG shuffle key
    + bucketed two-phase global rank, no single-task total sort
    (operators/shuffle.py::deterministic_shuffle)."""
    from cdc_algorithms_spark.operators.shuffle import deterministic_shuffle

    return deterministic_shuffle(docs, seed=seed, **kw)


def clean(docs: DataFrame, **kw) -> DataFrame:
    """Pre-scoring text normalization: strip control characters,
    collapse whitespace runs, trim — map-only codegen regexes
    (operators/textstats.py::clean_text)."""
    from cdc_algorithms_spark.operators.textstats import clean_text

    return clean_text(docs, **kw)


def semantic_dedup(corpus: DataFrame, k: int = 8, dim: int = 64, **kw) -> DataFrame:
    """SemDeDup-shaped embedding dedup: k-means cells bound the
    quadratic work, per-cell cosine prunes near-identical vectors
    (operators/similarity.py::semantic_dedup)."""
    from cdc_algorithms_spark.operators.similarity import semantic_dedup as _s

    return _s(corpus, k=k, dim=dim, **kw)


def topk_similar(
    queries: DataFrame, corpus: DataFrame, k: int = 10, method: str = "brute",
    **kw,
) -> DataFrame:
    """Top-k cosine neighbors per query vector. method ∈ {"brute",
    "lsh", "ivf", "ivf-pq"} (operators/similarity.py)."""
    from cdc_algorithms_spark.operators import similarity as S

    if method == "brute":
        return S.brute_force_topk(queries, corpus, k=k, **kw)
    if method == "lsh":
        return S.lsh_topk(queries, corpus, k=k, **kw)
    if method == "ivf":
        return S.ivf_topk(queries, corpus, k=k, **kw)
    if method == "ivf-pq":
        return S.pq_topk(queries, corpus, k=k, **kw)
    raise ValueError(f"unknown ANN method {method!r}")


def build_ann_index(corpus: DataFrame, path: str, **kw) -> None:
    """Train + persist the durable IVF-PQ index ONCE (model = coarse
    centroids + PQ codebooks; codes = cell-partitioned (vec_id, code)
    parquet; operators/similarity.py::write_pq_index). Query batches
    probe it training-free with :func:`probe_ann_index`."""
    from cdc_algorithms_spark.operators.similarity import write_pq_index

    write_pq_index(corpus, path, **kw)


def probe_ann_index(
    spark, path: str, queries: DataFrame, vectors: DataFrame, k: int = 10, **kw
) -> DataFrame:
    """Training-free IVF-PQ top-k against a :func:`build_ann_index`
    store — no Lloyd, no corpus encode; the codes read is statically
    pruned to the probed cells and ``vectors`` (the caller's
    id-addressable vector table) is read candidate-proportionally for
    the exact re-rank (operators/similarity.py::pq_topk_indexed)."""
    from cdc_algorithms_spark.operators.similarity import (
        pq_topk_indexed,
        read_pq_index,
    )

    return pq_topk_indexed(queries, read_pq_index(spark, path), vectors, k=k, **kw)


def extend_ann_index(spark, path: str, batch: DataFrame, epoch: int, **kw) -> None:
    """Streaming-ingest half of the durable ANN index: encode a batch
    of NEW vectors with the frozen persisted model (no retraining) and
    append it as a cell-partitioned epoch delta — replay-idempotent per
    epoch (operators/similarity.py::extend_pq_index; the foreachBatch
    loop is streaming/ann_index.py::run_streaming_pq_index).
    :func:`probe_ann_index` reads base + deltas with the same static
    cell pruning."""
    from cdc_algorithms_spark.operators.similarity import extend_pq_index

    extend_pq_index(spark, path, batch, epoch, **kw)


def compact_ann_index(spark, path: str) -> None:
    """Fold a streamed ANN index's epoch deltas back into one base
    codes store (operators/similarity.py::compact_pq_index) — every
    probe lists and opens each live epoch's files, so a standing
    pipeline runs this periodically, like any table OPTIMIZE. Probe
    results are bit-identical before and after."""
    from cdc_algorithms_spark.operators.similarity import compact_pq_index

    compact_pq_index(spark, path)


def clusters(corpus: DataFrame, k: int = 8, dim: int = 64, **kw) -> DataFrame:
    """Semantic k-means grouping of an embedding corpus →
    (cluster, n_members, avg_sq_dist). The curation-side companion of
    topk_similar's IVF index (operators/similarity.py)."""
    from cdc_algorithms_spark.operators.similarity import embedding_clusters

    return embedding_clusters(corpus, k=k, dim=dim, **kw)


def profile(df: DataFrame, columns: list[str] | None = None, **kw) -> DataFrame:
    """Single-pass per-column data-quality summary (operators/profile.py):
    null counts, distinct cardinality (approx by default), min/max."""
    from cdc_algorithms_spark.operators.profile import profile_table

    return profile_table(df, columns, **kw)


# --- text analysis ----------------------------------------------------------

def quality(docs: DataFrame, **kw) -> DataFrame:
    from cdc_algorithms_spark.operators.textstats import quality_scores

    return quality_scores(docs, **kw)


def tokens(docs: DataFrame, **kw) -> DataFrame:
    from cdc_algorithms_spark.operators.textstats import token_counts

    return token_counts(docs, **kw)


def language(docs: DataFrame, **kw) -> DataFrame:
    from cdc_algorithms_spark.operators.textstats import language_id

    return language_id(docs, **kw)


def repetition(docs: DataFrame, **kw) -> DataFrame:
    from cdc_algorithms_spark.operators.textstats import repetition_ratios

    return repetition_ratios(docs, **kw)


def fingerprints(docs: DataFrame, **kw) -> DataFrame:
    from cdc_algorithms_spark.operators.textstats import doc_fingerprints_fast

    return doc_fingerprints_fast(docs, **kw)


# --- streaming --------------------------------------------------------------

def stream_dedup_unique_chunks(docs_stream: DataFrame, **kw) -> DataFrame:
    """Incremental chunk dedup over an unbounded document stream:
    first-occurrence chunk feed (streaming twin of the dedup set,
    streaming/dedup_stream.py::incremental_unique_chunks)."""
    from cdc_algorithms_spark.streaming.dedup_stream import (
        incremental_unique_chunks,
    )

    return incremental_unique_chunks(docs_stream, **kw)


# --- store maintenance & retention (r04) ------------------------------------

def sync_plan(old_chunks: DataFrame, new_chunks: DataFrame) -> DataFrame:
    """Per-source delta-sync transfer plan against an existing store
    (operators/diff.py::sync_plan — hashed-identity aggregate shape)."""
    from cdc_algorithms_spark.operators.diff import sync_plan as _sp

    return _sp(old_chunks, new_chunks)


def sync_plan_budgeted(
    old_chunks: DataFrame, new_chunks: DataFrame, budget_bytes: int
) -> DataFrame:
    """Budget-capped delta sync: greedy highest-coverage-per-shipped-byte
    class selection (operators/diff.py::sync_plan_budgeted)."""
    from cdc_algorithms_spark.operators.diff import (
        sync_plan_budgeted as _spb,
    )

    return _spb(old_chunks, new_chunks, budget_bytes)


def store_gc(store: DataFrame, recipes: DataFrame, **kw) -> DataFrame:
    """One-row GC plan for a content-addressed chunk store: live vs
    orphan counts/bytes, reclaim ratio (operators/dedup.py)."""
    from cdc_algorithms_spark.operators.dedup import store_gc_plan

    return store_gc_plan(store, recipes, **kw)


def version_matrix(chunk_tables, **kw) -> DataFrame:
    """(first_version, last_version) lifecycle matrix of chunk
    identities across an ordered snapshot chain — the retention answer
    for a deduplicated backup chain (operators/diff.py)."""
    from cdc_algorithms_spark.operators.diff import chunk_version_matrix

    return chunk_version_matrix(chunk_tables, **kw)


# --- linkage, layout & anomaly (r05) -----------------------------------------

def fuzzy_matches(df: DataFrame, name_col: str, block_col, **kw) -> DataFrame:
    """Blocked fuzzy matching over the distinct-value vocabulary
    (operators/linkage.py::blocked_fuzzy_name_pairs) — record-linkage
    candidate pairs without an all-pairs row compare."""
    from cdc_algorithms_spark.operators.linkage import blocked_fuzzy_name_pairs

    return blocked_fuzzy_name_pairs(df, name_col, block_col, **kw)


def funnel(events: DataFrame, stages, **kw) -> DataFrame:
    """Strictly-ordered first-touch funnel over event stages
    (operators/linkage.py::event_funnel)."""
    from cdc_algorithms_spark.operators.linkage import event_funnel

    return event_funnel(events, stages, **kw)


def zorder_plan(df: DataFrame, x_col: str, y_col: str, **kw) -> DataFrame:
    """Z-order file-layout plan: map-only quadtree-cell assignment plus
    the per-file min/max pruning stats (operators/layout.py)."""
    from cdc_algorithms_spark.operators.layout import zorder_layout_plan

    return zorder_layout_plan(df, x_col, y_col, **kw)


def compact_plan(
    df: DataFrame, group_col: str, order_col: str, size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Greedy small-file compaction manifest (operators/layout.py::
    compaction_plan) — running-sum bin packing per group."""
    from cdc_algorithms_spark.operators.layout import compaction_plan

    return compaction_plan(df, group_col, order_col, size_col, target_bytes)


def outliers(df: DataFrame, group_col: str, value_col: str, **kw) -> DataFrame:
    """Per-group z-score outliers with order-independent DECIMAL moments
    (operators/profile.py::value_outliers)."""
    from cdc_algorithms_spark.operators.profile import value_outliers

    return value_outliers(df, group_col, value_col, **kw)


def curriculum(docs: DataFrame, band_col, seed: int = 0, **kw) -> DataFrame:
    """Banded curriculum read order: difficulty bands ascending, LCG
    shuffle within band (operators/shuffle.py::curriculum_order)."""
    from cdc_algorithms_spark.operators.shuffle import curriculum_order

    return curriculum_order(docs, band_col, seed=seed, **kw)


def reconcile(left: DataFrame, right: DataFrame, name_col: str, block_col, **kw) -> DataFrame:
    """Cross-table record linkage at vocabulary level
    (operators/linkage.py::blocked_fuzzy_join) — exact + typo links."""
    from cdc_algorithms_spark.operators.linkage import blocked_fuzzy_join

    return blocked_fuzzy_join(left, right, name_col, block_col, **kw)


def pruning_gain(df: DataFrame, x_col: str, y_col: str, **kw) -> DataFrame:
    """Expected per-dimension file-touch fractions: Z-order vs the 1-D
    sorted baseline (operators/layout.py::layout_pruning_compare)."""
    from cdc_algorithms_spark.operators.layout import layout_pruning_compare

    return layout_pruning_compare(df, x_col, y_col, **kw)


def incidents_screen(df: DataFrame, group_col: str, value_col: str, **kw) -> DataFrame:
    """Map-only z-score screen against precomputed moments — feed its
    output into a gaps-and-islands pass for incident runs (see the
    registered ``anomaly_runs`` query for the composition)."""
    from cdc_algorithms_spark.operators.profile import value_outliers

    return value_outliers(df, group_col, value_col, **kw)


def stream_funnel(events_stream: DataFrame, stages, **kw) -> DataFrame:
    """Stateful streaming funnel: per-user stage timestamps as operator
    state, advancement-only emission (streaming/funnel.py)."""
    from cdc_algorithms_spark.streaming.funnel import stateful_funnel

    return stateful_funnel(events_stream, stages, **kw)


def stream_compact(items_stream: DataFrame, group_col: str, order_col: str,
                   size_col: str, target_bytes: int) -> DataFrame:
    """Streaming compaction assignment: per-group running-total state
    routes each arriving item to its target file (streaming/funnel.py)."""
    from cdc_algorithms_spark.streaming.funnel import stateful_compaction

    return stateful_compaction(
        items_stream, group_col, order_col, size_col, target_bytes
    )


def zorder_rewrite(df: DataFrame, x_col: str, y_col: str, path: str, **kw) -> None:
    """Execute a Z-order layout plan: physically rewrite ``df`` into one
    parquet file per quadtree cell at ``path`` (operators/layout.py;
    map-only assignment + one hash exchange, never a global sort)."""
    from cdc_algorithms_spark.operators.layout import zorder_rewrite as _zr

    _zr(df, x_col, y_col, path, **kw)


def compact_rewrite(df: DataFrame, group_col: str, order_col: str,
                    size_col: str, target_bytes: int, path: str) -> None:
    """Execute a compaction plan: rewrite ``df`` into the planned
    ~target_bytes files, one directory per manifest entry
    (operators/layout.py::compaction_rewrite)."""
    from cdc_algorithms_spark.operators.layout import compaction_rewrite as _cr

    _cr(df, group_col, order_col, size_col, target_bytes, path)


def footer_stats(spark, path: str, cols: list[str]) -> DataFrame:
    """Per-file pruning statistics from the REAL parquet footers —
    metadata only (operators/layout.py::parquet_footer_stats)."""
    from cdc_algorithms_spark.operators.layout import parquet_footer_stats

    return parquet_footer_stats(spark, path, cols)


def build_near_dup_index(corpus: DataFrame, path: str, **kw) -> None:
    """Write the durable exact-Jaccard corpus index (shingle-bucketed
    parquet; operators/dedup_docs.py::jaccard_prefix_index +
    write_jaccard_index). Batches probe it with :func:`probe_near_dup_index`
    reading only their own shingle buckets."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        jaccard_prefix_index,
        write_jaccard_index,
    )

    n = kw.pop("n", 3)
    threshold = kw.pop("threshold", 0.8)
    index = jaccard_prefix_index(corpus, n=n, threshold=threshold, **kw)
    write_jaccard_index(index, path)
    index[1].unpersist()


def probe_near_dup_index(spark, path: str, batch: DataFrame, **kw) -> DataFrame:
    """Exact near-dup pairs touching ``batch`` against a
    :func:`build_near_dup_index` store — every index read statically
    pruned to the batch's own shingle buckets
    (operators/dedup_docs.py::incremental_jaccard_pairs_indexed).
    Reads the LIVE store: base plus every :func:`extend_near_dup_index`
    epoch not yet folded by :func:`compact_near_dup_index` (identical
    to the base-only read for a never-extended store).

    The probe persists three batch-scoped frames (shingles, ordered
    sets, candidates; the index sets are joined, never cached) that
    executors hold until released. A standing pipeline calling this per
    micro-batch MUST call :func:`release_probe_frames` after
    materializing each result, or batch-scoped storage accumulates
    across batches."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        incremental_jaccard_pairs_indexed,
        read_jaccard_index_live,
    )

    return incremental_jaccard_pairs_indexed(
        read_jaccard_index_live(spark, path), batch, **kw
    )


def extend_near_dup_index(
    spark, path: str, batch: DataFrame, epoch: int, **kw
) -> None:
    """Add a batch of documents to a :func:`build_near_dup_index` store
    WITHOUT rebuilding it (operators/dedup_docs.py::extend_jaccard_index):
    sets/prefix rows land as bucket-partitioned epoch deltas, per-epoch
    overwrite (at-least-once replay idempotent); the frozen total order
    keeps every future probe EXACT. ``threshold`` must match the
    builder's."""
    from cdc_algorithms_spark.operators.dedup_docs import extend_jaccard_index

    extend_jaccard_index(spark, path, batch, epoch, **kw)


def compact_near_dup_index(spark, path: str) -> None:
    """Fold extend epochs of a :func:`build_near_dup_index` store back
    into its base (operators/dedup_docs.py::compact_jaccard_index) —
    manifest-guarded staged swap: folded-epoch replays are dead,
    concurrent extends survive, failed installs roll back."""
    from cdc_algorithms_spark.operators.dedup_docs import compact_jaccard_index

    compact_jaccard_index(spark, path)


def media_near_dup_pairs(
    media: DataFrame, method: str = "phash", **kw
) -> DataFrame:
    """Near-dup pairs over binary media payloads
    (operators/media_dedup.py) — multimodal content through the dedup
    machinery. ``method='phash'``: banded 64-bit blockhash perceptual
    fingerprints, ``(id_a, id_b, hamming)`` with hamming ≤ 3 structural
    recall (and EXACT invariance to the stub resize — see the module's
    NN-composition theorem). ``method='chunks'``: content-defined
    chunk-set Broder resemblance, ``(id_a, id_b, shared, jaccard)`` —
    shift/container-offset robust. ``media`` needs (media_id, content)."""
    from cdc_algorithms_spark.operators import media_dedup as M

    if method == "phash":
        return M.media_fingerprint_pairs(media, **kw)
    if method == "chunks":
        return M.media_chunk_overlap_pairs(media, **kw)
    raise ValueError(f"unknown media near-dup method {method!r}")


def media_dup_groups(media: DataFrame) -> DataFrame:
    """Exact perceptual-duplicate groups over binary media payloads
    (operators/media_dedup.py::media_phash_duplicate_groups):
    ``(media_id, canonical_id, group_size)`` — the linear,
    mega-cluster-safe output for identical-fingerprint media (m rows,
    never m² pairs); compose with ``media_near_dup_pairs(...,
    max_bucket=…)`` for the hamming 1–3 near-miss tail."""
    from cdc_algorithms_spark.operators.media_dedup import (
        media_phash_duplicate_groups,
    )

    return media_phash_duplicate_groups(media)


def release_probe_frames() -> int:
    """Unpersist every batch-scoped frame the near-dup probe family and
    the chunk scans of :func:`chunk_files` / :func:`chunk_blob` have
    persisted and clear the registry; returns the count released. Call
    after the consuming action of each batch (earlier just forces
    recomputation)."""
    from cdc_algorithms_spark.operators.dedup_docs import release_cached_frames

    return release_cached_frames()


def stream_ingest_pipeline(spark, batch_stages, workdir: str, **kw) -> DataFrame:
    """End-to-end streaming ingest: near-dup dedup -> greedy keep-first
    -> cross-batch compaction manifest, one foreachBatch loop
    (streaming/ingest_pipeline.py::run_streaming_ingest_pipeline).
    The id-ordered arrival contract is ENFORCED by a max-id watermark:
    out-of-order docs are quarantined (pass return_quarantine=True to
    get them back) or, with on_late='error', halt the stream."""
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        run_streaming_ingest_pipeline,
    )

    return run_streaming_ingest_pipeline(spark, batch_stages, workdir, **kw)


def drain_quarantine(spark, workdir: str) -> DataFrame:
    """The deterministic repair for docs the ingest watermark set
    aside: re-key each quarantined row to a fresh id above the current
    watermark (arrival-time identity — late docs take the lower
    priority their late arrival earned) and return the batch to feed
    back into the stream as its next stage
    (streaming/ingest_pipeline.py::requeue_quarantined; full drain
    convergence pinned in tests/test_streaming.py)."""
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        requeue_quarantined,
    )

    return requeue_quarantined(spark, workdir)


def quantile_sketch(
    df: DataFrame, group_cols, value_col: str, lo: int, hi: int, **kw
) -> DataFrame:
    """Build mergeable fixed-grid histogram sketches — one small exact
    row per group; persist them and answer any-subset percentile
    questions later without re-reading the data
    (operators/qsketch.py::histogram_sketch)."""
    from cdc_algorithms_spark.operators.qsketch import histogram_sketch

    return histogram_sketch(df, group_cols, value_col, lo, hi, **kw)


def merge_quantile_sketches(sketches: DataFrame, group_cols=()) -> DataFrame:
    """Element-wise merge of histogram-sketch rows to a coarser
    grouping (or one global row) — touches only the sketch rows, and
    equals a one-shot rebuild EXACTLY (pinned in tests/test_qsketch.py;
    operators/qsketch.py::sketch_merge)."""
    from cdc_algorithms_spark.operators.qsketch import sketch_merge

    return sketch_merge(sketches, group_cols)


def quantile_bounds(
    sketches: DataFrame, lo: int, hi: int, buckets: int, **kw
) -> DataFrame:
    """Percentile bounds off sketch rows: the rank-ceil(q*n) order
    statistic provably lies inside each reported [lo, hi] bucket
    (operators/qsketch.py::sketch_quantiles)."""
    from cdc_algorithms_spark.operators.qsketch import sketch_quantiles

    return sketch_quantiles(sketches, lo, hi, buckets, **kw)


def layout_drift(spark, path: str) -> DataFrame:
    """Clustering-decay report for a Z-ordered store: per cell, the
    value units spilling outside the cell's ideal grid rectangle —
    zero after a fresh rewrite, positive exactly where frozen-bounds
    appends clamped out-of-range rows. The measurable trigger for a
    periodic re-plan (operators/layout.py::layout_drift_report)."""
    from cdc_algorithms_spark.operators.layout import layout_drift_report

    return layout_drift_report(spark, path)


def relayout(spark, path: str, min_excess: int = 1, nd: bool = False) -> bool:
    """The RE-PLAN verb that consumes :func:`layout_drift`: when the
    summed per-cell excess reaches ``min_excess``, re-derive FRESH
    bounds over base ∪ appends, rewrite the store staged, and swap
    rename-first with a refreshed meta; below threshold the store is
    left byte-untouched and False returns (operators/layout.py::
    zorder_relayout / zorder_relayout_nd; oracle-checked by
    zorder_relayout_check)."""
    from cdc_algorithms_spark.operators.layout import (
        zorder_relayout,
        zorder_relayout_nd,
    )

    fn = zorder_relayout_nd if nd else zorder_relayout
    return fn(spark, path, min_excess=min_excess)


def auto_quantile_sketch(
    df: DataFrame, group_cols, value_col: str, buckets: int = 64
) -> DataFrame:
    """:func:`quantile_sketch` with DISCOVERED bounds: one exact
    min/max pass fixes the grid and the bounds persist in the sketch
    rows (read them back with qsketch.sketch_grid), so a standing
    pipeline can sketch a column nobody knows the range of while
    keeping the exact-merge law
    (operators/qsketch.py::histogram_sketch_auto)."""
    from cdc_algorithms_spark.operators.qsketch import histogram_sketch_auto

    return histogram_sketch_auto(df, group_cols, value_col, buckets)


def rebuild_ann_index(spark, path: str, vectors: DataFrame, **kw) -> None:
    """Codebook-drift refresh for a durable IVF-PQ store: retrain the
    model on the CURRENT corpus (base ∪ every streamed delta),
    re-encode all codes, and swap the new index in rename-first —
    the periodic answer to recall erosion under distribution shift
    (operators/similarity.py::rebuild_pq_index; oracle-checked by
    ann_pq_rebuild_check)."""
    from cdc_algorithms_spark.operators.similarity import rebuild_pq_index

    return rebuild_pq_index(spark, path, vectors, **kw)


def compact_stream_store(spark, store_dir: str) -> int:
    """Fold the live ``seed_delta/epoch=<id>`` epochs of a foreachBatch
    store (sync chunk store, band index, doc store, media fingerprints)
    into its ``seed`` base, rewritten as flat parquet, and return the
    number of epochs folded — the maintenance verb that stops per-batch
    epochs piling up as files every read must list and open. Run with
    readers quiesced (between micro-batches). A plain-union fold through
    operators/storeio.py::compact_delta_store, whose
    ``_folded_epochs.json`` manifest makes an at-least-once replay of a
    folded epoch dead instead of double-counted; an epoch landing
    mid-fold stays live. The store needs its seed: the seedless
    watermark, manifest and sketch stores are never folded."""
    from cdc_algorithms_spark.operators.storeio import compact_delta_store

    return compact_delta_store(spark, store_dir, {
        "seed": lambda live, dest: live.write.mode("overwrite").parquet(dest),
    })


def realize_mixture(
    docs: DataFrame, quotas: dict, group_col: str = "source",
    weight_col: str = "n_chars", seed: int = 0,
) -> DataFrame:
    """Turn a mixture plan's per-source quotas into an actual corpus
    subset: an independent integer-exact PPS draw inside each source
    (operators/sampling.py::pps_systematic_sample_by_group with a
    quota dict) — sum(n_picks) == quota exactly per source, every pick
    DuckDB-replayable."""
    from cdc_algorithms_spark.operators.sampling import (
        pps_systematic_sample_by_group,
    )

    return pps_systematic_sample_by_group(
        docs, group_col, weight_col, quotas, seed=seed
    )


def search(
    docs: DataFrame, queries: list, k: int = 10, **kw
) -> DataFrame:
    """BM25 top-k over a documents frame for a literal query list
    [(query_id, "query text"), ...] — ranked retrieval for eval-topic
    probes, contamination suspects, and targeted selection
    (operators/retrieval.py::bm25_topk; oracle-checked by
    bm25_topk_docs). Scores are quantized-sum deterministic: identical
    ranks and scores under any partitioning."""
    from cdc_algorithms_spark.operators.retrieval import bm25_topk, query_terms

    spark = docs.sparkSession
    return bm25_topk(docs, query_terms(spark, queries), k=k, **kw)


def build_text_index(docs: DataFrame, path: str, buckets: int | None = None) -> None:
    """Write the durable BM25 posting index: term-bucket-partitioned
    postings plus an exact-BIGINT corpus meta row (operators/
    retrieval.py::write_text_index). Probes prune reads to the query's
    own buckets and derive df/avgdl from what they read, so extends
    never go stale."""
    from cdc_algorithms_spark.operators.retrieval import write_text_index

    return write_text_index(docs, path, buckets)


def extend_text_index(spark, path: str, batch_docs: DataFrame, epoch: int,
                      buckets: int | None = None) -> None:
    """Append a document batch to a durable text index as an epoch
    delta — batch-proportional cost, replay-idempotent, and probes stay
    EXACT across generations because global stats are derived at read
    time (operators/retrieval.py::extend_text_index; oracle-checked by
    streaming_bm25_index)."""
    from cdc_algorithms_spark.operators.retrieval import extend_text_index

    return extend_text_index(spark, path, batch_docs, epoch, buckets)


def compact_text_index(spark, path: str) -> None:
    """Fold a text index's epoch deltas into one base store with the
    rename-first swap (operators/retrieval.py::compact_text_index) —
    the text-retrieval OPTIMIZE, same discipline as compact_ann_index."""
    from cdc_algorithms_spark.operators.retrieval import compact_text_index

    return compact_text_index(spark, path)


def search_index(
    spark, path: str, queries: list, k: int = 10, **kw
) -> DataFrame:
    """Probe a :func:`build_text_index` store — identical output to
    :func:`search`, with posting I/O statically pruned to the buckets
    the query terms hash into (operators/retrieval.py::
    bm25_topk_indexed; oracle-checked by bm25_topk_indexed)."""
    from cdc_algorithms_spark.operators.retrieval import (
        bm25_topk_indexed,
        query_terms,
    )

    return bm25_topk_indexed(spark, path, query_terms(spark, queries), k=k, **kw)


def dup_text_fraction(docs: DataFrame, n: int = 8, **kw) -> DataFrame:
    """Per-document duplicate-text fraction: the share of each doc's
    positional word n-gram instances occurring in ≥ 2 documents — the
    C4/RefinedWeb threshold signal (operators/selection.py::
    cross_doc_dup_fraction; oracle-checked by cross_doc_dup_fraction).
    At/above 200k docs the gram shuffles auto-switch to 128-bit
    fingerprints (fingerprint=True/False forces either path)."""
    from cdc_algorithms_spark.operators.selection import cross_doc_dup_fraction

    return cross_doc_dup_fraction(docs, n=n, **kw)


def importance_weights(docs: DataFrame, target_pred, **kw) -> DataFrame:
    """DSIR-style importance weights: per-doc log-likelihood ratio
    between smoothed unigram models of the target slice and the raw
    corpus (operators/selection.py::dsir_importance_weights;
    oracle-checked by dsir_importance_weights). Feed the weights to
    :func:`realize_mixture` / the PPS samplers to realize a
    selection."""
    from cdc_algorithms_spark.operators.selection import dsir_importance_weights

    return dsir_importance_weights(docs, target_pred, **kw)


def dedup_spans(docs: DataFrame, n: int = 8, **kw) -> DataFrame:
    """Exact substring-span dedup: remove every cross-doc duplicated
    word n-gram instance from all but its canonical document and
    re-join the survivors — the span-granularity transform of Lee et
    al. 2022 (operators/selection.py::remove_duplicate_spans;
    oracle-checked by exact_substring_dedup). Doc-level near-dup stays
    with :func:`near_dup_pairs`; this is what you run AFTER keeping a
    doc to strip its boilerplate overlap."""
    from cdc_algorithms_spark.operators.selection import remove_duplicate_spans

    return remove_duplicate_spans(docs, n=n, **kw)


def log_quantile_sketch(df: DataFrame, group_cols, value_col: str) -> DataFrame:
    """BOUNDLESS mergeable quantile sketch on the universal log₂ grid —
    no caller bounds, no discovery pass, any two sketches merge, values
    of any future magnitude absorb exactly (operators/qsketch.py::
    histogram_sketch_log; read with sketch_quantiles_log; oracle-checked
    by value_quantile_sketch_log). Price vs :func:`quantile_sketch`:
    power-of-two relative-error bounds instead of fixed-width absolute
    ones."""
    from cdc_algorithms_spark.operators.qsketch import histogram_sketch_log

    return histogram_sketch_log(df, group_cols, value_col)


def hybrid_search(
    docs: DataFrame, embeddings: DataFrame, queries: list,
    query_vec_ids: list, k: int = 10, depth: int = 50,
) -> DataFrame:
    """Hybrid retrieval: BM25 ranks + quantized-integer inner-product
    ranks fused by reciprocal-rank fusion (operators/retrieval.py::
    bm25_ranks / mips_topk / rrf_fuse; oracle-checked end to end by
    hybrid_rrf_search). ``queries`` is [(query_id, "text"), ...];
    ``query_vec_ids`` is [(query_id, vec_id), ...] naming each query's
    probe embedding."""
    from cdc_algorithms_spark.operators.retrieval import (
        bm25_ranks,
        mips_topk,
        query_terms,
        rrf_fuse,
    )

    spark = docs.sparkSession
    lex = bm25_ranks(docs, query_terms(spark, queries), depth=depth)
    qmap = spark.createDataFrame(query_vec_ids, "query_id long, qvec_id long")
    qvecs = qmap.join(
        embeddings, qmap["qvec_id"] == embeddings["vec_id"]
    ).select("query_id", "embedding")
    sem = mips_topk(embeddings, qvecs, k=depth)
    return rrf_fuse([lex, sem], k=k)


def learn_tokenizer(docs: DataFrame, n_merges: int = 32000, **kw) -> list:
    """Learn a BPE merge table over the corpus (operators/bpe.py::
    learn_bpe): Spark folds the corpus to the distinct-word frequency
    table — the only corpus-sized work — and the merge loop runs
    driver-side over the collected vocabulary (incremental pair counts
    + lazy heap: production merge counts in seconds, where per-round
    Spark jobs cost hours). ``min_count`` / ``max_vocab`` bound the
    driver transfer for pathological vocabularies. Merge selection is
    pinned exactly against a from-scratch reference to vocabulary
    exhaustion (tests/test_bpe.py); the first round's pair counts are
    oracle-checked (bpe_pair_counts)."""
    from cdc_algorithms_spark.operators.bpe import learn_bpe

    return learn_bpe(docs, n_merges, **kw)


def encode_tokens(docs: DataFrame, merges: list) -> DataFrame:
    """Encode the corpus vocabulary with a learned merge table
    (operators/bpe.py::bpe_encode) → (word, wc, tokens); concatenating
    tokens restores each word exactly (conservation pinned in
    tests/test_bpe.py)."""
    from cdc_algorithms_spark.operators.bpe import bpe_encode

    return bpe_encode(docs, merges)


def mine_hard_negatives(lex: DataFrame, sem: DataFrame, k: int = 10) -> DataFrame:
    """Contrastive-training negatives: lexically top-ranked docs the
    semantic leg does NOT return (operators/retrieval.py::
    hard_negatives; oracle-checked by contrastive_hard_negatives).
    Feed bm25_ranks-shaped and mips_topk-shaped (query_id, doc_id,
    rank) frames."""
    from cdc_algorithms_spark.operators.retrieval import hard_negatives

    return hard_negatives(lex, sem, k=k)


def hybrid_search_indexed(
    spark,
    text_index: str,
    pq_index_path: str,
    embeddings: DataFrame,
    queries: list,
    query_vec_ids: list,
    k: int = 10,
    depth: int = 50,
    nprobe: int = 6,
    rerank: int = 6,
) -> DataFrame:
    """Hybrid retrieval over the DURABLE stores — the standing-pipeline
    form of :func:`hybrid_search`: the lexical leg probes a
    :func:`build_text_index` store (bucket-pruned, bit-identical to the
    batch ranks), the semantic leg probes a write_pq_index store
    (cell-pruned, training-free), fused by RRF (verification contract
    in the hybrid_rrf_indexed driver row: lexical checksum-exact, fused
    top-k recall-floored vs the brute fusion)."""
    from cdc_algorithms_spark.operators.retrieval import (
        bm25_topk_indexed,
        query_terms,
        rrf_fuse,
    )
    from cdc_algorithms_spark.operators.similarity import (
        pq_topk_indexed,
        read_pq_index,
    )
    from pyspark.sql import functions as F

    lex = bm25_topk_indexed(
        spark, text_index, query_terms(spark, queries), k=depth
    ).select("query_id", "doc_id", "rank")
    qmap = spark.createDataFrame(query_vec_ids, "query_id long, qvec_id long")
    qvecs = qmap.join(
        embeddings, qmap["qvec_id"] == embeddings["vec_id"]
    ).select("query_id", "embedding")
    sem = pq_topk_indexed(
        qvecs, read_pq_index(spark, pq_index_path), embeddings,
        k=depth, nprobe=nprobe, rerank=rerank,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, sem], k=k)


def ann_drift_report(spark, pq_index_path: str) -> DataFrame:
    """Per-cell codebook-drift report for a durable PQ store
    (operators/similarity.py::pq_drift_report): integer-exact ppm
    ratio of mean quantized reconstruction error, encode-only epochs
    vs the model's training data — the DETECT half of the ANN
    maintenance loop (oracle-checked lifecycle: ann_drift_check)."""
    from cdc_algorithms_spark.operators.similarity import pq_drift_report

    return pq_drift_report(spark, pq_index_path)


def rebuild_index_if_drifted(
    spark, pq_index_path: str, vectors: DataFrame, max_ppm: int = 1_500_000,
    **kw,
) -> bool:
    """Threshold-gated ANN refresh (operators/similarity.py::
    rebuild_pq_index_if_drifted): rebuilds the PQ store when the
    corpus-weighted drift ratio reaches ``max_ppm``; True iff a rebuild
    ran. The policy verb consuming :func:`ann_drift_report`."""
    from cdc_algorithms_spark.operators.similarity import (
        rebuild_pq_index_if_drifted,
    )

    return rebuild_pq_index_if_drifted(
        spark, pq_index_path, vectors, max_ppm=max_ppm, **kw
    )


def build_dsir_store(
    docs: DataFrame, target_pred, path: str, **kw
) -> None:
    """Write the durable DSIR term-count store (operators/selection.py::
    write_dsir_counts): bucket-partitioned unigram counts + exact token
    totals — the standing form of :func:`importance_weights`; extend
    with extend_dsir_counts / streaming/dsir_stream.py, compact with
    compact_dsir_counts."""
    from cdc_algorithms_spark.operators.selection import write_dsir_counts

    return write_dsir_counts(docs, target_pred, path, **kw)


def importance_weights_indexed(
    spark, path: str, docs: DataFrame, **kw
) -> DataFrame:
    """Score documents against a :func:`build_dsir_store` store
    (operators/selection.py::dsir_weights_indexed): bit-identical to
    the batch :func:`importance_weights` when the store folds to the
    same corpus (oracle-shared driver row streaming_dsir_weights)."""
    from cdc_algorithms_spark.operators.selection import dsir_weights_indexed

    return dsir_weights_indexed(spark, path, docs, **kw)


def compact_dsir_store(spark, path: str) -> None:
    """Fold a :func:`build_dsir_store` store's epoch deltas into one
    base generation (operators/selection.py::compact_dsir_counts) —
    manifest-guarded rename-first swap, same OPTIMIZE discipline as
    :func:`compact_text_index` / :func:`compact_ann_index`."""
    from cdc_algorithms_spark.operators.selection import compact_dsir_counts

    return compact_dsir_counts(spark, path)
