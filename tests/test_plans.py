"""Plan-quality pins (the 100 TB gate, SURVEY.md §4).

These tests assert properties of the PHYSICAL PLAN, not results: filters
pushed to parquet, columns pruned, small dimensions broadcast, Python
confined to the chunker surface, shuffle counts bounded. A change that
silently de-optimizes a query fails here instead of surfacing as a
cluster-scale slowdown.
"""

from __future__ import annotations

from cdc_algorithms_spark import plans as P
from cdc_algorithms_spark.queries import SPARK_QUERIES

from tests.conftest import SF_DIR


def _q(spark, name):
    return SPARK_QUERIES[name](spark, SF_DIR)


def test_q1_pushdown_pruning_and_single_shuffle(spark):
    df = _q(spark, "q1_pricing_summary")
    assert any("l_shipdate" in f for f in P.pushed_filters(df)), "filter not pushed to scan"
    (cols,) = P.read_schema_columns(df)
    assert len(cols) <= 7, f"column pruning lost: scan reads {cols}"
    assert P.python_eval_count(df) == 0
    assert P.exchange_count(df) == 1  # exactly the groupBy shuffle
    assert P.codegen_stage_count(df) >= 1


def test_q5_broadcasts_small_dims(spark):
    df = _q(spark, "q5_nation_revenue")
    # region/nation/supplier/customer are all broadcast — only the
    # lineitem→orders side may shuffle.
    assert P.broadcast_join_count(df) >= 3
    assert P.exchange_count(df) <= 2
    assert P.python_eval_count(df) == 0


def test_fixed_chunking_is_pure_jvm_and_shuffle_free(spark):
    df = _q(spark, "fixed_chunks")
    assert P.python_eval_count(df) == 0
    assert P.exchange_count(df) == 0


def test_cdc_chunking_is_one_python_stage_no_shuffle(spark):
    df = _q(spark, "ae_chunks")
    assert P.python_eval_count(df) == 1  # exactly the mapInPandas chunker
    assert P.exchange_count(df) == 0  # chunking itself never shuffles


def test_dedup_stats_shuffles_only_hashes(spark):
    df = _q(spark, "ae_dedup_stats")
    assert P.exchange_count(df) <= 2  # per-key dedup + final rollup
    # scans feeding the chunker read only (id, text)
    for cols in P.read_schema_columns(df):
        assert len(cols) <= 2, f"chunker input not pruned: {cols}"


def test_near_dup_ops_stay_jvm_side(spark):
    for name in ("ngram_jaccard_pairs", "minhash_lsh_pairs", "exact_dedup_docs",
                 "ann_bruteforce_topk", "quality_scores", "token_counts"):
        df = _q(spark, name)
        assert P.python_eval_count(df) == 0, f"{name} fell off the JVM path"


def test_ann_filter_pushdown(spark):
    df = _q(spark, "ann_bruteforce_topk")
    assert any("vec_id" in f for f in P.pushed_filters(df))


def test_q17_window_decorrelation_single_fact_shuffle(spark):
    """The correlated-subquery rewrite must stay a window over ONE
    shuffle of lineitem — no self-join, no second scan."""
    df = _q(spark, "q17_small_quantity_revenue")
    assert len(P.read_schema_columns(df)) == 1, "decorrelation re-scanned the fact table"
    assert P.exchange_count(df) <= 2  # window partition + final 1-row agg
    assert P.python_eval_count(df) == 0


def test_q4_exists_is_semi_join(spark):
    df = _q(spark, "q4_order_priority")
    assert "LeftSemi" in P.physical_plan(df), "EXISTS must plan as a semi join"
    assert P.python_eval_count(df) == 0


def test_tfidf_no_forced_vocab_broadcast(spark):
    """The tf↔df join key is the vocabulary — corpus-sized at scale, so
    a forced broadcast hint would OOM the driver at 100 TB. Only the
    1-row doc-count broadcast is allowed to appear pre-AQE; and the
    top-k rank must plan with partial WindowGroupLimit so no task ever
    sorts a whole language's vocabulary."""
    df = _q(spark, "tfidf_top_terms")
    assert P.broadcast_hint_count(df) <= 1, "vocabulary join must not be hint-broadcast"
    plan = P.physical_plan(df, "simple")
    assert plan.count("WindowGroupLimit") >= 2, "partial top-k pushdown missing"
    assert P.python_eval_count(df) == 0


def test_sync_plan_no_content_keyed_window(spark):
    """First-occurrence per chunk identity must come from a min(struct)
    aggregate (map-side combinable), never a row_number window keyed by
    chunk_text — a hot duplicate chunk would put all its copies in one
    task."""
    df = _q(spark, "sync_plan_fixed")
    for cols in P.window_partition_columns(df):
        assert "chunk_text" not in cols, f"content-keyed window: {cols}"


def test_nation_avg_is_aggregate_join_not_25_way_window(spark):
    """Per-nation average must be aggregate + broadcast join back; a
    window over s_nationkey caps parallelism at 25 nations."""
    df = _q(spark, "suppliers_above_nation_avg")
    assert P.window_partition_columns(df) == [], "expected no windows"
    assert P.broadcast_join_count(df) >= 1
    assert P.python_eval_count(df) == 0


def test_stratified_sample_no_whole_language_window(spark):
    """Per-language rank must come from the bounded two-phase prefix
    sum: the row-level rank window is keyed (lang, __bkt); the only
    lang-alone window allowed is the O(buckets) post-aggregate bases
    frame (same contract as the curation pipeline)."""
    df = _q(spark, "stratified_sample_docs")
    specs = P.window_partition_columns(df)
    assert any(
        "lang" in p and "__bkt" in p for p in specs
    ), f"bounded (lang, __bkt) rank window missing: {specs}"
    assert P.python_eval_count(df) == 0


def test_locf_grid_single_window_shuffle(spark):
    df = _q(spark, "events_hourly_locf")
    # grid build (distinct keys) + bucket agg + window; the bounds row
    # and grid join in via broadcast, never a shuffled join
    assert P.broadcast_join_count(df) >= 1
    assert P.python_eval_count(df) == 0


def test_simhash_fingerprints_map_only(spark):
    """The fingerprint stage must not shuffle (the SWAR/HOF rewrite) —
    the only exchanges in the pair query belong to the band self-join."""
    from cdc_algorithms_spark.operators.dedup_docs import simhash_fingerprints
    from cdc_algorithms_spark.sources.registry import load_table

    fps = simhash_fingerprints(load_table(spark, "documents", SF_DIR))
    assert P.exchange_count(fps) == 0
    assert P.python_eval_count(fps) == 0


# Queries that must stay pure-JVM: any Python eval node appearing in
# their plans is an accidental de-optimization (a UDF fallback sneaking
# into what should be whole-stage-codegen territory).
_PURE_JVM_QUERIES = [
    "fixed_chunks",
    "fixed_dedup_stats",
    "chunk_size_histogram_fixed",
    "dedup_stats_by_lang",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "brand_volume",
    "top_order_per_customer",
    "events_json_stats",
    "user_sessions",
    "purchase_and_error_users",
    "docs_rollup",
    "events_cube",
    "docs_grouping_sets",
    "price_quantiles",
    "events_pivot_by_type",
    "sliding_event_value",
    "rolling_7d_user_value",
    "customer_balance_quartiles",
    "events_props_map_stats",
    "q4_order_priority",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "orders_above_global_avg",
    "suppliers_above_nation_avg",
    "events_hourly_locf",
    "snapshot_diff_fixed",
    "change_ratio_fixed",
    "sync_plan_fixed",
    "asof_last_view_before_purchase",
    "value_band_range_join",
    "order_pairs_within_30d",
    "customers_no_1995_order",
    "parts_shipped_1998_semi",
    "viewers_never_purchased",
    "monthly_order_stats",
    "salted_user_segment_join",
    "exact_dedup_docs",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    # embedding_near_dup intentionally uses the blocked-BLAS
    # applyInPandas kernel (see its docstring) — not a stray fallback
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "lang_marker_hits",
    "language_id",
    "quality_scores",
    "token_counts",
    "tfidf_top_terms",
    "stratified_sample_docs",
    "sql_frontend_pricing_summary",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q10_returned_items",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q19_disjunctive_revenue",
    "q2_cheapest_supplier",
    "q22_idle_rich_customers",
    "chunk_overlap_pairs_fixed",
    "part_metrics_unpivot",
    "repetition_ratios",
]


def test_q6_scan_only_single_shuffle(spark):
    """Q6 is the pushdown microbench: all four predicates reach the
    parquet scan and the only exchange is the final 1-row aggregate."""
    df = _q(spark, "q6_forecast_revenue")
    pushed = " ".join(P.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed to scan"
    (cols,) = P.read_schema_columns(df)
    assert len(cols) <= 4
    assert P.exchange_count(df) == 1


def test_q19_disjunction_residues_pushed(spark):
    """The brand IN-list must reach the part scan and the quantity
    envelope the lineitem scan even though the full OR spans the join."""
    df = _q(spark, "q19_disjunctive_revenue")
    pushed = P.pushed_filters(df)
    assert any("p_brand" in f for f in pushed)
    assert any("l_quantity" in f for f in pushed)
    assert P.broadcast_join_count(df) >= 1
    assert P.exchange_count(df) <= 1


def test_q7_dim_lineages_broadcast(spark):
    """Both nation lineages resolve via broadcast; only the fact side
    may exchange."""
    df = _q(spark, "q7_volume_shipping")
    assert P.broadcast_join_count(df) >= 3
    assert P.exchange_count(df) <= 2


def test_q2_single_agg_then_window_no_rescan(spark):
    """The correlated-min decorrelation: one fact scan, grouped agg,
    window min on the agg's own key — never a self-join re-scan."""
    df = _q(spark, "q2_cheapest_supplier")
    assert sum(len(c) >= 4 for c in P.read_schema_columns(df)) == 1, (
        "fact table scanned more than once"
    )
    assert P.exchange_count(df) <= 2


def test_no_stray_python_in_jvm_queries(spark):
    offenders = []
    for name in _PURE_JVM_QUERIES:
        df = _q(spark, name)
        if P.python_eval_count(df) != 0:
            offenders.append(name)
    assert not offenders, f"Python eval leaked into JVM-only plans: {offenders}"


def test_q8_dual_broadcast_lineages_fact_shuffle_join(spark):
    """q8: part/customer-region/supplier-nation lineages broadcast; the
    only shuffles belong to the lineitem⋈orders fact join + final agg."""
    df = _q(spark, "q8_market_share")
    assert P.broadcast_join_count(df) >= 3
    assert P.python_eval_count(df) == 0
    # fact-fact join (2 sides) + aggregate; broadcasts add none
    assert P.exchange_count(df) <= 3


def test_q11_threshold_broadcast_no_extra_scan(spark):
    """q11: the scalar cutoff must come back as a broadcast 1-row join,
    and the lineitem scan must prune to the 3 needed columns."""
    df = _q(spark, "q11_important_stock")
    assert P.broadcast_join_count(df) >= 2  # supplier dim + threshold row
    for cols in P.read_schema_columns(df):
        assert len(cols) <= 3, f"scan reads {cols}"
    assert P.python_eval_count(df) == 0


def test_q21_single_orderkey_shuffle_for_exists_pair(spark):
    """q21: the EXISTS/NOT-EXISTS pair costs one orderkey shuffle (reused
    by the per-order aggregate and the late-line join) — no correlated
    self-join blowup, supplier broadcast on top."""
    df = _q(spark, "q21_waiting_supplier")
    assert P.broadcast_join_count(df) >= 1
    assert P.python_eval_count(df) == 0
    # orders⋈lineitem join, orderkey agg reuse, supplier agg — bounded
    assert P.exchange_count(df) <= 5


def test_lm_bigram_model_joins_broadcast(spark):
    """The bigram model is vocabulary-sized — both model joins must come
    back broadcast, never sort-merge, and no Python touches the plan."""
    df = _q(spark, "lm_bigram_scores")
    assert P.python_eval_count(df) == 0
    assert P.broadcast_join_count(df) >= 2
    assert P.sort_merge_join_count(df) == 0


def test_sketch_report_is_two_level_aggregate(spark):
    """Per-group sketches + union rollup: partial-agg shuffles only —
    sketch rows (few KiB), never chunk rows twice."""
    df = _q(spark, "dedup_sketch_report_fixed")
    assert P.python_eval_count(df) == 0


def test_duplicated_spans_shuffles_bounded(spark):
    """Cross-doc dup marking is aggregate+join (map-side partials; AQE
    can split a hot-chunk probe side — a chunk-key window could not),
    then per-doc islands window + span aggregate. One join, bounded
    shuffles, nothing pairwise."""
    df = _q(spark, "duplicated_spans_fixed")
    assert P.python_eval_count(df) == 0
    assert P.broadcast_join_count(df) + P.sort_merge_join_count(df) == 1
    assert P.exchange_count(df) <= 4


def test_curation_pipeline_windows_are_skew_safe(spark):
    """The curation flow must never window-partition by raw ``text``
    (hot duplicate → one task) and must bound its running sum to
    (lang, bucket) partitions instead of whole-language ones; the only
    lang-alone window allowed is the tiny per-bucket offsets frame
    (post-aggregate, O(buckets) rows)."""
    df = _q(spark, "curation_pipeline")
    specs = P.window_partition_columns(df)
    assert specs, "expected window operators in the plan"
    for cols in specs:
        assert "text" not in cols, f"text-keyed window: {cols}"
    assert any(
        "lang" in cols and ("bucket" in cols or "__bkt" in cols)
        for cols in specs
    ), f"bounded (lang, bucket) running-sum window missing: {specs}"
    # dedup is aggregate+join, not a text window: the text exchange is
    # the partial-aggregated groupBy, and exactly one such key exists
    assert P.python_eval_count(df) == 0


def test_decontamination_broadcasts_bench_side(spark):
    """The benchmark shingle set must broadcast (it is tiny vs the
    corpus); the training side is map-only explode + doc-keyed
    aggregates — no corpus-sized shuffle, no Python."""
    df = _q(spark, "benchmark_decontamination")
    assert P.python_eval_count(df) == 0
    assert P.broadcast_join_count(df) >= 1
    assert P.sort_merge_join_count(df) <= 1  # totals⋈hits on doc_id only


def test_sequence_packing_windows_are_bounded(spark):
    """Packing's running token offset must be the bounded two-phase
    prefix sum: every data-sized window partitions by the bucket column;
    the only bucket-less window is the O(buckets) offsets frame (which
    follows an aggregate). No Python, no text column anywhere past the
    token-count projection."""
    df = _q(spark, "sequence_packing_plan")
    specs = P.window_partition_columns(df)
    assert specs, "expected window operators in the plan"
    assert any("__bkt" in cols for cols in specs), (
        f"bounded in-bucket running-sum window missing: {specs}"
    )
    assert P.python_eval_count(df) == 0


def test_ingest_stats_shuffles_only_hash_groups(spark):
    """Incremental ingest must reduce the batch to per-hash groups
    map-side and join the index on the hash key — no window operators,
    no Python stage; chunk text never moves past the partial aggregate."""
    df = _q(spark, "incremental_ingest_stats")
    assert P.window_partition_columns(df) == []
    assert P.python_eval_count(df) == 0


def test_clean_text_is_map_only(spark):
    """text_cleaning is a pure projection: no exchange, no window, no
    Python in the plan."""
    df = _q(spark, "text_cleaning")
    assert P.python_eval_count(df) == 0
    assert P.exchange_count(df) == 0
    assert P.window_partition_columns(df) == []


def test_shuffle_rank_has_no_all_rows_window(spark):
    """Global rank must come from the bucketed two-phase form: every
    data-sized window partitions by the key bucket; the only global
    window is the O(buckets) bases frame behind an aggregate."""
    df = _q(spark, "shuffled_corpus_order")
    specs = P.window_partition_columns(df)
    assert any("__bkt" in cols for cols in specs), specs
    assert P.python_eval_count(df) == 0


def test_balance_quartiles_has_no_all_rows_window(spark):
    """ntile/percent_rank/cume_dist over the full customer table must
    NOT plan as a global ORDER BY window (single-partition sort of the
    corpus — the r07 weak flag): the only data-sized window partitions
    by the cents bucket; the sole unpartitioned window is the
    O(buckets) bases frame behind an aggregate, exactly the
    deterministic_shuffle shape."""
    df = _q(spark, "customer_balance_quartiles")
    specs = P.window_partition_columns(df)
    assert any("__bkt" in cols for cols in specs), specs
    # no ntile/percent_rank/cume_dist window remains anywhere
    plan = P.physical_plan(df)
    for fn in ("ntile", "percent_rank", "cume_dist"):
        assert fn not in plan, f"{fn} window survived the closed-form rewrite"
    assert P.python_eval_count(df) == 0


def test_store_gc_plan_is_windowless_two_aggregate(spark):
    """GC accounting must stay aggregate+join: no window anywhere (a
    refcount window keyed on the chunk identity would pin a hot chunk's
    millions of references on one task), no Python, bounded exchanges
    (refcount agg, join, final rollup)."""
    df = _q(spark, "store_gc_plan_fixed")
    assert P.window_partition_columns(df) == []
    assert P.python_eval_count(df) == 0
    assert P.exchange_count(df) <= 4


def test_version_matrix_dedupes_before_identity_rollup(spark):
    """The snapshot-chain rollup must collapse per-(identity, version)
    FIRST (map-side combined) and never window: the shuffled volume is
    unique-chunk metadata, not chunk multiplicity."""
    df = _q(spark, "chunk_version_matrix_fixed")
    assert P.window_partition_columns(df) == []
    assert P.python_eval_count(df) == 0
    plan = P.physical_plan(df)
    assert "HashAggregate" in plan


def test_capped_lsh_broadcasts_the_oversized_buckets(spark):
    """The registered LSH query runs with max_bucket: the cap is an
    anti-join on the (rare) oversized buckets with NO broadcast hint —
    AQE's runtime re-plan must broadcast the build side when it is
    actually small (the normal case), while a pathological mega-bucket
    corpus degrades to a shuffle join instead of an unbounded driver
    collect. Assert on the EXECUTED adaptive plan, where AQE's decision
    is visible; the content-keyed window ban holds either way."""
    df = _q(spark, "minhash_lsh_pairs")
    assert "LeftAnti" in P.physical_plan(df), "bucket cap anti-join missing"
    from cdc_algorithms_spark.operators import dedup_docs as dd

    assert P.broadcast_hint_count(df) == 0, "cap must stay hint-free"
    df.collect()  # run so AQE finalizes the join strategies
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in executed and "LeftAnti" in executed, (
        "AQE did not broadcast the oversized-bucket anti-join build side"
    )
    assert not any(
        "chunk_text" in cols or "text" in cols
        for cols in P.window_partition_columns(df)
    )
    dd.release_cached_frames()


def test_indexed_incremental_probe_never_rescans_corpus(spark, tmp_path):
    """The batch-proportional exact incremental path: with the
    jaccard_prefix_index MATERIALIZED (parquet, as a 100 TB pipeline
    would persist it), the probe plan must read only the index files
    and the batch — the corpus text is never re-scanned and the shingle
    document frequencies are never re-aggregated per batch (the
    per-call corpus∪batch re-aggregation is exactly what the
    non-indexed variant is documented NOT to solve)."""
    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators import dedup_docs as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    # the batch arrives as NEW data (a local frame here, a fresh ingest
    # table in production) — so any documents.parquet scan in the probe
    # plan can only be an illegal corpus re-read
    batch = spark.createDataFrame(
        [(r.doc_id, r.text) for r in
         docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "text").collect()],
        "doc_id long, text string",
    )
    idx = dd.jaccard_prefix_index(corpus, n=3, threshold=0.8)
    names = ("df", "sets", "prefix")
    for name, frame in zip(names, idx):
        frame.write.parquet(str(tmp_path / name))
    stored = tuple(spark.read.parquet(str(tmp_path / n)) for n in names)
    probe = dd.incremental_jaccard_pairs_indexed(
        stored, batch, n=3, threshold=0.8
    )
    plan = P.physical_plan(probe)
    doc_scans = [
        line for line in plan.splitlines() if "documents.parquet" in line
    ]
    assert not doc_scans, f"probe re-scans the corpus: {doc_scans}"
    assert str(tmp_path / "prefix") in plan and str(tmp_path / "df") in plan
    # results equal the non-indexed exact path
    expect = sorted(
        dd.incremental_jaccard_pairs(corpus, batch, n=3, threshold=0.8)
        .collect()
    )
    got = sorted(probe.collect())
    assert got == expect
    dd.release_cached_frames()


def test_bucketed_index_probe_reads_only_matching_buckets(spark, tmp_path):
    """The DURABLE index form (write_jaccard_index: parquet partitioned
    by shingle/id bucket): a small batch probe must statically prune
    every index scan down to the partition directories its own shingles
    hash into — the plan shows PartitionFilters on each index scan, the
    files actually read all live in matching bucket directories, and the
    set of touched directories is a strict subset of the index. This is
    the 100 TB contract: per-batch index I/O proportional to the batch's
    bucket spread, never a full index scan."""
    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators import dedup_docs as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    idx = dd.jaccard_prefix_index(corpus, n=3, threshold=0.8)
    # explicit production-cap counts: this test pins the 100 TB pruning
    # contract (a small batch touches a strict SUBSET of directories),
    # which needs production granularity — the adaptive default would
    # size a 333-doc store to ~5 buckets, where a 2-doc batch's
    # shingles legitimately span every bucket. The probe resolves the
    # counts from the store meta (JaccardIndex), so this also exercises
    # the writer->meta->prober consistency path end to end.
    dd.write_jaccard_index(
        idx, str(tmp_path),
        sh_buckets=dd.JACCARD_SH_BUCKETS, id_buckets=dd.JACCARD_ID_BUCKETS,
    )
    stored = dd.read_jaccard_index(spark, str(tmp_path))
    assert stored.meta["sh_buckets"] == dd.JACCARD_SH_BUCKETS

    # a SMALL standing batch — two new docs built from corpus text so
    # some near-dup pairs exist; ids disjoint from the corpus
    rows = (
        docs.where(F.col("doc_id") % 3 != 0)
        .select("doc_id", "text").limit(2).collect()
    )
    batch = spark.createDataFrame(
        [(10_000_000 + r.doc_id, r.text) for r in rows],
        "doc_id long, text string",
    )
    probe = dd.incremental_jaccard_pairs_indexed(stored, batch, n=3, threshold=0.8)
    got = sorted(map(tuple, probe.collect()))
    # each cloned doc must pair with its source at J = 1.0
    assert len(got) >= 2

    plan = probe._jdf.queryExecution().executedPlan().toString()
    index_scans = [
        line for line in plan.splitlines()
        if "FileScan" in line and str(tmp_path) in line
    ]
    assert index_scans, "probe does not read the durable index"
    # the bucket predicate appears as INSET/IN for multi-bucket stores;
    # an ADAPTIVE store small enough to resolve to one bucket (r12:
    # write_jaccard_index sizes counts to the corpus) folds the
    # single-value isin to an equality — still static pruning
    import re as _re

    def _bucket_pruned(scan_line: str) -> bool:
        m = _re.search(r"PartitionFilters: \[([^\]]*)\]", scan_line)
        return bool(m) and bool(
            _re.search(r"_bucket#\d+ (IN|INSET|=) ", m.group(1))
        )

    unpruned = [s[:160] for s in index_scans if not _bucket_pruned(s)]
    assert not unpruned, f"index scans without bucket pruning: {unpruned}"

    # the directories actually read are exactly the batch's buckets —
    # and a strict subset of the index
    buckets = {
        r[0]
        for r in dd._hashed_doc_shingles(batch, 3, "doc_id", "text")
        .select(dd._sh_bucket("shingle", dd.JACCARD_SH_BUCKETS).alias("b"))
        .distinct()
        .collect()
    }
    pruned_read = (
        spark.read.parquet(str(tmp_path / "prefix"))
        .where(F.col("sh_bucket").isin(list(buckets)))
    )
    touched = {
        r[0]
        for r in pruned_read.select(F.input_file_name()).distinct().collect()
    }
    assert touched, "pruned probe read no index files"
    assert all(
        any(f"sh_bucket={b}/" in f for b in buckets) for f in touched
    ), "probe read a non-matching bucket directory"
    total_dirs = {
        r[0]
        for r in spark.read.parquet(str(tmp_path / "prefix"))
        .select(F.input_file_name()).distinct().collect()
    }
    assert len(touched) < len(total_dirs), (
        "small batch touched every bucket — pruning had no effect"
    )

    # exactness vs the non-indexed incremental path
    expect = sorted(
        map(tuple,
            dd.incremental_jaccard_pairs(corpus, batch, n=3, threshold=0.8)
            .collect())
    )
    assert got == expect
    dd.release_cached_frames()


def test_zorder_rewrite_is_sort_free_one_file_per_cell(spark, tmp_path):
    """The rewrite job must be the plan's map-only assignment plus ONE
    hash exchange — never a global sort / range exchange (the skew-prone
    `ORDER BY zval` alternative) — and must land exactly one file per
    planned quadtree cell whose footer stats equal the plan's predicted
    per-file min/max (realized pruning) while conserving every row."""
    import glob
    import os

    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators import layout as L

    pts = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select(
            F.col("o_custkey").alias("x"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
            ).cast("long").alias("y"),
        )
    )
    # the frame the writer shuffles: hash exchange only, no sort
    z = L.zorder_values(pts, "x", "y", 8)
    tagged = z.withColumn("file_id", F.shiftright("zval", 8).cast("long")).drop(
        "zval"
    ).repartition(F.col("file_id"))
    plan = P.physical_plan(tagged, "simple")
    assert "rangepartitioning" not in plan.lower(), "rewrite uses a range exchange"
    assert "Sort" not in plan, "rewrite sorts globally"
    # exactly 2: the 1-row min/max normalizer aggregate + the file_id
    # hash exchange — no third (data-sized) shuffle anywhere
    assert P.exchange_count(tagged) == 2

    store = str(tmp_path / "store")
    L.zorder_rewrite(pts, "x", "y", store, bits=8, file_bits=4)
    dirs = [d for d in os.listdir(store) if d.startswith("file_id=")]
    assert 0 < len(dirs) <= 4**4
    for d in dirs:
        files = glob.glob(f"{store}/{d}/*.parquet")
        assert len(files) == 1, f"{d} has {len(files)} files (want 1)"

    # row conservation: count and content-hash of the written store
    src_n, src_sig = pts.agg(
        F.count(F.lit(1)), F.bit_xor(F.xxhash64("x", "y"))
    ).first()
    out = spark.read.parquet(store)
    out_n, out_sig = out.agg(
        F.count(F.lit(1)), F.bit_xor(F.xxhash64("x", "y"))
    ).first()
    assert (src_n, src_sig) == (out_n, out_sig)

    # realized footer stats == planned per-file stats
    planned = {
        r.file_id: (r.n_rows, r.x_min, r.x_max, r.y_min, r.y_max)
        for r in L.zorder_layout_plan(pts, "x", "y", 8, 4).collect()
    }
    footers = L.parquet_footer_stats(spark, store, ["x", "y"]).collect()
    assert len(footers) == len(planned)
    for r in footers:
        fid = int(r.file.split("file_id=")[1].split("/")[0])
        assert planned[fid] == (r.n_rows, r.x_min, r.x_max, r.y_min, r.y_max)


def test_compaction_rewrite_conserves_manifest(spark, tmp_path):
    """Executing the compaction manifest must conserve it: one directory
    per (group, file_seq) entry, and re-aggregating the written files
    reproduces the plan row-for-row (counts, byte totals, item ranges)."""
    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators import layout as L

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    store = str(tmp_path / "store")
    L.compaction_rewrite(docs, "source", "doc_id", "n_chars", 4096, store)
    plan = {
        (r.group, r.file_seq): (r.n_items, r.total_bytes, r.first_item, r.last_item)
        for r in L.compaction_plan(docs, "source", "doc_id", "n_chars", 4096)
        .collect()
    }
    out = (
        spark.read.parquet(store)
        .groupBy(
            F.col("source").alias("group"),
            F.col("file_seq").cast("long").alias("file_seq"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("n_chars").cast("long").alias("total_bytes"),
            F.min("doc_id").alias("first_item"),
            F.max("doc_id").alias("last_item"),
        )
        .collect()
    )
    got = {
        (r.group, r.file_seq): (r.n_items, r.total_bytes, r.first_item, r.last_item)
        for r in out
    }
    assert got == plan
    # full text payload survives the rewrite
    src_sig = docs.agg(F.bit_xor(F.xxhash64("doc_id", "text"))).first()[0]
    out_sig = (
        spark.read.parquet(store).agg(F.bit_xor(F.xxhash64("doc_id", "text"))).first()[0]
    )
    assert src_sig == out_sig


def test_zorder_nd_reduces_to_2d_and_stays_sort_free(spark):
    """The k-D Morton generalization must agree bit-for-bit with the
    pinned 2-D interleave at k=2, and the 3-D plan must keep the 2-D
    plan's shape: map-only assignment, no sort or range exchange, one
    data shuffle (the file aggregate) plus the 1-row normalizer."""
    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators import layout as L

    pts = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select(
            F.col("user_id").alias("x"),
            F.floor("value").cast("long").alias("y"),
            (F.col("event_id") % 100).alias("z"),
        )
    )
    two = L.zorder_values(pts, "x", "y", 8).select("x", "y", "z", "zval")
    nd = L.zorder_values_nd(pts, ["x", "y"], 8).select("x", "y", "z", "zval")
    assert two.exceptAll(nd).count() == 0 and nd.exceptAll(two).count() == 0

    plan3 = L.zorder_layout_plan_nd(pts, ["x", "y", "z"], bits=6, file_bits=2)
    txt = P.physical_plan(plan3, "simple")
    assert "rangepartitioning" not in txt.lower()
    assert "Sort" not in txt
    assert P.exchange_count(plan3) == 2  # 1-row normalizer + file aggregate
    assert P.python_eval_count(plan3) == 0
    rows = plan3.collect()
    assert sum(r.n_rows for r in rows) == pts.count()
    assert 0 < len(rows) <= 4 ** (3 * 2) and all(
        r.x_span > 0 and r.y_span > 0 and r.z_span > 0 for r in rows
    )


def test_pq_index_probe_is_training_free_and_cell_pruned(
    spark, tmp_path, monkeypatch
):
    """The durable IVF-PQ probe (similarity.py::pq_topk_indexed) is the
    standing-ANN-service contract: after write_pq_index, a query batch
    must (a) run ZERO training — no Lloyd iterations, no codebook fit
    (both are monkeypatched to raise here), (b) statically prune the
    codes read to the batch's probed cells (PartitionFilters on the
    cell-partitioned parquet; the files actually read all live in
    probed-cell directories), and (c) return results BIT-IDENTICAL to
    the inline pq_topk with the same train params."""
    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators import similarity as S

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .where(F.col("vec_id") < 300)
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    params = dict(dim=64, m=4, ksub=8, nlist=8)
    inline = sorted(
        map(tuple,
            S.pq_topk(queries, emb, k=5, nprobe=2, rerank=3, iters=1,
                      **params).collect())
    )

    store = str(tmp_path / "pq")
    S.write_pq_index(emb, store, iters=1, **params)
    index = S.read_pq_index(spark, store)

    def _no_training(*a, **kw):
        raise AssertionError("probe ran training")

    monkeypatch.setattr(S, "kmeans_centroids", _no_training)
    monkeypatch.setattr(S, "pq_codebooks", _no_training)
    probe = S.pq_topk_indexed(queries, index, emb, k=5, nprobe=2, rerank=3)
    got = sorted(map(tuple, probe.collect()))
    assert got == inline and len(got) == 3 * 5

    plan = probe._jdf.queryExecution().executedPlan().toString()
    code_scans = [
        line for line in plan.splitlines()
        if "FileScan" in line and store in line
    ]
    assert code_scans, "probe does not read the durable codes"
    unpruned = [
        s[:160] for s in code_scans
        if "PartitionFilters: [" not in s
        or ("INSET" not in s and " IN (" not in s)
    ]
    assert not unpruned, f"codes scans without cell pruning: {unpruned}"

    # files actually read live only in probed-cell directories, and the
    # batch (3 queries x nprobe=2) probes at most 6 of the 8 cells
    sub = index.dim // index.m
    probed = {
        r[0]
        for r in S._pq_query_probes(
            queries, index.cents, index.books, sub, 2, "query_id", "embedding"
        ).select("cell").distinct().collect()
    }
    assert len(probed) <= 6
    touched = {
        r[0]
        for r in index.codes.where(F.col("cell").isin(list(probed)))
        .select(F.input_file_name()).distinct().collect()
    }
    assert touched and all(
        any(f"cell={c}/" in f for c in probed) for f in touched
    ), "probe read a non-probed cell directory"


def test_bm25_topk_plan_shape(spark):
    """Batch BM25: per-query top-k must plan with partial
    WindowGroupLimit (no task ranks the whole candidate set), no Python
    in the scoring path, and the only broadcast hints are the
    query-sized frames (terms, per-term df, 1-row meta) — never the
    postings."""
    df = _q(spark, "bm25_topk_docs")
    plan = P.physical_plan(df, "simple")
    assert plan.count("WindowGroupLimit") >= 2, "partial top-k pushdown missing"
    assert P.python_eval_count(df) == 0


def test_dsir_topk_is_take_ordered(spark):
    """The realized DSIR selection must plan the global top-m as
    TakeOrderedAndProject (per-partition top-m, merge of m·partitions
    rows) — never a global Sort followed by Limit-on-one-partition."""
    df = _q(spark, "dsir_topk_selection")
    plan = P.physical_plan(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert P.python_eval_count(df) == 0


def test_hybrid_rrf_windows_are_group_limited(spark):
    """All three rank windows in the hybrid fusion (BM25 leg, MIPS leg,
    fused) must carry partial WindowGroupLimit — the MIPS leg's window
    partitions are corpus-sized per query, so without the partial
    top-k every query's full candidate set would funnel into one task."""
    df = _q(spark, "hybrid_rrf_search")
    plan = P.physical_plan(df, "simple")
    assert plan.count("WindowGroupLimit") >= 5, "partial top-k missing"
    assert P.python_eval_count(df) == 0


def test_hybrid_rrf_indexed_probes_are_pruned(spark):
    """The standing-pipeline hybrid (hybrid_rrf_indexed): BOTH durable
    probes must be statically partition-pruned — every postings scan of
    the BM25 store carries a bucket PartitionFilter and every codes
    scan of the PQ store carries a cell PartitionFilter — and the
    LEXICAL leg must not re-tokenize the corpus (no documents.parquet
    scan anywhere in the plan; the embeddings scans belong to the
    semantic leg's re-rank and the fused recall check, which are
    candidate/corpus-proportional by design and measured)."""
    df = _q(spark, "hybrid_rrf_indexed")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    doc_scans = [
        line for line in plan.splitlines() if "documents.parquet" in line
    ]
    assert not doc_scans, f"indexed hybrid re-reads the corpus: {doc_scans}"
    store_scans = [
        line
        for line in plan.splitlines()
        if "FileScan" in line
        and ("cdc_bm25_index_" in line or "cdc_pq_index_" in line)
        and "/model" not in line
        and "/meta" not in line
        and "/stats" not in line
    ]
    assert len(store_scans) >= 2, "both durable stores must be probed"
    unpruned = [
        s[:160]
        for s in store_scans
        if "PartitionFilters: [" not in s
        or ("INSET" not in s and " IN (" not in s)
    ]
    assert not unpruned, f"store scans without pruning: {unpruned}"
    assert P.python_eval_count(df) == 0


def test_media_phash_pairs_is_banded_equi_join(spark):
    """Media perceptual near-dup must candidate via the 4x16 band
    equality join — no cartesian product — with the hamming verify a
    JVM bit_count, and the only Python the fingerprint UDF itself."""
    df = _q(spark, "media_phash_pairs")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "bit_count" in plan


def test_live_jaccard_probe_keeps_bucket_pruning(spark, tmp_path):
    """The LIVE store read (base + extend epochs) must keep the static
    bucket pruning on EVERY generation's scan — the partition filter
    pushes through the union into base and delta branches alike."""
    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators import dedup_docs as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    seed = docs.where(F.col("doc_id") % 3 == 1)
    ext = docs.where(F.col("doc_id") % 3 == 2).select("doc_id", "text")
    idx = dd.jaccard_prefix_index(seed, n=3, threshold=0.8)
    dd.write_jaccard_index(idx, str(tmp_path))
    idx[1].unpersist()
    dd.extend_jaccard_index(spark, str(tmp_path), ext, epoch=1, n=3, threshold=0.8)

    rows = seed.select("doc_id", "text").limit(2).collect()
    batch = spark.createDataFrame(
        [(10_000_000 + r.doc_id, r.text) for r in rows],
        "doc_id long, text string",
    )
    probe = dd.incremental_jaccard_pairs_indexed(
        dd.read_jaccard_index_live(spark, str(tmp_path)), batch,
        n=3, threshold=0.8,
    )
    assert probe.count() >= 2  # clones pair with their sources
    plan = probe._jdf.queryExecution().executedPlan().toString()
    index_scans = [
        line for line in plan.splitlines()
        if "FileScan" in line and str(tmp_path) in line
    ]
    # base prefix/sets + epoch_1 prefix/sets + df — at least 4 scans
    assert len(index_scans) >= 4, f"expected base+delta scans, got {index_scans}"
    # IN/INSET for multi-bucket stores; an adaptive store that resolves
    # to one bucket (r12) folds the single-value isin to an equality —
    # still static pruning
    import re as _re

    def _bucket_pruned(scan_line: str) -> bool:
        m = _re.search(r"PartitionFilters: \[([^\]]*)\]", scan_line)
        return bool(m) and bool(
            _re.search(r"_bucket#\d+ (IN|INSET|=) ", m.group(1))
        )

    unpruned = [s[:160] for s in index_scans if not _bucket_pruned(s)]
    assert not unpruned, f"live-store scans without bucket pruning: {unpruned}"
    dd.release_cached_frames()


def _store_scans(df, root):
    """The formatted-explain sections of every parquet scan under
    ``root`` (formatted sections carry unclipped PartitionFilters)."""
    return [
        s for s in P.physical_plan(df, "formatted").split("\n\n")
        if "Scan parquet" in s and str(root) in s
    ]


def _partition_filters(section: str) -> str:
    import re as _re

    m = _re.search(r"PartitionFilters: \[(.*)\]", section)
    return m.group(1) if m else ""


def test_live_jaccard_probe_scans_are_flat_over_epochs(spark, tmp_path):
    """Each kind's epochs are ONE ``epoch=``-partitioned relation: the
    probe plan has the same index scans at 1 and at 5 live epochs, and
    every delta scan prunes on both the live epochs and the batch's
    buckets at planning (``PartitionFilters``)."""
    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators import dedup_docs as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    seed = docs.where(F.col("doc_id") % 3 == 1)
    ext = docs.where(F.col("doc_id") % 3 == 2).select("doc_id", "text")
    idx = dd.jaccard_prefix_index(seed, n=3, threshold=0.8)
    dd.write_jaccard_index(idx, str(tmp_path))
    idx[1].unpersist()
    rows = seed.select("doc_id", "text").limit(2).collect()
    batch = spark.createDataFrame(
        [(10_000_000 + r.doc_id, r.text) for r in rows],
        "doc_id long, text string",
    )
    counts = []
    for epochs in ((1,), (2, 3, 4, 5)):
        for e in epochs:
            dd.extend_jaccard_index(
                spark, str(tmp_path), ext.where(F.col("doc_id") % 5 == e - 1),
                epoch=e, n=3, threshold=0.8,
            )
        probe = dd.incremental_jaccard_pairs_indexed(
            dd.read_jaccard_index_live(spark, str(tmp_path)), batch,
            n=3, threshold=0.8,
        )
        scans = _store_scans(probe, tmp_path)
        delta = [s for s in scans if "_delta" in s]
        assert delta, "no delta scan in the live probe"
        for s in delta:
            pf = _partition_filters(s)
            assert "epoch#" in pf and "_bucket#" in pf, f"delta scan prunes {pf!r}"
        counts.append(len(scans))
        dd.release_cached_frames()
    assert counts[0] == counts[1], f"index scans grew with live epochs: {counts}"


def test_sync_batch_store_read_is_two_scans(spark, tmp_path, monkeypatch):
    """sync_batch reads its store as the seed plus ONE delta scan, and
    the replaying batch's own epoch is excluded by the delta scan's
    ``PartitionFilters`` — pruned at planning, so its files (which the
    batch's overwrite deletes) never enter the read's lineage."""
    import re as _re

    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators.chunking import fixed_chunks
    from cdc_algorithms_spark.streaming import sync

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    store, metrics = tmp_path / "store", str(tmp_path / "metrics")
    fixed_chunks(docs.where(F.col("doc_id") % 2 == 0), 64).select(
        "chunk_text"
    ).distinct().select(
        "chunk_text",
        F.lit("old").alias("origin"),
        F.lit(-1).cast("long").alias("batch_id"),
    ).write.parquet(f"{store}/seed")
    new = fixed_chunks(docs, 64)
    for e in range(3):
        batch = new.where(F.col("src_id") % 3 == e)
        sync.sync_batch(spark, batch, str(store), metrics, e)

    reads = []
    orig = sync.read_live

    def spy(*a, **kw):
        reads.append(orig(*a, **kw))
        return reads[-1]

    monkeypatch.setattr(sync, "read_live", spy)
    sync.sync_batch(spark, new.where(F.col("src_id") % 3 == 2), str(store), metrics, 2)
    scans = _store_scans(reads[0], store)
    assert len(scans) == 2, scans
    pf = _partition_filters(next(s for s in scans if "seed_delta" in s))
    live = _re.search(r"epoch#\d+L IN \(([\d,]+)\)", pf)
    assert live and live.group(1) == "0,1", f"epoch 2 not pruned: {pf!r}"


def test_media_phash_dup_groups_has_no_phash_window(spark):
    """The exact-duplicate groups must come from groupBy(phash) + join
    back — NEVER Window.partitionBy(phash), which sorts every member of
    one fingerprint cluster inside a single task. The module's own
    scale evidence (SCALING §26) shows 995k of 1M payloads in identical
    -fingerprint clusters; a window over that key single-tasks exactly
    the mega-cluster the operator exists to handle. The aggregate gets
    map-side partial combine; the join back is AQE-skew splittable."""
    from cdc_algorithms_spark.operators import dedup_docs as dd

    df = _q(spark, "media_phash_dup_groups")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "phash-partitioned window reintroduced"
    assert "HashAggregate" in plan  # the partial+final combine pair
    assert "partial_min" in plan and "partial_count" in plan, (
        "map-side combine lost — the hot phash key must collapse "
        "before the exchange"
    )
    assert "CartesianProduct" not in plan
    # the fingerprint UDF runs ONCE: both join branches must read the
    # persisted frame (InMemoryTableScan). Every MapInPandas printed in
    # the plan belongs to an InMemoryRelation's stored child plan (each
    # relation prints its cached plan once), so live occurrences are
    # the difference.
    assert plan.count("InMemoryTableScan") >= 2, (
        "join branches must share the persisted fingerprint pass"
    )
    assert plan.count("MapInPandas") <= plan.count("InMemoryRelation"), (
        "fingerprint UDF re-runs outside the persisted frame"
    )
    dd.release_cached_frames()


def test_media_chunk_probe_never_rechunks_corpus_and_prunes(spark, tmp_path):
    """The durable media chunk-overlap probe's 100 TB contract: the
    RESIDENT corpus's payload bytes are chunked once at store-build
    time and NEVER re-read by a probe — the probe plan may scan only
    the batch's own payloads and the (bucket-pruned) 8-byte key store.
    (Within the probe, the batch chunker pass is persisted — textual
    MapInPandas counts are meaningless here because the plan printer
    expands shared cached subtrees per reference.)"""
    from pyspark.sql import functions as F

    from cdc_algorithms_spark.operators import dedup_docs as dd
    from cdc_algorithms_spark.queries_text import synthesize_media
    from cdc_algorithms_spark.streaming.media_chunk_index import (
        incremental_media_chunk_pairs,
        run_streaming_media_chunk_index,
    )

    media = synthesize_media(
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
    )
    seed = media.where(F.col("media_id") % 3 != 0)
    stages = [media.where(F.col("media_id") % 3 == 0)]
    path = str(tmp_path / "index")
    run_streaming_media_chunk_index(
        spark, seed, stages, path, compact_after_stage=None
    )
    # materialize the arriving batch so "batch payloads" and "resident
    # corpus payloads" are distinguishable scans in the plan
    batch_dir = str(tmp_path / "batch")
    (
        media.where((F.col("media_id") % 13 == 1) & (F.length("content") > 0))
        .withColumn("media_id", F.col("media_id") + F.lit(1 << 40))
        .limit(5)
        .select("media_id", "content")
        .write.parquet(batch_dir)
    )
    probe = incremental_media_chunk_pairs(
        spark, path, spark.read.parquet(batch_dir)
    )
    assert probe.count() >= 1  # clones pair with their sources
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, (
        "probe re-reads resident corpus payloads"
    )
    # identify store scans by their partition columns (the plan printer
    # truncates Location paths, so path matching is unreliable here)
    index_scans = [
        line
        for line in plan.splitlines()
        if "FileScan" in line
        and ("sh_bucket" in line or "id_bucket" in line)
    ]
    assert len(index_scans) >= 3, f"expected df/prefix/sets scans: {index_scans}"
    # IN/INSET for multi-bucket stores; an adaptive store that resolves
    # to one bucket (r12) folds the single-value isin to an equality —
    # still static pruning
    import re as _re

    def _bucket_pruned(scan_line: str) -> bool:
        m = _re.search(r"PartitionFilters: \[([^\]]*)\]", scan_line)
        return bool(m) and bool(
            _re.search(r"_bucket#\d+ (IN|INSET|=) ", m.group(1))
        )

    unpruned = [s[:160] for s in index_scans if not _bucket_pruned(s)]
    assert not unpruned, f"store scans without bucket pruning: {unpruned}"
    dd.release_cached_frames()
