"""Streaming suite: staged micro-batch runs must converge to the batch
results — the defining property of the incremental engine (SURVEY.md §7
Milestone 3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.chunking import cdc_chunks, fixed_chunks, with_chunk_hash
from cdc_algorithms_spark.operators.storeio import read_epochs, read_live
from cdc_algorithms_spark.queries import SPARK_QUERIES
from cdc_algorithms_spark.sources.registry import load_table
from cdc_algorithms_spark.streaming import (
    incremental_unique_chunks,
    run_staged_stream,
    stateful_cdc_chunks,
)

from tests.conftest import SF_DIR


def test_incremental_unique_chunks_matches_batch(spark):
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    stages = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    sink = run_staged_stream(spark, stages, lambda s: incremental_unique_chunks(s, 64))

    got = {r["hash"] for r in sink.select("hash").collect()}
    want = {
        r["hash"]
        for r in with_chunk_hash(fixed_chunks(docs, 64)).select("hash").distinct().collect()
    }
    assert got == want
    # first-occurrence: each hash emitted exactly once across all batches
    assert sink.count() == len(want)


def test_streaming_sessions_match_batch(spark):
    res = SPARK_QUERIES["streaming_user_sessions"](spark, SF_DIR)
    batch = SPARK_QUERIES["user_sessions"](spark, SF_DIR)
    got = sorted(map(tuple, res.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_stateful_chunker_matches_batch_exactly(spark):
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text").limit(50)
    # three uneven fragments per doc, eof on the last
    frags = []
    for i, (lo, hi, eof) in enumerate(
        [("1", "cast(length(text)*0.3 as int)", False),
         ("cast(length(text)*0.3 as int) + 1", "cast(length(text)*0.7 as int) - cast(length(text)*0.3 as int)", False),
         ("cast(length(text)*0.7 as int) + 1", "length(text)", True)]
    ):
        frags.append(
            docs.select(
                F.col("doc_id").cast("long").alias("src_id"),
                F.lit(i).cast("long").alias("seq"),
                F.expr(f"substring(text, {lo}, {hi})").alias("text"),
                F.lit(eof).alias("eof"),
            )
        )
    for algo, size, seed in [("ae", 320, 0), ("rabin", 64, 0), ("fastcdc", 64, 1)]:
        sink = run_staged_stream(
            spark, frags, lambda s: stateful_cdc_chunks(s, algo, size, seed)
        )
        got = sorted(map(tuple, sink.collect()))
        want = sorted(
            map(
                tuple,
                cdc_chunks(docs, algo, size, seed).withColumnRenamed("doc_id", "src_id").collect(),
            )
        )
        assert got == want, f"{algo}: streaming != batch"


def test_streaming_event_counts_complete_mode(spark):
    res = SPARK_QUERIES["streaming_event_type_counts"](spark, SF_DIR)
    ev = load_table(spark, "events", SF_DIR)
    want = sorted(
        map(
            tuple,
            ev.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .collect(),
        )
    )
    assert sorted(map(tuple, res.collect())) == want


def test_streaming_unique_chunks_stats_query(spark):
    res = SPARK_QUERIES["streaming_unique_chunks_stats"](spark, SF_DIR).collect()
    assert len(res) == 1
    row = res[0]
    docs = load_table(spark, "documents", SF_DIR)
    want = (
        with_chunk_hash(fixed_chunks(docs, 64))
        .groupBy("hash")
        .agg(F.max("length").alias("len_one"))
        .agg(F.count(F.lit(1)), F.sum("len_one"))
        .first()
    )
    assert (row["n_unique"], row["unique_bytes"]) == (want[0], want[1])


def test_change_feed_matches_oracle_semantics(spark):
    """Streaming stateful diff == batch multiset diff of fixed chunks."""
    from cdc_algorithms_spark.operators.chunking import fixed_chunks
    from cdc_algorithms_spark.operators.diff import perturb_documents

    res = SPARK_QUERIES["streaming_change_feed"](spark, SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    old_c = fixed_chunks(docs, 64).groupBy("src_id", "chunk_text").agg(
        F.count(F.lit(1)).alias("n_old"), F.max("length").alias("len")
    )
    new_c = fixed_chunks(perturb_documents(docs), 64).groupBy(
        "src_id", "chunk_text"
    ).agg(F.count(F.lit(1)).alias("n_new"), F.max("length").alias("len2"))
    j = old_c.join(new_c, ["src_id", "chunk_text"], "full_outer").select(
        "src_id",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        F.coalesce("len", "len2").alias("len"),
    )
    want = (
        j.groupBy("src_id")
        .agg(
            F.sum(F.greatest(F.col("n_new") - F.col("n_old"), F.lit(0))).alias("ins"),
            F.sum(F.greatest(F.col("n_old") - F.col("n_new"), F.lit(0))).alias("del_"),
            F.sum(F.least("n_old", "n_new")).alias("unch"),
        )
        .collect()
    )
    want_map = {r["src_id"]: (r["ins"], r["del_"], r["unch"]) for r in want}
    got_v1 = {
        r["src_id"]: (r["n_inserted"], r["n_deleted"], r["n_unchanged"])
        for r in res.where(F.col("version") == 1).collect()
    }
    assert got_v1 == want_map
    # v0: everything inserted, ratio exactly 1
    v0 = res.where(F.col("version") == 0)
    assert v0.where(F.col("n_deleted") != 0).count() == 0
    assert v0.where(F.col("change_ratio") != 1.0).count() == 0


def test_windowed_agg_drops_late_data(spark):
    """Watermark semantics pinned: a row whose tumbling window is already
    past the watermark when it arrives is dropped, not re-aggregated."""
    def ev(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts_s string, value double"
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
        )

    # batch 1 carries a far-future row, so the watermark jumps past 2024
    on_time = ev([(1, "2024-01-01 06:00:00", 1.0), (2, "2100-01-01 00:00:00", 0.0)])
    # batch 2's row lands in a window whose end < watermark -> expired, dropped
    late = ev([(3, "2024-01-02 06:00:00", 1.0)])

    def build(s):
        return (
            s.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    sink = run_staged_stream(spark, [on_time, late], build)
    rows = sink.select(F.col("w.start").alias("start"), "n").collect()
    assert [(r["start"].isoformat(), r["n"]) for r in rows] == [
        ("2024-01-01T00:00:00", 1)
    ]


def test_streaming_windowed_counts_match_oracle(spark):
    from tests.conftest import SF_DIR
    from tests.oracle import compare_with_oracle

    compare_with_oracle(spark, "streaming_windowed_event_counts", SF_DIR)


def test_stream_static_join_matches_oracle(spark):
    from tests.conftest import SF_DIR
    from tests.oracle import compare_with_oracle

    compare_with_oracle(spark, "streaming_purchases_by_nation", SF_DIR)


def test_stream_stream_join_matches_oracle(spark):
    from tests.conftest import SF_DIR
    from tests.oracle import compare_with_oracle

    compare_with_oracle(spark, "streaming_view_purchase_conversions", SF_DIR)


def test_dedup_within_watermark_matches_oracle(spark):
    from tests.conftest import SF_DIR
    from tests.oracle import compare_with_oracle

    compare_with_oracle(spark, "streaming_distinct_users_within_watermark", SF_DIR)


def test_incremental_sync_matches_batch_oracle(spark):
    from tests.conftest import SF_DIR
    from tests.oracle import compare_with_oracle

    compare_with_oracle(spark, "streaming_sync_totals", SF_DIR)


def test_checkpoint_recovery_resumes_exactly_once(spark, tmp_path):
    """Stop a streaming aggregation mid-input, restart a NEW query from
    the same checkpoint, feed the rest: the recovered query must resume
    from committed offsets (no re-count, no loss) and converge to the
    batch result — the exactly-once file-source → file-sink contract
    that a 100 TB incremental pipeline leans on."""
    from pyspark.sql import functions as F

    from cdc_algorithms_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, "events", SF_DIR).select("event_id", "ts", "event_type")
    in_dir, ckpt, out = (
        str(tmp_path / "in"), str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    stages = [ev.where(F.col("event_id") % 2 == i) for i in range(2)]

    def start_query():
        stream = spark.readStream.schema(stages[0].schema).parquet(in_dir)
        # append-mode windowless dedup-free projection: file sink requires
        # append; count per type is derived batch-side from the sink
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    stages[0].write.mode("append").parquet(in_dir)
    q1 = start_query()
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination()

    stages[1].write.mode("append").parquet(in_dir)
    q2 = start_query()  # new query object, same checkpoint
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    got = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    assert {(r["event_type"], r["n"]) for r in got} == {
        (r["event_type"], r["n"]) for r in want
    }
    # and no duplicates: total rows in sink == total input rows
    assert spark.read.parquet(out).count() == ev.count()


def test_update_mode_matches_oracle(spark):
    from tests.conftest import SF_DIR
    from tests.oracle import compare_with_oracle

    compare_with_oracle(spark, "streaming_event_counts_update_mode", SF_DIR)


def test_streaming_novel_chunks_vs_duckdb(spark):
    """Streamed delta-ingest novel-chunk tally == DuckDB set difference."""
    from tests.oracle import compare_with_oracle

    compare_with_oracle(spark, "streaming_novel_chunks_by_lang", SF_DIR)


def test_streaming_sketch_estimate_matches_exact(spark):
    """Complete-mode hll_sketch_agg carries registers across micro-batches;
    the converged report's independently recomputed exact counts must
    match a batch recount, and every estimate must sit within sketch
    error (est_ok — <2% at lg_k=14) of its exact count."""
    res = {
        r["group"]: r
        for r in SPARK_QUERIES["streaming_sketch_unique_estimate"](
            spark, SF_DIR
        ).collect()
    }
    docs = load_table(spark, "documents", SF_DIR)
    chunks = fixed_chunks(docs, 64).join(
        docs.select(F.col("doc_id").alias("src_id"), "lang"), "src_id"
    )
    exact = {
        r["lang"]: r["exact"]
        for r in chunks.groupBy("lang")
        .agg(F.countDistinct("chunk_text").alias("exact"))
        .collect()
    }
    exact["*"] = chunks.select("chunk_text").distinct().count()
    assert set(res) == set(exact)
    total_chunks = chunks.count()
    assert res["*"]["n_chunks"] == total_chunks
    for g, row in res.items():
        assert row["n_unique_exact"] == exact[g], (g, row)
        assert row["est_ok"], (g, row)


def test_checkpoint_restart_recovers_dedup_state(spark, tmp_path):
    """Kill the query between micro-batches, start a NEW query from the
    same checkpoint: dropDuplicates state must come back from the state
    store, so chunks first seen before the restart do NOT re-emit after
    it — the recovery contract a production file/Kafka sink relies on.
    The memory-sink harness can't show this; a durable parquet sink +
    checkpointLocation does."""
    import os

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text").limit(60)
    s1 = docs.where(F.col("doc_id") % 2 == 0)
    s2 = docs  # stage 2 re-ships stage 1's docs plus the rest
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    def start_query():
        stream = spark.readStream.schema(docs.schema).parquet(in_dir)
        return (
            incremental_unique_chunks(stream, 64)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    s1.write.mode("append").parquet(in_dir)
    q = start_query()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    first = spark.read.parquet(out_dir).select("hash").collect()
    first_hashes = {r["hash"] for r in first}
    assert len(first) == len(first_hashes) > 0

    s2.write.mode("append").parquet(in_dir)
    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    allrows = spark.read.parquet(out_dir).select("hash").collect()
    all_hashes = [r["hash"] for r in allrows]
    # exactly-once across the restart: no hash emitted twice, and the
    # final set equals the batch-distinct set over the full corpus
    assert len(all_hashes) == len(set(all_hashes)), "state lost: dup re-emitted"
    batch = {
        r["hash"]
        for r in with_chunk_hash(fixed_chunks(docs, 64)).select("hash").distinct().collect()
    }
    assert set(all_hashes) == batch


def test_streaming_decontamination_matches_oracle(spark):
    from tests.oracle import compare_with_oracle

    compare_with_oracle(
        spark, "streaming_decontamination", "/root/testdata/sf0.001"
    )


def test_streaming_ingest_matches_batch_oracle(spark):
    """The stream-static ingest front-end must converge to the identical
    accounting row as batch incremental_ingest_stats (shared oracle)."""
    from tests.oracle import compare_with_oracle

    compare_with_oracle(spark, "streaming_ingest_novelty", SF_DIR)


def test_stateful_chunker_survives_cut_mid_utf8_sequence(spark):
    """Fragment boundaries and CDC cuts that split a multi-byte UTF-8
    codepoint must not corrupt the carried tail: state holds raw bytes,
    so streaming cut positions/offsets/lengths equal batch exactly even
    on non-ASCII text."""
    import random

    rng = random.Random(5)
    # dense multi-byte text: Greek/CJK mixed with ASCII
    alphabet = "αβγδεζきょうはいい天気ですnowletters"
    text = "".join(rng.choice(alphabet) for _ in range(2000))
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    # fragment at CHARACTER positions — the byte stream still splits
    # codepoints at CDC cuts internally
    cut1, cut2 = 700, 1400
    frags = [
        spark.createDataFrame(
            [(1, 0, text[:cut1], False)], "src_id long, seq long, text string, eof boolean"
        ),
        spark.createDataFrame(
            [(1, 1, text[cut1:cut2], False)], "src_id long, seq long, text string, eof boolean"
        ),
        spark.createDataFrame(
            [(1, 2, text[cut2:], True)], "src_id long, seq long, text string, eof boolean"
        ),
    ]
    for algo, size, seed in [("ae", 320, 0), ("fastcdc", 64, 1)]:
        sink = run_staged_stream(
            spark, frags, lambda s: stateful_cdc_chunks(s, algo, size, seed)
        )
        got = sorted(
            (r.chunk_idx, r.offset, r.length) for r in sink.collect()
        )
        want = sorted(
            (r.chunk_idx, r.offset, r.length)
            for r in cdc_chunks(docs, algo, size, seed).collect()
        )
        assert got == want, f"{algo}: streaming diverged on non-ASCII"


def test_watermarked_chunk_dedup_dedups_by_hash(spark):
    """The ts_col path must (a) run at all — the watermark column has to
    survive the chunk projection — and (b) dedup BY HASH: the same chunk
    arriving again within the watermark window is not re-emitted."""
    from cdc_algorithms_spark.streaming import incremental_unique_chunks

    rows1 = [(1, "2024-01-01 10:00:00", "abcd" * 32)]
    rows2 = [(2, "2024-01-01 10:05:00", "abcd" * 32),   # same content, later ts
             (3, "2024-01-01 10:06:00", "zzzz" * 32)]
    schema = "doc_id long, ts string, text string"
    stages = [
        spark.createDataFrame(rows, schema).select(
            "doc_id", F.col("ts").cast("timestamp").alias("ts"), "text"
        )
        for rows in (rows1, rows2)
    ]
    sink = run_staged_stream(
        spark,
        stages,
        lambda s: incremental_unique_chunks(s, 64, ts_col="ts"),
    )
    out = sink.collect()
    hashes = [r.hash for r in out]
    assert len(hashes) == len(set(hashes)), "same hash emitted twice"
    assert {r.src_id for r in out} == {1, 3}, "doc 2's duplicate chunks must drop"


def test_incremental_sync_workdir_reuse_does_not_double_count(spark, tmp_path):
    from cdc_algorithms_spark.operators.chunking import fixed_chunks
    from cdc_algorithms_spark.streaming.sync import run_incremental_sync

    docs = load_table(spark, "documents", SF_DIR).limit(30)
    old = fixed_chunks(docs, 64)
    new = fixed_chunks(
        docs.withColumn("text", F.concat(F.col("text"), F.lit(" tail"))), 64
    )
    stages = [new.where(F.col("src_id") % 2 == i) for i in range(2)]
    wd = str(tmp_path / "sync")
    first = run_incremental_sync(spark, old, stages, wd).collect()
    second = run_incremental_sync(spark, old, stages, wd).collect()
    assert first == second, "reused workdir must not accumulate prior metrics"


def test_sync_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: after a failure the last
    uncommitted batch re-runs with the SAME batch_id. Replaying a batch
    must neither double-count metrics nor duplicate store identities,
    and a half-written first attempt must not make the batch's own
    identities look pre-existing."""
    from cdc_algorithms_spark.operators.chunking import fixed_chunks
    from cdc_algorithms_spark.streaming.sync import sync_batch

    docs = load_table(spark, "documents", SF_DIR).limit(20)
    old = fixed_chunks(docs, 64)
    new = fixed_chunks(
        docs.withColumn("text", F.concat(F.col("text"), F.lit(" tail"))), 64
    )
    store_dir = str(tmp_path / "store")
    metrics_dir = str(tmp_path / "metrics")
    old.select("chunk_text").distinct().select(
        "chunk_text",
        F.lit("old").alias("origin"),
        F.lit(-1).cast("long").alias("batch_id"),
    ).write.parquet(store_dir + "/seed")

    def totals():
        return (
            spark.read.parquet(metrics_dir + "/*")
            .groupBy()
            .sum("total_bytes", "reused_old_bytes", "transfer_bytes",
                 "dedup_new_bytes")
            .collect()
        )

    sync_batch(spark, new, store_dir, metrics_dir, batch_id=0)
    first = totals()
    n_store = read_live(spark, store_dir, "seed").count()
    # replay batch 0 (simulates recovery after an uncommitted epoch)
    sync_batch(spark, new, store_dir, metrics_dir, batch_id=0)
    assert totals() == first, "replay double-counted metrics"
    assert read_live(spark, store_dir, "seed").count() == n_store, (
        "replay duplicated store identities"
    )
    # a genuinely new batch still settles against the extended store
    sync_batch(spark, new, store_dir, metrics_dir, batch_id=1)
    rows = spark.read.parquet(metrics_dir + "/*").where(
        F.col("batch_id") == 1
    ).collect()
    assert len(rows) == 1 and rows[0]["transfer_bytes"] == 0, (
        "batch 1 repeats batch 0's content — everything must dedup as known"
    )


def test_checkpoint_restart_recovers_chunker_tail_state(spark, tmp_path):
    """Kill the stateful CDC chunker between fragment batches and start
    a NEW query from the same checkpoint: the binary tail buffer
    (unchunked bytes + absolute offset + next chunk index) must come
    back from the state store so post-restart chunks continue exactly
    where the pre-restart scan stopped — byte-identical to the batch
    chunker over the concatenated content."""
    import os

    from cdc_algorithms_spark.operators.chunking import cdc_chunks

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text").limit(40)
    frag_schema = "src_id long, seq long, text string, eof boolean"

    def frag(i, lo, hi, eof):
        return docs.select(
            F.col("doc_id").cast("long").alias("src_id"),
            F.lit(i).cast("long").alias("seq"),
            F.expr(f"substring(text, {lo}, {hi})").alias("text"),
            F.lit(eof).alias("eof"),
        )

    stage1 = frag(0, "1", "cast(length(text)*0.6 as int)", False)
    stage2 = frag(
        1,
        "cast(length(text)*0.6 as int) + 1",
        "length(text)",
        True,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    def start_query():
        stream = spark.readStream.schema(frag_schema).parquet(in_dir)
        return (
            stateful_cdc_chunks(stream, "ae", 320, 0)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    stage1.write.mode("append").parquet(in_dir)
    q1 = start_query()
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination()
    mid = spark.read.parquet(out_dir).count()

    stage2.write.mode("append").parquet(in_dir)
    q2 = start_query()  # new query object, same checkpoint + state store
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    want = sorted(
        map(
            tuple,
            cdc_chunks(docs, "ae", 320, 0)
            .withColumnRenamed("doc_id", "src_id")
            .collect(),
        )
    )
    assert got == want, "restart lost or corrupted chunker tail state"
    assert 0 < mid < len(want), "restart case degenerate: no state crossed it"


def test_sync_store_listing_ignores_stray_entries(spark, tmp_path):
    """The store read touches only the ``seed`` base and the
    ``seed_delta`` relation: a stray _SUCCESS marker, temp directory,
    or unrelated file dropped into store_dir must not reach
    spark.read.parquet (where a non-parquet entry would abort every
    subsequent batch)."""
    from cdc_algorithms_spark.operators.chunking import fixed_chunks
    from cdc_algorithms_spark.operators.storeio import live_epochs
    from cdc_algorithms_spark.streaming.sync import sync_batch

    docs = load_table(spark, "documents", SF_DIR).limit(10)
    old = fixed_chunks(docs, 64)
    new = fixed_chunks(
        docs.withColumn("text", F.concat(F.col("text"), F.lit(" x"))), 64
    )
    store_dir = str(tmp_path / "store")
    metrics_dir = str(tmp_path / "metrics")
    old.select("chunk_text").distinct().select(
        "chunk_text",
        F.lit("old").alias("origin"),
        F.lit(-1).cast("long").alias("batch_id"),
    ).write.parquet(store_dir + "/seed")
    # stray entries a real job dir accumulates
    (tmp_path / "store" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "store" / ".spark-staging-123").mkdir()
    (tmp_path / "store" / "junk.txt").write_bytes(b"not parquet")

    assert live_epochs(spark, store_dir, "seed") == []

    sync_batch(spark, new, store_dir, metrics_dir, batch_id=0)
    row = spark.read.parquet(metrics_dir + "/batch_0").collect()[0]
    assert row["total_bytes"] > 0
    assert live_epochs(spark, store_dir, "seed") == [0]
    # and the current batch's own epoch is excluded on replay paths
    assert live_epochs(spark, store_dir, "seed", exclude=0) == []
    sync_batch(spark, new, store_dir, metrics_dir, batch_id=1)
    assert live_epochs(spark, store_dir, "seed") == [0, 1]


def test_streaming_near_dup_index_is_batching_invariant(spark, tmp_path):
    """The maintained near-dup index must converge to the one-shot
    incremental result regardless of micro-batching: 1-stage and
    3-stage runs produce the same pair set, equal to
    incremental_minhash_pairs over (corpus, all-batches-at-once)."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        incremental_minhash_pairs,
        release_cached_frames,
    )
    from cdc_algorithms_spark.streaming.near_dup import (
        run_streaming_near_dup_index,
    )

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    incoming = docs.where(F.col("doc_id") % 3 == 0)

    def run(stages, wd):
        out = run_streaming_near_dup_index(
            spark, corpus, stages, str(tmp_path / wd),
            n=3, num_hashes=32, bands=8, threshold=0.8,
        )
        return sorted((r.id_a, r.id_b, r.jaccard) for r in out.collect())

    three = run([incoming.where(F.col("doc_id") % 9 == 3 * i) for i in range(3)], "w3")
    one = run([incoming], "w1")
    oneshot = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_minhash_pairs(
            corpus, incoming, n=3, num_hashes=32, bands=8, threshold=0.8
        ).collect()
    )
    assert three == one == oneshot
    assert len(three) > 0
    release_cached_frames()


def test_near_dup_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying a near-dup micro-batch with the same batch_id (the
    at-least-once recovery path) must produce the identical pair set,
    band index, and doc store — and must NOT see its own half-written
    first attempt as pre-existing corpus (which would suppress every
    batch-vs-batch pair as 'already indexed')."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        minhash_band_index,
        release_cached_frames,
    )
    from cdc_algorithms_spark.streaming.near_dup import near_dup_batch

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    index_dir = str(tmp_path / "band_index")
    docs_dir = str(tmp_path / "docs")
    pairs_dir = str(tmp_path / "pairs")
    minhash_band_index(corpus, 3, 32, 8).write.parquet(index_dir + "/seed")
    corpus.write.parquet(docs_dir + "/seed")

    def state():
        pairs = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in spark.read.parquet(pairs_dir + "/*").collect()
        )
        return (
            pairs,
            read_live(spark, index_dir, "seed").count(),
            read_live(spark, docs_dir, "seed").count(),
        )

    near_dup_batch(spark, batch, index_dir, docs_dir, pairs_dir, 0, n=3)
    first = state()
    assert first[0], "no pairs found — fixture drift"
    near_dup_batch(spark, batch, index_dir, docs_dir, pairs_dir, 0, n=3)
    assert state() == first, "replay changed pairs/index/store"
    release_cached_frames()


def test_streaming_ingest_pipeline_converges_and_is_batching_invariant(
    spark, tmp_path
):
    """The end-to-end ingest loop (dedup -> keep -> compaction routing)
    must converge to the batch composition — compaction_plan over the
    exact keep set ("not the greater id of any J>=0.8 pair") — and must
    do so identically for 1-stage and 3-stage id-ordered micro-batching."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        ngram_jaccard_pairs,
        release_cached_frames,
    )
    from cdc_algorithms_spark.operators.layout import compaction_plan
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        run_streaming_ingest_pipeline,
    )

    docs = load_table(spark, "documents", SF_DIR).select(
        "doc_id", "text", "source", "n_chars"
    )

    def run(stages, wd):
        out = run_streaming_ingest_pipeline(
            spark, stages, str(tmp_path / wd), n=3, num_hashes=32,
            bands=8, threshold=0.8, target_bytes=4096,
        )
        return sorted(
            (r.source, r.file_seq, r.doc_id, r.n_chars) for r in out.collect()
        )

    c1, c2 = docs.agg(
        F.expr("percentile(doc_id, 0.34)"), F.expr("percentile(doc_id, 0.67)")
    ).first()
    three = run(
        [
            docs.where(F.col("doc_id") <= c1),
            docs.where((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)),
            docs.where(F.col("doc_id") > c2),
        ],
        "w3",
    )
    one = run([docs], "w1")
    assert three == one

    # batch composition: exact pairs -> keep-first -> compaction plan
    dropped = (
        ngram_jaccard_pairs(docs, n=3, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    kept = docs.join(dropped, "doc_id", "left_anti")
    assert kept.count() < docs.count(), "no duplicates dropped — fixture drift"
    plan = sorted(
        (r.group, r.file_seq, r.n_items, r.total_bytes, r.first_item, r.last_item)
        for r in compaction_plan(kept, "source", "doc_id", "n_chars", 4096)
        .collect()
    )
    got = {}
    for src, seq, doc, n in three:
        k = (src, seq)
        cur = got.get(k)
        got[k] = (
            (cur[0] + 1, cur[1] + n, min(cur[2], doc), max(cur[3], doc))
            if cur
            else (1, n, doc, doc)
        )
    streamed = sorted((k[0], k[1], *v) for k, v in got.items())
    assert streamed == plan
    release_cached_frames()


def test_ingest_pipeline_batch_replay_is_idempotent(spark, tmp_path):
    """Replaying an ingest micro-batch with the same batch_id (the
    at-least-once recovery path) must leave pairs, manifest, band index
    and doc store byte-identical — the epoch-keyed overwrite contract.
    In particular the carried compaction totals must not double-count
    the replayed batch's own first attempt."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        minhash_band_index,
        release_cached_frames,
    )
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        MANIFEST_SCHEMA,
        WM_SCHEMA,
        ingest_pipeline_batch,
    )

    docs = load_table(spark, "documents", SF_DIR).select(
        "doc_id", "text", "source", "n_chars"
    )
    # stage by id RANGE (not % 3) so the watermark guard sees in-order
    # arrival; a late doc would be quarantined, which is its own test
    c = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    first = docs.where(F.col("doc_id") <= c)
    second = docs.where(F.col("doc_id") > c)
    dirs = {
        n: str(tmp_path / n)
        for n in ("idx", "docs", "pairs", "man", "wm", "quar")
    }
    import os

    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    empty = first.select("doc_id", "text").limit(0)
    minhash_band_index(empty, 3, 32, 8).write.parquet(dirs["idx"] + "/seed")
    empty.write.parquet(dirs["docs"] + "/seed")

    def run(batch, bid):
        ingest_pipeline_batch(
            spark, batch, dirs["idx"], dirs["docs"], dirs["pairs"],
            dirs["man"], bid, n=3, threshold=0.8, target_bytes=4096,
            wm_dir=dirs["wm"], quarantine_dir=dirs["quar"],
        )

    def state():
        man = sorted(
            map(
                tuple,
                read_epochs(spark, dirs["man"], "seed", MANIFEST_SCHEMA).collect(),
            )
        )
        pairs = sorted(
            map(tuple, spark.read.parquet(dirs["pairs"] + "/*").collect())
        )
        wm = sorted(
            map(tuple, read_epochs(spark, dirs["wm"], "seed", WM_SCHEMA).collect())
        )
        return (
            man,
            pairs,
            wm,
            read_live(spark, dirs["idx"], "seed").count(),
            read_live(spark, dirs["docs"], "seed").count(),
            spark.read.parquet(dirs["quar"] + "/*").count(),
        )

    run(first, 0)
    run(second, 1)
    want = state()
    assert want[1], "no pairs found across batches — fixture drift"
    run(second, 1)  # replay the LAST batch
    assert state() == want, "replay changed manifest/pairs/index/store"
    release_cached_frames()


def test_ingest_watermark_quarantines_late_docs_exactly(spark, tmp_path):
    """The arrival-contract guard: a deliberately disordered stage
    split must quarantine EXACTLY the docs that arrive at or below the
    carried max-id watermark (= below the max id of any earlier stage),
    the manifest must equal an in-order run over the accepted docs
    alone, and a fully in-order run must quarantine nothing."""
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        run_streaming_ingest_pipeline,
    )

    docs = load_table(spark, "documents", SF_DIR).select(
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
    manifest, quarantine = run_streaming_ingest_pipeline(
        spark, stages, str(tmp_path / "disorder"), n=3, num_hashes=32,
        bands=8, threshold=0.8, target_bytes=4096, return_quarantine=True,
    )
    got_quar = sorted(r.doc_id for r in quarantine.select("doc_id").collect())

    # expected late set from the watermark algebra: below the max id of
    # any earlier stage (the max arrived id is always accepted)
    stage_max = {
        r["__stg"]: r["m"]
        for r in staged.groupBy("__stg").agg(F.max("doc_id").alias("m")).collect()
    }
    expect_quar = sorted(
        r.doc_id
        for r in staged.collect()
        if r["__stg"] > 0
        and r.doc_id < max(stage_max[s] for s in range(r["__stg"]))
    )
    assert got_quar == expect_quar and got_quar, "quarantine set mismatch"
    # every quarantined row records the watermark it violated
    assert all(
        r.doc_id <= r.violated_wm for r in quarantine.collect()
    )

    # manifest == in-order run over the accepted docs alone
    accepted = docs.join(
        quarantine.select("doc_id"), "doc_id", "left_anti"
    )
    ordered = run_streaming_ingest_pipeline(
        spark, [accepted], str(tmp_path / "ordered"), n=3, num_hashes=32,
        bands=8, threshold=0.8, target_bytes=4096,
    )
    assert sorted(map(tuple, manifest.collect())) == sorted(
        map(tuple, ordered.collect())
    )

    # a fully in-order run quarantines nothing
    c = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    _, q2 = run_streaming_ingest_pipeline(
        spark,
        [docs.where(F.col("doc_id") <= c), docs.where(F.col("doc_id") > c)],
        str(tmp_path / "inorder"), n=3, num_hashes=32, bands=8,
        threshold=0.8, target_bytes=4096, return_quarantine=True,
    )
    assert q2.count() == 0


def test_ingest_on_late_error_halts_on_contract_violation(spark, tmp_path):
    """on_late='error': the guard turns a contract violation into a
    hard failure instead of a silent wrong answer — the second stage
    here re-sends ids below the first stage's max."""
    import pytest

    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        run_streaming_ingest_pipeline,
    )

    docs = load_table(spark, "documents", SF_DIR).select(
        "doc_id", "text", "source", "n_chars"
    )
    c = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    out_of_order = [
        docs.where(F.col("doc_id") > c),   # large ids first
        docs.where(F.col("doc_id") <= c),  # then the smaller ids: LATE
    ]
    with pytest.raises(Exception, match="arrival-contract violation"):
        run_streaming_ingest_pipeline(
            spark, out_of_order, str(tmp_path / "halt"), n=3,
            num_hashes=32, bands=8, threshold=0.8, target_bytes=4096,
            on_late="error",
        )


def test_requeue_quarantined_drains_fully(spark, tmp_path):
    """The deterministic quarantine repair: requeue_quarantined re-keys
    every set-aside doc to a fresh id above the current watermark;
    settling that as the next stage admits ALL of them (no second
    quarantine), accounts for every one (kept in the manifest or
    dropped with a verified near-dup pair), and the re-keying is
    deterministic with full lineage."""
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        WM_SCHEMA,
        ingest_pipeline_batch,
        requeue_quarantined,
        run_streaming_ingest_pipeline,
    )

    docs = load_table(spark, "documents", SF_DIR).select(
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
    work = str(tmp_path / "drain")
    _, quarantine = run_streaming_ingest_pipeline(
        spark, stages, work, n=3, num_hashes=32, bands=8,
        threshold=0.8, target_bytes=4096, return_quarantine=True,
    )
    n_quar = quarantine.count()
    assert n_quar > 0

    requeued = requeue_quarantined(spark, work)
    rows = requeued.collect()
    # deterministic re-keying with lineage, all above the watermark
    assert sorted(map(tuple, requeue_quarantined(spark, work).collect())) \
        == sorted(map(tuple, rows))
    wm = (
        read_epochs(spark, f"{work}/watermark", "seed", WM_SCHEMA)
        .agg(F.max("max_id"))
        .first()[0]
    )
    assert len(rows) == n_quar
    assert sorted(r.orig_doc_id for r in rows) == sorted(
        r.doc_id for r in quarantine.collect()
    )
    assert all(r.doc_id > wm for r in rows)

    # settle the drain as the next stage: nothing re-quarantines
    ingest_pipeline_batch(
        spark, requeued, f"{work}/band_index", f"{work}/docs",
        f"{work}/pairs", f"{work}/manifest", 99, n=3, num_hashes=32,
        bands=8, threshold=0.8, target_bytes=4096,
        wm_dir=f"{work}/watermark", quarantine_dir=f"{work}/quarantine",
    )
    assert spark.read.parquet(f"{work}/quarantine/batch_99").count() == 0

    # every drained doc is accounted for: kept in the manifest or
    # dropped with a verified near-dup pair justifying the drop
    drained_ids = {r.doc_id for r in rows}
    kept = {
        r.doc_id
        for r in spark.read.parquet(
            f"{work}/manifest/seed_delta/epoch=99"
        ).collect()
    }
    paired = set()
    for r in spark.read.parquet(f"{work}/pairs/batch_99").collect():
        paired.add(r.id_a)
        paired.add(r.id_b)
    assert drained_ids <= (kept | paired)
    assert kept <= drained_ids


def test_compact_epoch_store_folds_without_changing_answers(spark, tmp_path):
    """api.compact_stream_store folds the seed_delta epochs into the
    seed: row sets identical, no live epoch afterward, and a NEW batch
    settled against the compacted stores produces exactly the pairs the
    uncompacted twin produces. Also pins the stale-replay hazard (the
    reason the contract requires a stopped stream) and idempotence."""
    import shutil as _sh

    from cdc_algorithms_spark.api import compact_stream_store
    from cdc_algorithms_spark.operators.storeio import live_epochs
    from cdc_algorithms_spark.streaming.near_dup import (
        near_dup_batch,
        run_streaming_near_dup_index,
    )

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    rest = docs.where(F.col("doc_id") % 3 == 0)
    stages = [
        rest.where(F.col("doc_id") % 2 == 0),
        rest.where(F.col("doc_id") % 2 == 1),
    ]
    work = str(tmp_path / "nd")
    run_streaming_near_dup_index(spark, corpus, stages, work)

    index_dir, docs_dir = f"{work}/band_index", f"{work}/docs"
    twin = str(tmp_path / "nd_twin")
    _sh.copytree(work, twin)

    before = sorted(
        tuple(r) for r in read_live(spark, index_dir, "seed").collect()
    )
    assert compact_stream_store(spark, index_dir) == 2  # the 2 stage epochs
    assert compact_stream_store(spark, docs_dir) == 2
    import os as _os

    # no live epoch afterward: the seed holds every row
    assert live_epochs(spark, index_dir, "seed") == []
    assert (
        sorted(tuple(r) for r in spark.read.parquet(f"{index_dir}/seed").collect())
        == before
    )
    # idempotent: nothing left to fold
    assert compact_stream_store(spark, index_dir) == 0

    # a NEW batch settles identically against compacted vs twin stores
    probe = spark.createDataFrame(
        [(10_000_000 + r.doc_id, r.text) for r in corpus.limit(2).collect()],
        "doc_id long, text string",
    )
    for w in (work, twin):
        near_dup_batch(
            spark, probe, f"{w}/band_index", f"{w}/docs", f"{w}/pairs", 77
        )
    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{work}/pairs/batch_77").collect()
    )
    want = sorted(
        tuple(r) for r in spark.read.parquet(f"{twin}/pairs/batch_77").collect()
    )
    assert got == want and got

    # the replay-after-compaction hole is CLOSED by the manifest: a
    # stale replay of a folded epoch re-creates its epoch=<id>
    # directory on disk, but every manifest-aware reader skips the dead
    # epoch — the store's effective row set is unchanged (it used to
    # double-count; pinned red before the storeio unification)
    live_before = live_epochs(spark, index_dir, "seed")
    n_before = read_live(spark, index_dir, "seed").count()
    near_dup_batch(
        spark, stages[0], index_dir, f"{work}/docs", f"{work}/pairs", 1
    )
    assert _os.path.isdir(f"{index_dir}/seed_delta/epoch=1")  # replay wrote it
    assert live_epochs(spark, index_dir, "seed") == live_before  # ...but it stays dead
    assert read_live(spark, index_dir, "seed").count() == n_before


def test_streaming_corpus_build_equals_batch_and_replays(spark, tmp_path):
    """The standing corpus-build loop (streaming/corpus_build.py) folds
    to the one-shot corpus_build_manifest BIT-identically, and an
    at-least-once replay of BOTH the seed epoch and the last extend
    epoch leaves the fold unchanged — per-epoch artifacts are overwrite-
    idempotent and the seed marker routes a seed replay back through the
    (overwriting) seed path instead of appending a duplicate extend."""
    from cdc_algorithms_spark.operators.dedup_docs import (
        release_cached_frames,
    )
    from cdc_algorithms_spark.queries_extras import (
        _CBM_K,
        _CBM_QMIN,
        _CBM_SEED,
        _CBM_SEQ,
        _CBM_WQ,
    )
    from cdc_algorithms_spark.queries_text import (
        _SPLIT_FRACTIONS,
        _SPLIT_SEED,
        JACCARD_N,
        JACCARD_THRESHOLD,
    )
    from cdc_algorithms_spark.streaming.corpus_build import (
        corpus_build_manifest_from_store,
        process_corpus_batch,
        run_streaming_corpus_build,
    )

    docs = load_table(spark, "documents", SF_DIR).select(
        "doc_id", "lang", "text"
    )
    stages = [docs.where(F.col("doc_id") % 3 == m) for m in (1, 2, 0)]
    root = str(tmp_path / "store")
    run_streaming_corpus_build(
        spark, stages, root,
        qmin=_CBM_QMIN, n=JACCARD_N, threshold=JACCARD_THRESHOLD,
    )

    def fold():
        out = corpus_build_manifest_from_store(
            spark, root,
            k=_CBM_K, wq=_CBM_WQ, seq_len=_CBM_SEQ, pps_seed=_CBM_SEED,
            split_fractions=_SPLIT_FRACTIONS, split_seed=_SPLIT_SEED,
        )
        rows = sorted(tuple(r) for r in out.collect())
        release_cached_frames()
        return rows

    want = sorted(
        tuple(r)
        for r in SPARK_QUERIES["corpus_build_manifest"](
            spark, SF_DIR
        ).collect()
    )
    release_cached_frames()
    first = fold()
    assert first == want, "stream fold != one-shot batch manifest"
    assert first[0][5] == 500  # census: every input doc counted

    # replay the LAST extend epoch (batch id 2) — the at-least-once
    # recovery path a running stream actually takes
    process_corpus_batch(
        spark, root, stages[2], 2,
        qmin=_CBM_QMIN, n=JACCARD_N, threshold=JACCARD_THRESHOLD,
    )
    assert fold() == first, "extend-epoch replay changed the manifest"

    # seed-epoch replay: only the LAST uncommitted batch ever replays,
    # so a seed replay happens strictly BEFORE any extend commits (and
    # therefore before any compaction could fold an extend into the
    # base the seed path rewrites — module docstring). Pin that path on
    # a fresh store via a full STATE snapshot: seed, snapshot, replay
    # the seed, and every artifact — pair/doctf/docmeta/census deltas,
    # jaccard base, DSIR counts+meta — must be row-identical (stronger
    # than fold equality, and no second clean store needed).
    s0 = docs.where(F.col("doc_id") % 2 == 1)
    kw = dict(qmin=_CBM_QMIN, n=JACCARD_N, threshold=JACCARD_THRESHOLD)
    replayed = str(tmp_path / "replayed")

    def snapshot():
        parts = []
        for rel in (
            "pairs_delta/epoch=0", "doctf_delta/epoch=0",
            "docs_delta/epoch=0", "census_delta/epoch=0",
            "jaccard/df", "jaccard/sets", "jaccard/prefix",
            "dsir/counts", "dsir/meta",
        ):
            rows = spark.read.parquet(f"{replayed}/{rel}").collect()
            parts.append(sorted(tuple(r) for r in rows))
        return parts

    process_corpus_batch(spark, replayed, s0, 0, **kw)
    state1 = snapshot()
    process_corpus_batch(spark, replayed, s0, 0, **kw)  # seed replay
    assert snapshot() == state1, "seed-epoch replay changed store state"


def test_sync_batch_failed_write_releases_its_cache(spark, tmp_path):
    """A failed metrics/store write must not leave the classified
    frame persisted — a standing stream would leak one per failed
    micro-batch."""
    import pytest

    from cdc_algorithms_spark.operators.chunking import fixed_chunks
    from cdc_algorithms_spark.streaming.sync import sync_batch

    docs = load_table(spark, "documents", SF_DIR).limit(10)
    store_dir = str(tmp_path / "store")
    fixed_chunks(docs, 64).select("chunk_text").distinct().select(
        "chunk_text",
        F.lit("old").alias("origin"),
        F.lit(-1).cast("long").alias("batch_id"),
    ).write.parquet(store_dir + "/seed")
    # a plain file where the metrics directory must go
    metrics_dir = tmp_path / "metrics"
    metrics_dir.write_bytes(b"not a directory")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    with pytest.raises(Exception):
        sync_batch(spark, fixed_chunks(docs, 32), store_dir, str(metrics_dir), 0)
    assert persisted() == before
