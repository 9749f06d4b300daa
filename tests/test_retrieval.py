"""Retrieval + selection operators: BM25 (batch and durable-index),
cross-doc duplicate fraction, DSIR weights.

The oracle queries are value-checked by the driver replica
(tools/driver_check.py); these tests pin the properties the oracle
can't see — indexed==batch identity, static bucket pruning, score
determinism under repartitioning, and planted-structure behavior.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.retrieval import (
    bm25_topk,
    bm25_topk_indexed,
    query_terms,
    write_text_index,
)
from cdc_algorithms_spark.operators.selection import (
    cross_doc_dup_fraction,
    dsir_importance_weights,
)
from cdc_algorithms_spark.plans import inspect as P
from tests.conftest import SF_DIR

QUERIES = [(1, "spark window agg"), (2, "customer stream query")]


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_bm25_batch_shape_and_ranking(spark):
    docs = _docs(spark)
    out = bm25_topk(docs, query_terms(spark, QUERIES), k=5).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 5
        # scores non-increasing with rank; doc_id tiebreak ascending
        for a, b in zip(rows, rows[1:]):
            assert (a["score"], -a["doc_id"]) >= (b["score"], -b["doc_id"])
        assert all(r["score"] > 0 for r in rows)


def test_bm25_deterministic_under_repartition(spark):
    """The quantized-sum contract: partition-order of summation must not
    move a single rank or score."""
    docs = _docs(spark)
    qt = query_terms(spark, QUERIES)
    a = sorted(bm25_topk(docs, qt, k=10).collect())
    b = sorted(bm25_topk(docs.repartition(17, "lang"), qt, k=10).collect())
    assert a == b


def test_bm25_indexed_equals_batch(spark, tmp_path):
    docs = _docs(spark)
    qt = query_terms(spark, QUERIES)
    write_text_index(docs, str(tmp_path), buckets=8)
    got = sorted(
        bm25_topk_indexed(spark, str(tmp_path), qt, k=10, buckets=8).collect()
    )
    expect = sorted(bm25_topk(docs, qt, k=10).collect())
    assert got == expect


def test_bm25_index_probe_prunes_buckets(spark, tmp_path):
    """100 TB contract: the probe's posting scan carries PartitionFilters
    on the bucket column and never re-scans the documents table."""
    docs = _docs(spark)
    qt = query_terms(spark, [(1, "spark")])
    write_text_index(docs, str(tmp_path), buckets=8)
    probe = bm25_topk_indexed(spark, str(tmp_path), qt, k=10, buckets=8)
    plan = P.physical_plan(probe)
    assert "PartitionFilters: [isnotnull(bucket" in plan, plan
    assert "PartitionFilters: []" not in plan
    assert "documents.parquet" not in plan


def test_cross_doc_dup_fraction_planted_clone(spark):
    """A verbatim clone scores dup_fraction == 1.0 on every n-gram; a
    doc made of unique nonsense tokens scores 0.0."""
    docs = _docs(spark).limit(20)
    base = docs.select("doc_id", "text")
    clone = base.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    unique = spark.createDataFrame(
        [(2_000_000, " ".join(f"zq{i}x" for i in range(40)))],
        "doc_id long, text string",
    )
    frame = base.unionByName(clone).unionByName(unique)
    out = {r["doc_id"]: r for r in cross_doc_dup_fraction(frame, n=8).collect()}
    cloned_src = base.limit(1).collect()[0]["doc_id"]
    assert out[cloned_src + 1_000_000]["dup_fraction"] == 1.0
    assert out[cloned_src]["dup_fraction"] == 1.0
    assert out[2_000_000]["dup_fraction"] == 0.0
    # accounting: n_dup <= n_ngrams everywhere
    assert all(
        r["n_dup_ngrams"] <= r["n_ngrams"] for r in out.values()
    )


def test_dsir_weights_prefer_target_like_docs(spark):
    """Weights are a log-likelihood ratio toward the target slice: the
    mean weight of target-language docs must exceed the mean weight of
    the rest (the fixture languages have distinct marker tokens)."""
    docs = _docs(spark)
    out = dsir_importance_weights(docs, F.col("lang") == "en")
    stats = (
        out.join(docs.select("doc_id"), "doc_id")
        .groupBy(F.col("lang") == "en")
        .agg(F.avg("weight").alias("w"))
        .collect()
    )
    by_tgt = {r[0]: r["w"] for r in stats}
    assert by_tgt[True] > by_tgt[False]


def test_dsir_deterministic_under_repartition(spark):
    docs = _docs(spark)
    a = sorted(dsir_importance_weights(docs, F.col("lang") == "en").collect())
    b = sorted(
        dsir_importance_weights(
            docs.repartition(13, "source"), F.col("lang") == "en"
        ).collect()
    )
    assert a == b


def test_text_index_extend_exact_and_idempotent(spark, tmp_path):
    """The streamed-index contract: extended == one-shot BIT-IDENTICALLY
    (no recall tier — the store is pure counts and the probe derives
    df/avgdl from what it reads), and per-epoch overwrite makes replay
    idempotent."""
    from cdc_algorithms_spark.operators.retrieval import (
        extend_text_index,
        write_text_index,
    )

    docs = _docs(spark)
    seed = docs.where(F.col("doc_id") % 3 != 0)
    b0 = docs.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 2 == 0))
    b1 = docs.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 2 == 1))
    qt = query_terms(spark, QUERIES)

    ext = str(tmp_path / "ext")
    write_text_index(seed, ext, buckets=8)
    extend_text_index(spark, ext, b0, 0, buckets=8)
    extend_text_index(spark, ext, b0, 0, buckets=8)  # replay epoch 0
    extend_text_index(spark, ext, b1, 1, buckets=8)

    oneshot = str(tmp_path / "oneshot")
    write_text_index(docs, oneshot, buckets=8)

    got = sorted(bm25_topk_indexed(spark, ext, qt, k=10, buckets=8).collect())
    expect = sorted(
        bm25_topk_indexed(spark, oneshot, qt, k=10, buckets=8).collect()
    )
    assert got == expect
    # ... and both equal the batch form over the full corpus
    assert got == sorted(bm25_topk(docs, qt, k=10).collect())


def test_text_index_compact_preserves_answers(spark, tmp_path):
    from cdc_algorithms_spark.operators.retrieval import (
        compact_text_index,
        extend_text_index,
        write_text_index,
    )
    from cdc_algorithms_spark.operators.storeio import live_epochs

    docs = _docs(spark)
    qt = query_terms(spark, QUERIES)
    path = str(tmp_path / "idx")
    write_text_index(docs.where(F.col("doc_id") % 3 != 0), path, buckets=8)
    extend_text_index(
        spark, path, docs.where(F.col("doc_id") % 3 == 0), 0, buckets=8
    )
    before = sorted(bm25_topk_indexed(spark, path, qt, k=10, buckets=8).collect())
    compact_text_index(spark, path)
    assert live_epochs(spark, path, "postings") == []
    assert live_epochs(spark, path, "meta") == []
    after = sorted(bm25_topk_indexed(spark, path, qt, k=10, buckets=8).collect())
    assert after == before
    # compacting a store with no deltas is a no-op
    compact_text_index(spark, path)
    assert sorted(
        bm25_topk_indexed(spark, path, qt, k=10, buckets=8).collect()
    ) == before


def test_text_index_compact_crash_window_no_double_count(spark, tmp_path):
    """The storeio manifest contract: if a crash between the install
    rename and the delta delete leaves the folded epoch directories
    behind, the next probe must SKIP them (the staged store's
    _folded_epochs.json lists them) — not union them in and double-count
    df/n/sum_dl. Simulated by copying the deltas aside and restoring
    them after compaction."""
    import shutil

    from cdc_algorithms_spark.operators.retrieval import (
        compact_text_index,
        extend_text_index,
        write_text_index,
    )
    from cdc_algorithms_spark.operators.storeio import live_epochs

    docs = _docs(spark)
    qt = query_terms(spark, QUERIES)
    path = str(tmp_path / "idx")
    write_text_index(docs.where(F.col("doc_id") % 3 != 0), path, buckets=8)
    extend_text_index(
        spark, path, docs.where(F.col("doc_id") % 3 == 0), 0, buckets=8
    )
    before = sorted(bm25_topk_indexed(spark, path, qt, k=10, buckets=8).collect())
    for kind in ("postings", "meta"):
        shutil.copytree(f"{path}/{kind}_delta", f"{path}/{kind}_crash")
    compact_text_index(spark, path)
    for kind in ("postings", "meta"):  # the crash leftover reappears
        shutil.rmtree(f"{path}/{kind}_delta", ignore_errors=True)
        shutil.move(f"{path}/{kind}_crash", f"{path}/{kind}_delta")
    # the manifest marks epoch=0 folded: probes and a re-compact see no
    # live deltas, and answers stay exact
    assert live_epochs(spark, path, "postings") == []
    assert live_epochs(spark, path, "meta") == []
    after = sorted(bm25_topk_indexed(spark, path, qt, k=10, buckets=8).collect())
    assert after == before
    compact_text_index(spark, path)  # pure GC; still exact
    assert sorted(
        bm25_topk_indexed(spark, path, qt, k=10, buckets=8).collect()
    ) == before


def test_dsir_store_extend_exact_and_idempotent(spark, tmp_path):
    """The durable DSIR term-count store (selection.py::
    write_dsir_counts / extend_dsir_counts / dsir_weights_indexed): a
    seed + two extension epochs must score every document BIT-identically
    to the batch dsir_importance_weights over the full corpus (counts
    are integers; the probe derives c_raw/c_tgt/totals/V from the
    folded generations through the shared expression tree), and
    per-epoch overwrite keeps replay idempotent."""
    from cdc_algorithms_spark.operators.selection import (
        dsir_weights_indexed,
        extend_dsir_counts,
        write_dsir_counts,
    )

    docs = _docs(spark)
    tgt = F.col("lang") == "en"
    path = str(tmp_path / "dsir")
    write_dsir_counts(docs.where(F.col("doc_id") % 3 != 0), tgt, path)
    b0 = docs.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 2 == 0))
    b1 = docs.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 2 == 1))
    extend_dsir_counts(spark, path, b0, tgt, 0)
    extend_dsir_counts(spark, path, b0, tgt, 0)  # at-least-once replay
    extend_dsir_counts(spark, path, b1, tgt, 1)

    got = sorted(map(tuple, dsir_weights_indexed(spark, path, docs).collect()))
    expect = sorted(map(tuple, dsir_importance_weights(docs, tgt).collect()))
    assert got == expect


def test_dsir_store_compact_preserves_and_survives_crash(spark, tmp_path):
    """compact_dsir_counts folds deltas into one-row-per-term base
    stores with answers unchanged, and the storeio manifest makes the
    crash window (deltas left behind after install) harmless — same
    contract as the text/PQ stores."""
    import shutil

    from cdc_algorithms_spark.operators.selection import (
        compact_dsir_counts,
        dsir_weights_indexed,
        extend_dsir_counts,
        write_dsir_counts,
    )

    docs = _docs(spark)
    tgt = F.col("lang") == "en"
    path = str(tmp_path / "dsir")
    write_dsir_counts(docs.where(F.col("doc_id") % 3 != 0), tgt, path)
    extend_dsir_counts(
        spark, path, docs.where(F.col("doc_id") % 3 == 0), tgt, 0
    )
    before = sorted(
        map(tuple, dsir_weights_indexed(spark, path, docs).collect())
    )
    for kind in ("counts", "meta"):
        shutil.copytree(f"{path}/{kind}_delta", f"{path}/{kind}_crash")
    compact_dsir_counts(spark, path)
    # compacted base holds exactly one row per term
    folded = spark.read.parquet(f"{path}/counts")
    assert folded.count() == folded.select("term").distinct().count()
    assert sorted(
        map(tuple, dsir_weights_indexed(spark, path, docs).collect())
    ) == before
    # crash leftover reappears: manifest keeps probes exact, next
    # compaction GCs it
    for kind in ("counts", "meta"):
        shutil.rmtree(f"{path}/{kind}_delta", ignore_errors=True)
        shutil.move(f"{path}/{kind}_crash", f"{path}/{kind}_delta")
    assert sorted(
        map(tuple, dsir_weights_indexed(spark, path, docs).collect())
    ) == before
    compact_dsir_counts(spark, path)
    import os

    assert os.listdir(f"{path}/counts_delta") == []
    assert sorted(
        map(tuple, dsir_weights_indexed(spark, path, docs).collect())
    ) == before


def test_dsir_indexed_scores_unseen_terms_at_smoothing_floor(spark, tmp_path):
    """A document whose terms the store has never seen must score (the
    add-one floor applies with c_raw = c_tgt = 0), not silently drop or
    error — the standing-pipeline case where a probe batch arrives
    before its counts are folded."""
    from cdc_algorithms_spark.operators.selection import (
        dsir_weights_indexed,
        write_dsir_counts,
    )

    docs = _docs(spark)
    path = str(tmp_path / "dsir")
    write_dsir_counts(docs, F.col("lang") == "en", path)
    novel = spark.createDataFrame(
        [(99_000_001, "zzzunseen qqqnovel zzzunseen", "en")],
        "doc_id long, text string, lang string",
    )
    out = dsir_weights_indexed(spark, path, novel).collect()
    assert len(out) == 1
    assert out[0]["n_tokens"] == 3
    assert out[0]["weight"] is not None


def test_streaming_hybrid_index_lockstep_and_partial_modality(spark, tmp_path):
    """One foreachBatch loop maintains BOTH hybrid stores: the streamed
    text store answers bit-identically to a one-shot build over
    seed ∪ batches (full corpus, including docs WITHOUT embeddings);
    the PQ store holds exactly one code per embedded doc — a doc
    arriving without an embedding is lexically findable and
    semantically absent, never an error."""
    from cdc_algorithms_spark.operators.retrieval import (
        bm25_topk_indexed,
        write_text_index,
    )
    from cdc_algorithms_spark.operators.similarity import read_pq_index
    from cdc_algorithms_spark.streaming.hybrid_index import (
        run_streaming_hybrid_index,
    )
    from tests.conftest import SF_DIR

    docs = _docs(spark).select("doc_id", "text")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # plant partial modality: docs divisible by 7 lose their embedding
    combined = docs.join(
        emb.where(F.col("vec_id") % 7 != 0).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ),
        "doc_id",
        "left",
    )
    seed = combined.where(F.col("doc_id") % 3 != 0)
    stages = [
        combined.where(
            (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 2 == par)
        )
        for par in (0, 1)
    ]
    text_path, pq_path = run_streaming_hybrid_index(
        spark,
        seed.select("doc_id", "text"),
        seed.where(F.col("embedding").isNotNull()).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ),
        stages,
        str(tmp_path / "stores"),
    )
    # lexical: streamed == one-shot over the FULL doc corpus
    qt = query_terms(spark, QUERIES)
    oneshot = str(tmp_path / "oneshot")
    write_text_index(docs, oneshot)
    assert sorted(
        bm25_topk_indexed(spark, text_path, qt, k=10).collect()
    ) == sorted(bm25_topk_indexed(spark, oneshot, qt, k=10).collect())
    # semantic: exactly one code per EMBEDDED doc, none for the others
    codes = read_pq_index(spark, pq_path).codes
    embedded = combined.where(F.col("embedding").isNotNull())
    assert codes.count() == embedded.count()
    assert codes.select("vec_id").distinct().count() == embedded.count()
    missing = codes.join(
        embedded.select(F.col("doc_id").alias("vec_id")),
        "vec_id",
        "left_anti",
    )
    assert missing.count() == 0


def test_remove_duplicate_spans_planted(spark):
    """Plant a shared 10-token span in three docs of otherwise-unique
    tokens: the min-doc keeps it, the others lose exactly those tokens,
    and untouched docs come back verbatim (modulo single-space
    rejoining)."""
    from cdc_algorithms_spark.operators.selection import remove_duplicate_spans

    span = " ".join(f"dup{i}" for i in range(10))
    rows = [
        (1, f"{' '.join(f'a{i}' for i in range(20))} {span}"),
        (2, f"{span} {' '.join(f'b{i}' for i in range(20))}"),
        (3, f"{' '.join(f'c{i}' for i in range(10))} {span} "
            f"{' '.join(f'd{i}' for i in range(10))}"),
        (4, " ".join(f"e{i}" for i in range(25))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, n=8).collect()}
    assert out[1]["n_removed"] == 0 and out[1]["cleaned_text"] == rows[0][1]
    assert out[4]["n_removed"] == 0 and out[4]["cleaned_text"] == rows[3][1]
    # docs 2 and 3 lose exactly the 10 planted tokens
    assert out[2]["n_removed"] == 10
    assert out[2]["cleaned_text"] == " ".join(f"b{i}" for i in range(20))
    assert out[3]["n_removed"] == 10
    assert out[3]["cleaned_text"] == " ".join(
        [f"c{i}" for i in range(10)] + [f"d{i}" for i in range(10)]
    )
    # token accounting holds everywhere
    for r in out.values():
        kept = len(r["cleaned_text"].split()) if r["cleaned_text"] else 0
        assert kept + r["n_removed"] == r["n_tokens"]


def test_remove_duplicate_spans_whole_doc_clone(spark):
    """A verbatim clone (shorter than n counts too) is emptied entirely
    while the canonical survives whole."""
    from cdc_algorithms_spark.operators.selection import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(10, "x1 x2 x3 x4 x5"), (20, "x1 x2 x3 x4 x5")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, n=8).collect()}
    assert out[10]["n_removed"] == 0
    assert out[20]["n_removed"] == 5 and out[20]["cleaned_text"] == ""


def test_mips_deterministic_and_exact(spark):
    """Quantized MIPS: ranks invariant under repartitioning (integer
    dot products are associative) and the top-1 for a corpus vector
    used as its own query is itself (self inner product dominates on
    normalized-ish embeddings)."""
    from cdc_algorithms_spark.operators.retrieval import mips_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = (
        spark.createDataFrame([(1, 7)], "query_id long, qvec_id long")
        .join(emb, F.col("qvec_id") == emb["vec_id"])
        .select("query_id", "embedding")
    )
    a = sorted(mips_topk(emb, q, k=20).collect())
    b = sorted(mips_topk(emb.repartition(9, "label"), q, k=20).collect())
    assert a == b
    top1 = [r for r in a if r["rank"] == 1]
    assert top1 and top1[0]["doc_id"] == 7


def test_rrf_fusion_properties(spark):
    """RRF: a doc ranked well by both legs beats a doc ranked equally
    well by only one; absent docs contribute nothing."""
    from cdc_algorithms_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 2)], "query_id long, doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(1, 100, 2), (1, 300, 1)], "query_id long, doc_id long, rank long"
    )
    out = {r["doc_id"]: r for r in rrf_fuse([lex, sem], k=10).collect()}
    # doc 100: 1/(60+1) + 1/(60+2) from both legs beats single-leg docs
    assert out[100]["rank"] == 1
    assert set(out) == {100, 200, 300}
    assert out[100]["rrf_score"] > out[300]["rrf_score"] > 0


def test_remove_duplicate_spans_fingerprint_equals_exact(spark):
    """The 128-bit fingerprint path must produce the same surgery as
    exact strings on the fixture corpus (collisions are a ~2^-64-scale
    event; any mismatch here is a logic bug, not bad luck)."""
    from cdc_algorithms_spark.operators.selection import remove_duplicate_spans

    docs = _docs(spark).limit(100)
    a = sorted(map(tuple, remove_duplicate_spans(docs, n=8).collect()))
    b = sorted(
        map(
            tuple,
            remove_duplicate_spans(docs, n=8, fingerprint=True).collect(),
        )
    )
    assert a == b


def test_span_operators_auto_fingerprint_above_threshold(spark, monkeypatch):
    """fingerprint=None auto-selects by document count: below
    FINGERPRINT_AUTO_DOCS the exact-string path runs (oracle fixtures
    unchanged); at/above it both span operators switch to the 128-bit
    fingerprint path — pinned by dropping the threshold to 1 and
    asserting (a) the plan carries the xxhash64 gram keys and (b) the
    results still equal the exact path (the measured 1M-doc disk cliff
    can't be hit by a default caller; SCALING §23)."""
    from cdc_algorithms_spark.operators import selection as sel

    docs = _docs(spark).limit(60)
    exact = sorted(
        map(tuple, sel.cross_doc_dup_fraction(docs, fingerprint=False).collect())
    )
    # default on a small frame: exact path (no gram hashing in the plan)
    small = sel.cross_doc_dup_fraction(docs)
    assert "xxhash64" not in small._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, small.collect())) == exact

    monkeypatch.setattr(sel, "FINGERPRINT_AUTO_DOCS", 1)
    auto = sel.cross_doc_dup_fraction(docs)
    assert "xxhash64" in auto._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, auto.collect())) == exact
    spans_exact = sorted(
        map(tuple, sel.remove_duplicate_spans(docs, fingerprint=False).collect())
    )
    assert (
        sorted(map(tuple, sel.remove_duplicate_spans(docs).collect()))
        == spans_exact
    )


def test_hard_negatives_exclude_semantic_hits(spark):
    """Every mined negative appears in the lexical ranking and none in
    the semantic top set; ranks are dense per query."""
    from cdc_algorithms_spark.operators.retrieval import (
        bm25_ranks,
        hard_negatives,
        mips_topk,
    )

    docs = _docs(spark)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qt = query_terms(spark, QUERIES)
    lex = bm25_ranks(docs, qt, depth=30)
    qv = (
        spark.createDataFrame([(1, 7), (2, 123)], "query_id long, qvec_id long")
        .join(emb, F.col("qvec_id") == emb["vec_id"])
        .select("query_id", "embedding")
    )
    sem = mips_topk(emb, qv, k=10)
    neg = hard_negatives(lex, sem, k=10)
    sem_set = {(r["query_id"], r["doc_id"]) for r in sem.collect()}
    lex_set = {(r["query_id"], r["doc_id"]) for r in lex.collect()}
    rows = neg.collect()
    assert rows
    by_q: dict[int, list[int]] = {}
    for r in rows:
        assert (r["query_id"], r["doc_id"]) in lex_set
        assert (r["query_id"], r["doc_id"]) not in sem_set
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
