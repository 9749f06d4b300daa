"""Durable exact-Jaccard index maintenance verbs
(operators/dedup_docs.py::extend_jaccard_index / compact_jaccard_index /
read_jaccard_index_live + streaming/jaccard_index.py).

Pins: extend-exactness vs the one-shot incremental join, at-least-once
replay idempotence (live epoch AND folded epoch), fold-then-extend
exactness, and the streamed loop's verbatim equality with the batch
path.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.dedup_docs import (
    compact_jaccard_index,
    extend_jaccard_index,
    incremental_jaccard_pairs,
    incremental_jaccard_pairs_indexed,
    jaccard_prefix_index,
    read_jaccard_index_live,
    write_jaccard_index,
)
from cdc_algorithms_spark.sources.registry import load_table
from tests.conftest import SF_DIR

N, T = 3, 0.8


def _splits(spark):
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    return (
        docs.where(F.col("doc_id") % 3 == 1),
        docs.where(F.col("doc_id") % 3 == 2),
        docs.where(F.col("doc_id") % 3 == 0),
    )


def _probe(spark, path, batch):
    return sorted(
        map(
            tuple,
            incremental_jaccard_pairs_indexed(
                read_jaccard_index_live(spark, path), batch, n=N, threshold=T
            ).collect(),
        )
    )


def _build(spark, path, seed):
    index = jaccard_prefix_index(seed, n=N, threshold=T)
    write_jaccard_index(index, path)
    index[1].unpersist()


def test_extend_probe_equals_one_shot_and_replay_is_idempotent(
    spark, tmp_path
):
    seed, ext, batch = _splits(spark)
    path = str(tmp_path / "jidx")
    _build(spark, path, seed)
    extend_jaccard_index(spark, path, ext, epoch=1, n=N, threshold=T)
    want = sorted(
        map(
            tuple,
            incremental_jaccard_pairs(
                seed.unionByName(ext), batch, n=N, threshold=T
            ).collect(),
        )
    )
    assert want  # fixture sanity: the oracle subset is non-empty
    assert _probe(spark, path, batch) == want
    # at-least-once replay of a LIVE epoch: per-epoch overwrite → no-op
    extend_jaccard_index(spark, path, ext, epoch=1, n=N, threshold=T)
    assert _probe(spark, path, batch) == want
    # compaction folds the epoch; probe unchanged; delta dirs GC'd
    compact_jaccard_index(spark, path)
    assert _probe(spark, path, batch) == want
    for kind in ("sets", "prefix"):
        root = f"{path}/{kind}_delta"
        assert not os.path.exists(root) or not os.listdir(root)
    # replay of a FOLDED epoch: the manifest keeps the name dead —
    # its rows are already in the base, re-unioning would double-count
    extend_jaccard_index(spark, path, ext, epoch=1, n=N, threshold=T)
    assert os.path.isdir(f"{path}/sets_delta/epoch=1")  # dir rewritten
    assert _probe(spark, path, batch) == want  # ...but not live
    # and a GENUINELY new epoch after the fold is live
    extend_jaccard_index(
        spark, path, batch.limit(0), epoch=2, n=N, threshold=T
    )  # empty epoch: exercises the path without changing the answer
    assert _probe(spark, path, batch) == want


def test_fold_then_extend_then_probe_is_exact(spark, tmp_path):
    """Compaction mid-life: fold epoch 1, extend epoch 2, probe — the
    result must equal the one-shot join over everything, i.e. folding
    changes where rows are read from, never what they say."""
    seed, ext, batch = _splits(spark)
    ext1 = ext.where(F.col("doc_id") % 2 == 0)
    ext2 = ext.where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "jidx")
    _build(spark, path, seed)
    extend_jaccard_index(spark, path, ext1, epoch=1, n=N, threshold=T)
    compact_jaccard_index(spark, path)
    extend_jaccard_index(spark, path, ext2, epoch=2, n=N, threshold=T)
    want = sorted(
        map(
            tuple,
            incremental_jaccard_pairs(
                seed.unionByName(ext), batch, n=N, threshold=T
            ).collect(),
        )
    )
    assert _probe(spark, path, batch) == want


def test_streaming_loop_matches_batch_path(spark, tmp_path):
    seed, ext, batch = _splits(spark)
    from cdc_algorithms_spark.streaming.jaccard_index import (
        run_streaming_jaccard_index,
    )

    stages = [
        ext.where(F.col("doc_id") % 2 == par).select("doc_id", "text")
        for par in (0, 1)
    ]
    path = run_streaming_jaccard_index(
        spark, seed, stages, str(tmp_path / "stream_jidx"), n=N, threshold=T
    )
    want = sorted(
        map(
            tuple,
            incremental_jaccard_pairs(
                seed.unionByName(ext), batch, n=N, threshold=T
            ).collect(),
        )
    )
    assert _probe(spark, path, batch) == want


def test_index_meta_marker_and_type_mismatch_fail_loudly(spark, tmp_path):
    """r11 ADVICE: the shingle-format switch (string -> xxhash64 bigint)
    must be detectable. write_jaccard_index records the shingle type in
    _index_meta.json; a probe/extend whose batch shingle type differs
    from the store's raises a named ValueError instead of silently
    joining under implicit coercion (empty candidates = missed dups)."""
    import json

    import pytest

    from cdc_algorithms_spark.operators.dedup_docs import (
        JACCARD_INDEX_META,
        read_jaccard_index,
    )

    seed, ext, batch = _splits(spark)
    path = str(tmp_path / "jidx_meta")
    _build(spark, path, seed)
    with open(f"{path}/{JACCARD_INDEX_META}") as f:
        meta = json.load(f)
    assert meta["shingle_type"] == "bigint"
    assert meta["format_version"] >= 2
    # reading a consistent store is fine
    read_jaccard_index(spark, path)

    # a stale-format store: meta says string, data is bigint -> loud
    # (rewrite through the same Hadoop FS helper — the local FS keeps
    # .crc sidecars a plain open() rewrite would invalidate)
    from cdc_algorithms_spark.operators.storeio import write_json

    write_json(
        spark,
        f"{path}/{JACCARD_INDEX_META}",
        {
            "format_version": 2,
            "shingle_type": "string",
            "sh_buckets": 64,
            "id_buckets": 16,
        },
    )
    with pytest.raises(ValueError, match="shingle type mismatch"):
        read_jaccard_index(spark, path)

    # extend with a mismatched element type (string shingles against the
    # bigint store) must also fail loudly, not write a poisoned delta
    str_elements = ext.select(
        F.col("doc_id"), F.col("text").substr(1, 8).alias("shingle")
    )
    with pytest.raises(ValueError, match="shingle type mismatch"):
        extend_jaccard_index(
            spark, path, ext, epoch=9, n=N, threshold=T,
            elements=str_elements,
        )


def test_adaptive_bucket_counts_recorded_and_resolved(spark, tmp_path):
    """r12 (VERDICT r11 task 6): write_jaccard_index sizes bucket counts
    to the corpus, records them in _index_meta.json, and extend + probe
    resolve them from the store — a tiny corpus writes a few partition
    directories per epoch instead of 64+16, and explicit contradicting
    counts fail loudly instead of silently pruning wrong."""
    import json

    import pytest

    from cdc_algorithms_spark.operators.dedup_docs import (
        JACCARD_ID_BUCKETS,
        JACCARD_INDEX_META,
        JACCARD_SH_BUCKETS,
        read_jaccard_index,
    )
    from cdc_algorithms_spark.operators.storeio import adaptive_buckets

    # the derivation write_jaccard_index runs: floors, scaling, caps
    def _adaptive(n_docs):
        return (
            adaptive_buckets(n_docs, JACCARD_SH_BUCKETS, 64),
            adaptive_buckets(n_docs, JACCARD_ID_BUCKETS, 256),
        )

    assert _adaptive(0) == (1, 1)
    assert _adaptive(500) == (7, 1)
    assert _adaptive(10**9) == (64, 16)
    # ... and what it records for the 500-doc sf0.001 corpus
    whole = str(tmp_path / "jidx_500")
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    assert docs.count() == 500
    _build(spark, whole, docs)
    with open(f"{whole}/{JACCARD_INDEX_META}") as f:
        meta = json.load(f)
    assert (meta["sh_buckets"], meta["id_buckets"]) == (7, 1)

    seed, ext, batch = _splits(spark)  # 166/167/167 docs at sf0.001
    path = str(tmp_path / "jidx_adaptive")
    _build(spark, path, seed)
    with open(f"{path}/{JACCARD_INDEX_META}") as f:
        meta = json.load(f)
    n_seed = seed.count()
    assert meta["sh_buckets"] == max(1, n_seed // 64)
    assert meta["id_buckets"] == max(1, n_seed // 256)
    # the store wrote exactly that many shingle-bucket directories
    sh_dirs = [d for d in os.listdir(f"{path}/prefix") if d.startswith("sh_bucket=")]
    assert len(sh_dirs) <= meta["sh_buckets"]

    # extend resolves the counts from the meta (no args) and the delta
    # directories agree with the base layout
    extend_jaccard_index(spark, path, ext, epoch=1, n=N, threshold=T)
    delta_dirs = [
        d for d in os.listdir(f"{path}/prefix_delta/epoch=1")
        if d.startswith("sh_bucket=")
    ]
    assert delta_dirs
    assert {d.split("=")[1] for d in delta_dirs} <= {
        str(b) for b in range(meta["sh_buckets"])
    }

    # probe resolves from the attached meta and stays EXACT vs one-shot
    got = _probe(spark, path, batch)
    want = sorted(
        map(
            tuple,
            incremental_jaccard_pairs(
                seed.unionByName(ext), batch, n=N, threshold=T
            ).collect(),
        )
    )
    assert want and got == want

    # explicit contradicting counts fail loudly (probe and extend)
    idx = read_jaccard_index_live(spark, path)
    with pytest.raises(ValueError, match="contradicts the store"):
        incremental_jaccard_pairs_indexed(
            idx, batch, n=N, threshold=T,
            sh_buckets=meta["sh_buckets"] + 1,
        )
    with pytest.raises(ValueError, match="contradicts the store"):
        extend_jaccard_index(
            spark, path, batch, epoch=2, n=N, threshold=T,
            sh_buckets=meta["sh_buckets"] + 1,
        )


def _final_action_jobs(spark, probe, group):
    """Jobs the probe's final ``collect()`` launches (the bucket
    collects already ran while the probe was built)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        probe.collect()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_probe_final_action_is_flat_over_live_epochs(spark, tmp_path):
    """Verification keys every candidate by its batch document and
    joins the live sets union with inner joins only: the final action
    launches the same number of jobs with 1 and with 3 extend epochs
    live, its plan has no semi-join (which Catalyst would push into
    every union branch), and the probe persists three frames."""
    from cdc_algorithms_spark.operators import dedup_docs as dd

    seed, ext, batch = _splits(spark)
    path = str(tmp_path / "jidx")
    _build(spark, path, seed)
    jobs = []
    for epochs in ((1,), (2, 3)):
        for e in epochs:
            # ext ids are 2 mod 3, so 2, 5, 8 mod 9 split it in three
            extend_jaccard_index(
                spark, path, ext.where(F.col("doc_id") % 9 == 3 * e - 1),
                epoch=e, n=N, threshold=T,
            )
        dd.release_cached_frames()
        probe = incremental_jaccard_pairs_indexed(
            read_jaccard_index_live(spark, path), batch, n=N, threshold=T
        )
        assert len(dd._CACHED_FRAMES) == 3
        jobs.append(_final_action_jobs(spark, probe, f"probe_e{epochs[-1]}"))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        semi = [line for line in plan.splitlines() if "LeftSemi" in line]
        assert not semi, f"probe plan semi-joins: {semi[:3]}"
        dd.release_cached_frames()
    assert jobs[0] == jobs[1], f"final-action jobs grew with live epochs: {jobs}"


def test_batch_internal_pairs_are_reported_once(spark, tmp_path):
    """A batch holding two identical docs and a verbatim copy of an
    index doc: every unordered pair comes back exactly once with
    id_a < id_b — whichever side holds the batch doc, and including
    the batch-batch pair — and the result equals the one-shot join."""
    seed, _, rest = _splits(spark)
    path = str(tmp_path / "jidx")
    _build(spark, path, seed)
    src = seed.orderBy(F.col("doc_id").desc()).first()
    twin = rest.orderBy("doc_id").first()
    # the copy gets an id BELOW its source, the twins ids above the
    # corpus: both orientations of (batch doc, other doc) occur
    batch = spark.createDataFrame(
        [(3, src.text), (10_000_002, twin.text), (10_000_001, twin.text)],
        "doc_id long, text string",
    )
    got = _probe(spark, path, batch)
    pairs = [(a, b) for a, b, _ in got]
    assert all(a < b for a, b in pairs)
    assert len(pairs) == len(set(pairs))
    assert {(3, src.doc_id), (10_000_001, 10_000_002)} <= set(pairs)
    want = sorted(
        map(
            tuple,
            incremental_jaccard_pairs(seed, batch, n=N, threshold=T).collect(),
        )
    )
    assert got == want


def test_extend_failed_write_releases_its_caches(spark, tmp_path):
    """A failed delta write must not leave the batch's persisted
    shingle or set frames behind — a standing loop would leak one per
    failed epoch."""
    import pytest

    seed, ext, _ = _splits(spark)
    path = str(tmp_path / "jidx")
    _build(spark, path, seed)
    # a plain file where the delta directory tree must go
    with open(f"{path}/prefix_delta", "w") as f:
        f.write("not a directory")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    with pytest.raises(Exception):
        extend_jaccard_index(spark, path, ext, epoch=1, n=N, threshold=T)
    assert persisted() == before
