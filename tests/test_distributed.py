"""Tests for the segment-parallel blob chunking pipeline (SURVEY.md §2.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_algorithms_spark.chunkers import ae_cuts
from cdc_algorithms_spark.chunkers.params import AeParams
from cdc_algorithms_spark.operators.distributed import (
    parallel_chunk_blob,
    segment_blob_df,
)
from cdc_algorithms_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def blob(spark):
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    texts = [r["text"] for r in docs.orderBy("doc_id").collect()]
    return "".join(texts).encode()


@pytest.fixture(scope="module")
def blob_df(spark, blob):
    return spark.createDataFrame(
        [(0, bytearray(blob))], "src_id long, content binary"
    )


def test_segmenting_covers_blob(spark, blob, blob_df):
    segs = segment_blob_df(blob_df, segment_len=16384, overlap=64).collect()
    segs.sort(key=lambda r: r["seg_idx"])
    assert segs[0]["left"] == 0
    assert segs[-1]["right"] == len(blob)
    for a, b in zip(segs, segs[1:]):
        assert a["right"] == b["left"]
    for s in segs:
        expected = blob[s["scan_start"] : s["right"]]
        assert bytes(s["payload"]) == expected


def _spans(chunks):
    rows = sorted(chunks.collect(), key=lambda r: r["chunk_idx"])
    return [(r["offset"], r["length"], r["hash"]) for r in rows]


def test_parallel_ae_concat_and_contiguity(spark, blob, blob_df):
    chunks = parallel_chunk_blob(blob_df, "ae", 320, segment_len=16384)
    rows = _spans(chunks)
    assert sum(ln for _, ln, _ in rows) == len(blob)
    pos = 0
    for off, ln, _ in rows:
        assert off == pos
        pos += ln


def test_parallel_matches_single_segment_hashes(spark, blob, blob_df):
    """Chunks with identical spans must hash identically whether they were
    reassembled across seams (multi-segment) or not (single segment) —
    exercises the phase-C range-join reassembly."""
    multi = dict(
        ((o, ln), h) for o, ln, h in _spans(
            parallel_chunk_blob(blob_df, "ae", 320, segment_len=8192)
        )
    )
    single = dict(
        ((o, ln), h) for o, ln, h in _spans(
            parallel_chunk_blob(blob_df, "ae", 320, segment_len=len(blob) + 1)
        )
    )
    common = set(multi) & set(single)
    assert len(common) >= 0.8 * len(single), "seam drift too large"
    for span in common:
        assert multi[span] == single[span], f"hash mismatch at {span}"


def test_parallel_close_to_sequential(spark, blob, blob_df):
    """Segment-parallel cuts agree with the sequential algorithm away from
    seams (the reference's seam rule is approximate, SURVEY.md §7)."""
    p = AeParams.make(320)
    seq_cuts = set(ae_cuts(blob, p))
    par_ends = {
        o + ln - 1 for o, ln, _ in _spans(
            parallel_chunk_blob(blob_df, "ae", 320, segment_len=8192)
        )
    }
    agreement = len(seq_cuts & par_ends) / len(seq_cuts)
    assert agreement > 0.9, f"only {agreement:.1%} of sequential cuts reproduced"


def test_parallel_deterministic(spark, blob_df):
    a = _spans(parallel_chunk_blob(blob_df, "rabin", 256, seed=7, segment_len=8192))
    b = _spans(parallel_chunk_blob(blob_df, "rabin", 256, seed=7, segment_len=8192))
    assert a == b


def test_parallel_rabin_bounds_respected(spark, blob_df):
    chunks = parallel_chunk_blob(blob_df, "rabin", 256, seed=7, segment_len=8192)
    mx = chunks.agg(F.max("length")).collect()[0][0]
    # Interior chunks respect max_size+1, but a seam chunk can stretch
    # further: the next segment scans from right-overlap with fresh state,
    # so its first cut can land up to max_size past that warm-up start
    # (same property as the reference's get_bounds warm-start, rabin.rs:64).
    max_size, window = 256 * 4, 256 // 4 - 1
    assert mx <= 2 * (max_size + 1) + window


def test_multiple_blobs(spark, blob):
    third = len(blob) // 3
    df = spark.createDataFrame(
        [(1, bytearray(blob[:third])), (2, bytearray(blob[third:]))],
        "src_id long, content binary",
    )
    chunks = parallel_chunk_blob(df, "ae", 320, segment_len=4096)
    per_src = {
        r["src_id"]: r["total"]
        for r in chunks.groupBy("src_id").agg(F.sum("length").alias("total")).collect()
    }
    assert per_src == {1: third, 2: len(blob) - third}


def test_synthetic_blob_node_pipeline(spark):
    """The node-throughput pipeline on a 64 MiB executor-generated blob:
    bytes conserved, planted 1 MiB-block duplicates detected (block seeds
    cycle through a pool of 37, so dedup must land well below 1), chunk
    count consistent with the 16 KiB expected size."""
    from cdc_algorithms_spark.operators.dedup import dedup_stats
    from cdc_algorithms_spark.operators.distributed import chunk_segments
    from cdc_algorithms_spark.sources.synthetic import synthetic_blob_segments

    total = 64 << 20
    segs = synthetic_blob_segments(
        spark, total, segment_len=8 << 20, overlap=16384 - 256, seed=11
    )
    row = dedup_stats(chunk_segments(segs, "ae", 16384), key_col="hash").first()
    assert row["total_bytes"] == total
    # fully-unique content would give exactly 1.0; the planted repeats
    # (64 blocks over 37 seeds) must pull it measurably below
    assert 0.1 < row["dedup_coeff"] < 0.9
    assert total // (16384 * 8) < row["n_chunks"] < total // (16384 // 8)
    # determinism: same seed → same stats
    segs2 = synthetic_blob_segments(
        spark, total, segment_len=8 << 20, overlap=16384 - 256, seed=11
    )
    row2 = dedup_stats(chunk_segments(segs2, "ae", 16384), key_col="hash").first()
    assert row.asDict() == row2.asDict()


def test_slow_ramp_first_chunk_spans_many_segments(spark):
    """Adversarial long-chunk input: a ramp that raises the running max
    within every window keeps AE cut-free for ~window·255 bytes, so the
    first chunk spans multiple 4 KiB segments whose scans emit no owned
    cuts — every one ships its whole range as a piece and Phase C must
    reassemble the cross-segment chunk bit-exactly."""
    from cdc_algorithms_spark.chunkers.fast import ae_cuts as _ae_cuts
    from cdc_algorithms_spark.operators.distributed import parallel_chunk_blob

    data = bytes(min(255, i // 60) for i in range(50_000))
    p = AeParams.make(320, window_size=64)
    first_cut = _ae_cuts(data, p)[0]
    assert first_cut > 3 * 4_096  # premise: chunk 0 crosses ≥3 segments

    blobs = spark.createDataFrame([(7, data)], "src_id long, content binary")
    rows = sorted(
        parallel_chunk_blob(
            blobs, "ae", 320, segment_len=4_096, window_size=64
        ).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert sum(r["length"] for r in rows) == len(data)
    head = rows[0]
    assert (head["offset"], head["length"]) == (0, first_cut + 1)
    expect = (
        spark.createDataFrame([(data[: first_cut + 1],)], "b binary")
        .select(F.xxhash64("b"))
        .first()[0]
    )
    assert head["hash"] == expect
    # merge invariant: interior boundaries ≥ window apart
    ends = [r["offset"] + r["length"] - 1 for r in rows]
    assert all(b - a >= 64 for a, b in zip(ends, ends[1:-1]))


def test_ramp_blob_cuts_cross_check(spark):
    """Sawtooth input: dense deterministic cuts; distributed pipeline ==
    sequential chunker on the whole buffer, segment geometry varied."""
    from cdc_algorithms_spark.chunkers.fast import ae_cuts
    from cdc_algorithms_spark.chunkers.params import AeParams
    from cdc_algorithms_spark.operators.distributed import parallel_chunk_blob

    data = bytes((i % 251) for i in range(40_000))
    p = AeParams.make(320, window_size=64)
    seq_cuts = ae_cuts(data, p)
    blobs = spark.createDataFrame([(1, data)], "src_id long, content binary")
    for seg_len in (4_096, 10_000, 64_000):
        rows = parallel_chunk_blob(
            blobs, "ae", 320, segment_len=seg_len, window_size=64
        ).collect()
        assert sum(r["length"] for r in rows) == len(data)
        dist_ends = sorted(r["offset"] + r["length"] - 1 for r in rows)
        # seam merge may drop cuts closer than window to a seam-kept cut,
        # but every distributed boundary must be a sequential cut, and
        # they must agree except near seams (<= 1 divergence per seam)
        assert set(dist_ends) <= set(seq_cuts)
        n_seams = (len(data) - 1) // seg_len
        assert len(set(seq_cuts) - set(dist_ends)) <= n_seams


def test_ordinal_modes_agree_and_unused_ordinals_pruned(spark, blob, blob_df):
    """chunk_idx from the scalable two-phase prefix count ('bucketed',
    default) must equal the per-blob window ordinal exactly — blob
    length here spans multiple ordinal buckets (bucket width =
    expected_size·1024 = 320 KiB at expected 320, segment 16 KiB), so
    the cross-bucket base offsets are actually exercised. When
    chunk_idx is not selected, the bucketed ordinal sub-DAG must be
    pruned (its bases join back with a left join on unique keys) and
    the row count must not change."""
    from cdc_algorithms_spark import plans as P

    kwargs = dict(algo="ae", expected_size=320, segment_len=16384)
    bucketed = parallel_chunk_blob(blob_df, ordinals="bucketed", **kwargs)
    windowed = parallel_chunk_blob(blob_df, ordinals="window", **kwargs)
    b = {r["offset"]: r["chunk_idx"] for r in bucketed.collect()}
    w = {r["offset"]: r["chunk_idx"] for r in windowed.collect()}
    assert b == w and sorted(b.values()) == list(range(len(b)))

    unused = bucketed.select("src_id", "offset", "length", "hash")
    assert unused.count() == len(b)
    assert not P.window_partition_columns(unused)
    # only the Phase-C piece-reassembly join remains
    assert P.broadcast_join_count(unused) + P.sort_merge_join_count(unused) == 1


def test_stats_route_plan_has_no_ordinal_machinery(spark):
    """Dedup stats never read chunk_idx, so neither the registered
    stats queries nor the public chunk_files → dedup_stats path may
    carry the ordinal join/window: only the Phase-C piece-reassembly
    join and the dedup aggregates."""
    from cdc_algorithms_spark import api
    from cdc_algorithms_spark import plans as P
    from cdc_algorithms_spark.queries import SPARK_QUERIES
    from tests.conftest import SF_DIR as sf

    for df in (
        SPARK_QUERIES["parallel_ae_dedup_stats"](spark, sf),
        api.dedup_stats(
            api.chunk_files(
                spark, f"{sf}/*.parquet", "ae", 4096, segment_len=262144
            ),
            key_col="hash",
        ),
    ):
        assert not P.window_partition_columns(df)
        assert P.broadcast_join_count(df) + P.sort_merge_join_count(df) <= 1
        assert P.exchange_count(df) <= 8
    api.release_probe_frames()


def test_kernel_xxh64_equals_spark_xxhash64(spark):
    """The compiled XXH64 is Spark's ``xxhash64`` on binary, on every
    branch length (empty, tails, lanes, stripes, long) — so a chunk hashed
    in the scan kernel and one reassembled and hashed in the JVM share
    one identity. Non-empty lengths matter: a kernel reading a dangling
    buffer still hashes the empty input right."""
    import numpy as np

    from cdc_algorithms_spark.chunkers import native
    from tests.test_property_chunkers import XXH_LENGTHS

    rng = np.random.default_rng(3)
    blobs = [rng.integers(0, 256, n, dtype=np.uint8).tobytes() for n in XXH_LENGTHS]
    got = [native.xxh64_native(np.frombuffer(b, np.uint8)) for b in blobs]
    if got[0] is None:
        pytest.skip("no system compiler — the reference XXH64 is the only path")
    rows = (
        spark.createDataFrame(list(enumerate(blobs)), "i int, b binary")
        .select("i", F.xxhash64("b").alias("h"))
        .collect()
    )
    expect = [h for _, h in sorted((r["i"], r["h"]) for r in rows)]
    assert got == expect


def test_file_and_text_chunks_share_chunk_ids(spark, blob, tmp_path):
    """Same bytes, same id: ``api.chunk_files`` (kernel-hashed done chunks,
    JVM-hashed seam chunks) and ``api.chunk`` + ``with_chunk_hash`` over
    the same ASCII text give every shared span the same hash."""
    from cdc_algorithms_spark import api
    from cdc_algorithms_spark.operators.chunking import with_chunk_hash

    path = tmp_path / "corpus.txt"
    path.write_bytes(blob)
    files = {
        (r["offset"], r["length"]): r["hash"]
        for r in api.chunk_files(
            spark, str(path), "ae", 320, segment_len=8192
        ).collect()
    }
    docs = spark.createDataFrame(
        [(0, blob.decode("ascii"))], "doc_id long, text string"
    )
    text = {
        (r["offset"], r["length"]): r["hash"]
        for r in with_chunk_hash(api.chunk(docs, "ae", 320)).collect()
    }
    common = set(files) & set(text)
    # the head chunk ends at segment 0's first owned cut, so Phase C
    # reassembles it; the chunks past a segment's 2nd cut are kernel-hashed
    head = min(text)
    assert head in common and len(common) >= 0.8 * len(text)
    for span in common:
        assert files[span] == text[span], f"hash mismatch at {span}"
    api.release_probe_frames()
