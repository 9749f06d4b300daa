"""Streaming maintenance of the durable IVF-PQ index
(operators/similarity.py::extend_pq_index + streaming/ann_index.py).

Pins the convergence contract (streamed == one-shot, batching-invariant
— encoding is a pure function of the frozen model), replay idempotence
of the epoch deltas, static cell pruning through base + delta scans,
and the driver-check oracle at two SFs.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.similarity import (
    extend_pq_index,
    pq_topk_indexed,
    read_pq_index,
    write_pq_index,
)
from cdc_algorithms_spark.streaming.ann_index import run_streaming_pq_index

from tests.conftest import SF_DIR
from tests.oracle import compare_with_oracle


def test_streaming_pq_index_matches_oracle(spark):
    compare_with_oracle(spark, "streaming_pq_index", SF_DIR)


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _queries(spark):
    return _emb(spark).where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _probe_rows(spark, path):
    idx = read_pq_index(spark, path)
    return sorted(
        tuple(r)
        for r in pq_topk_indexed(
            _queries(spark), idx, _emb(spark), k=5, nprobe=6, rerank=6
        ).collect()
    )


def test_streamed_equals_one_shot_and_covers_all(spark, tmp_path):
    """2-epoch streamed extension == single-epoch extension == the same
    rows, bit-identical: encoding depends only on the frozen model, so
    micro-batching cannot change the index contents."""
    emb = _emb(spark)
    seed = emb.where(F.col("vec_id") % 3 != 0)
    rest = emb.where(F.col("vec_id") % 3 == 0).select("vec_id", "embedding")
    stages = [
        rest.where(F.col("vec_id") % 2 == 0),
        rest.where(F.col("vec_id") % 2 == 1),
    ]

    streamed = str(tmp_path / "streamed")
    run_streaming_pq_index(spark, seed, stages, streamed)
    oneshot = str(tmp_path / "oneshot")
    write_pq_index(seed, oneshot)
    extend_pq_index(spark, oneshot, rest, epoch=0)

    assert _probe_rows(spark, streamed) == _probe_rows(spark, oneshot)

    # the extended index holds exactly one code per corpus vector
    codes = read_pq_index(spark, streamed).codes
    assert codes.count() == emb.count()
    assert codes.select("vec_id").distinct().count() == emb.count()


def test_extend_replay_is_idempotent(spark, tmp_path):
    emb = _emb(spark)
    seed = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "idx")
    write_pq_index(seed, path)
    extend_pq_index(spark, path, batch, epoch=1)
    first = sorted(
        tuple(r) for r in read_pq_index(spark, path).codes.collect()
    )
    extend_pq_index(spark, path, batch, epoch=1)  # at-least-once replay
    assert (
        sorted(tuple(r) for r in read_pq_index(spark, path).codes.collect())
        == first
    )


def test_probe_prunes_base_and_delta_scans(spark, tmp_path):
    """Every codes scan — base AND epoch deltas — must carry a cell
    partition filter; the probe never reads a non-probed cell from any
    generation of the index."""
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("vec_id") % 3 != 0), path)
    extend_pq_index(
        spark, path, emb.where(F.col("vec_id") % 3 == 0), epoch=0
    )
    idx = read_pq_index(spark, path)
    probe = pq_topk_indexed(
        _queries(spark), idx, emb, k=5, nprobe=2, rerank=4
    )
    probe.collect()
    # formatted explain: per-scan sections with UNCLIPPED Location /
    # PartitionFilters lines (toString truncates long paths mid-line)
    from cdc_algorithms_spark import plans as P

    plan = P.physical_plan(probe, "formatted")
    sections = plan.split("\n\n")
    code_scans = [
        s
        for s in sections
        if "Scan parquet" in s and str(tmp_path) in s and "/codes" in s
    ]
    delta_scans = [s for s in code_scans if "codes_delta" in s]
    assert delta_scans and len(code_scans) > len(delta_scans)
    unpruned = [
        s[:300]
        for s in code_scans
        if "PartitionFilters" not in s or "cell" not in s
    ]
    assert not unpruned, f"codes scans without cell pruning: {unpruned}"


def test_extend_never_trains(spark, tmp_path, monkeypatch):
    """The streaming extension must be training-free: Lloyd iteration
    (kmeans_centroids / pq_codebooks) is monkeypatched to raise."""
    from cdc_algorithms_spark.operators import similarity as sim

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("vec_id") % 3 != 0), path)

    def boom(*a, **k):
        raise AssertionError("training ran during extend/probe")

    monkeypatch.setattr(sim, "kmeans_centroids", boom)
    monkeypatch.setattr(sim, "pq_codebooks", boom)
    extend_pq_index(
        spark, path, emb.where(F.col("vec_id") % 3 == 0), epoch=0
    )
    idx = read_pq_index(spark, path)
    assert (
        pq_topk_indexed(_queries(spark), idx, emb, k=5).count() > 0
    )


def test_compact_pq_index_folds_deltas(spark, tmp_path):
    """compact_pq_index merges every epoch delta into the base store:
    probe results are bit-identical before/after, the codes row set is
    unchanged, and the delta directory is gone (probe plans drop back
    to one scan generation)."""
    from cdc_algorithms_spark.operators.similarity import compact_pq_index

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("vec_id") % 3 != 0), path)
    third = emb.where(F.col("vec_id") % 3 == 0)
    extend_pq_index(spark, path, third.where(F.col("vec_id") % 2 == 0), 0)
    extend_pq_index(spark, path, third.where(F.col("vec_id") % 2 == 1), 1)
    before_rows = _probe_rows(spark, path)
    before_codes = sorted(
        tuple(r) for r in read_pq_index(spark, path).codes.collect()
    )
    compact_pq_index(spark, path)
    # folded epochs are GC'd individually (never the whole delta root —
    # a concurrent extend's fresh epoch must survive a compaction)
    assert os.listdir(os.path.join(path, "codes_delta")) == []
    assert not os.path.exists(os.path.join(path, "codes_old"))
    assert (
        sorted(tuple(r) for r in read_pq_index(spark, path).codes.collect())
        == before_codes
    )
    assert _probe_rows(spark, path) == before_rows
    # compacting a delta-free store is a no-op
    compact_pq_index(spark, path)
    assert _probe_rows(spark, path) == before_rows


def test_compact_pq_crash_window_no_double_count(spark, tmp_path):
    """storeio manifest contract for the PQ store: folded epoch deltas
    left behind by a crash between the install rename and the delta
    delete are skipped by probes (no duplicated codes), and the next
    compaction garbage-collects them."""
    import shutil

    from cdc_algorithms_spark.operators.similarity import compact_pq_index

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("vec_id") % 3 != 0), path)
    extend_pq_index(spark, path, emb.where(F.col("vec_id") % 3 == 0), 0)
    before_rows = _probe_rows(spark, path)
    before_codes = sorted(
        tuple(r) for r in read_pq_index(spark, path).codes.collect()
    )
    shutil.copytree(f"{path}/codes_delta", f"{path}/codes_crash")
    compact_pq_index(spark, path)
    shutil.rmtree(f"{path}/codes_delta", ignore_errors=True)
    shutil.move(f"{path}/codes_crash", f"{path}/codes_delta")
    # epoch_0 is in the manifest: probes skip it — codes NOT duplicated
    assert (
        sorted(tuple(r) for r in read_pq_index(spark, path).codes.collect())
        == before_codes
    )
    assert _probe_rows(spark, path) == before_rows
    # next compaction GCs the dead epoch directory
    compact_pq_index(spark, path)
    assert os.listdir(os.path.join(path, "codes_delta")) == []
    assert _probe_rows(spark, path) == before_rows


def test_pq_drift_report_lifecycle(spark, tmp_path):
    """The DETECT half of the ANN maintenance loop (pq_drift_report):
    a fresh store reports zero streamed evidence; an encode-only epoch
    from cluster geometry the codebooks never saw reports mean error
    strictly above the seed's (drift_ppm > 1e6 overall); replaying the
    epoch changes nothing (idempotent stats); the policy verb rebuilds
    over threshold and the rebuilt store is evidence-free again."""
    from cdc_algorithms_spark.operators.similarity import (
        pq_drift_report,
        rebuild_pq_index_if_drifted,
    )

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("label") < 5), path)
    fresh = pq_drift_report(spark, path).collect()
    assert fresh and all(r["n_new"] == 0 for r in fresh)
    assert all(r["drift_ppm"] is None for r in fresh)
    assert sum(r["n_seed"] for r in fresh) == emb.where("label < 5").count()

    shifted = emb.where(F.col("label") >= 5).select("vec_id", "embedding")
    extend_pq_index(spark, path, shifted, epoch=0)
    drifted = pq_drift_report(spark, path).collect()
    tot = {c: sum(r[c] for r in drifted) for c in
           ("n_seed", "err_seed_q", "n_new", "err_new_q")}
    assert tot["n_new"] == emb.where("label >= 5").count()
    ppm = (tot["err_new_q"] * tot["n_seed"] * 1_000_000) // (
        tot["err_seed_q"] * tot["n_new"]
    )
    assert ppm > 1_000_000, f"unseen clusters must code worse, got {ppm}"

    extend_pq_index(spark, path, shifted, epoch=0)  # at-least-once replay
    replay = pq_drift_report(spark, path).collect()
    assert sorted(map(tuple, replay)) == sorted(map(tuple, drifted))

    # below the error threshold (skew path disabled by an impossible
    # floor — it is exercised by test_pq_rebuild_triggers_on_cell_collapse):
    # byte-untouched, returns False
    assert not rebuild_pq_index_if_drifted(
        spark, path, emb, max_ppm=ppm + 1, skew_floor_ppm=1_000_001
    )
    assert sorted(map(tuple, pq_drift_report(spark, path).collect())) == \
        sorted(map(tuple, drifted))
    # at threshold: rebuild runs, evidence cleared, corpus conserved
    assert rebuild_pq_index_if_drifted(
        spark, path, emb, max_ppm=ppm, skew_floor_ppm=1_000_001
    )
    rebuilt = pq_drift_report(spark, path).collect()
    assert all(r["n_new"] == 0 for r in rebuilt)
    assert sum(r["n_seed"] for r in rebuilt) == emb.count()
    assert read_pq_index(spark, path).codes.count() == emb.count()


def test_pq_rebuild_triggers_on_cell_collapse(spark, tmp_path):
    """The SECOND drift mode (the §19a geometry): a tight displaced
    cluster codes with LOW absolute error — the error-ratio trigger
    stays silent — but the coarse quantizer funnels ~all of it into
    one cell and ADC ordering degenerates. The occupancy-skew trigger
    must fire exactly here, and must NOT fire for a same-distribution
    stream (whose cell shares match the seed's)."""
    import random

    from cdc_algorithms_spark.operators.similarity import (
        pq_drift_report,
        rebuild_pq_index_if_drifted,
    )

    dim = 64

    def uniform(i):
        r = random.Random(7_000_000 + i)
        return [r.uniform(-1.0, 1.0) for _ in range(dim)]

    shift = [2.5 / (dim ** 0.5)] * dim  # displaced, outside base support

    def tight(i):
        r = random.Random(11_000_000 + i)
        return [s + 0.1 * r.uniform(-1, 1) for s in shift]

    seed_df = spark.createDataFrame(
        [(i, uniform(i)) for i in range(400)],
        "vec_id long, embedding array<double>",
    )

    # store A — same-distribution stream: neither trigger fires (its
    # cell shares match the seed's)
    path_a = str(tmp_path / "same")
    write_pq_index(seed_df, path_a, dim=dim, m=8, ksub=8, nlist=8, iters=1)
    same = spark.createDataFrame(
        [(1000 + i, uniform(100_000 + i)) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    extend_pq_index(spark, path_a, same, epoch=0)
    assert not rebuild_pq_index_if_drifted(spark, path_a, seed_df)

    # store B — tight displaced cluster: error DEFLATES (ratio < 1e6)
    # but occupancy collapses into ~one cell; the skew trigger fires
    path_b = str(tmp_path / "collapse")
    write_pq_index(seed_df, path_b, dim=dim, m=8, ksub=8, nlist=8, iters=1)
    shifted = spark.createDataFrame(
        [(2000 + i, tight(i)) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    extend_pq_index(spark, path_b, shifted, epoch=0)
    rows = pq_drift_report(spark, path_b).collect()
    nn = sum(r["n_new"] for r in rows)
    ns = sum(r["n_seed"] for r in rows)
    en = sum(r["err_new_q"] for r in rows)
    es = sum(r["err_seed_q"] for r in rows)
    assert (en * ns * 1_000_000) // (es * nn) < 1_000_000, (
        "the planted geometry must DEFLATE error — else this test "
        "stops exercising the skew path"
    )
    new_top = max(r["n_new"] for r in rows) * 1_000_000 // nn
    assert new_top >= 250_000, f"collapse not planted (top {new_top} ppm)"
    full = seed_df.unionByName(shifted)
    assert rebuild_pq_index_if_drifted(spark, path_b, full)
    assert all(
        r["n_new"] == 0 for r in pq_drift_report(spark, path_b).collect()
    )


def test_pq_drift_ratio_is_integer_exact(spark, tmp_path):
    """drift_ppm must be the exact floor of the cross-multiplied BIGINT
    ratio (DECIMAL(38,0) arithmetic, no float division) — recomputed
    row-by-row in Python integers."""
    from cdc_algorithms_spark.operators.similarity import pq_drift_report

    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("label") < 5), path)
    extend_pq_index(
        spark, path,
        emb.where(F.col("label") >= 5).select("vec_id", "embedding"),
        epoch=0,
    )
    for r in pq_drift_report(spark, path).collect():
        if r["n_new"] > 0 and r["n_seed"] > 0 and r["err_seed_q"] > 0:
            expect = (r["err_new_q"] * r["n_seed"] * 1_000_000) // (
                r["err_seed_q"] * r["n_new"]
            )
            assert r["drift_ppm"] == expect
        else:
            assert r["drift_ppm"] is None


def test_run_streaming_pq_index_validates_stages(spark, tmp_path):
    with pytest.raises(ValueError, match="at least one batch stage"):
        run_streaming_pq_index(
            spark, _emb(spark), [], str(tmp_path / "idx")
        )


def test_epoch_dirs_are_cell_partitioned(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("vec_id") % 3 != 0), path)
    extend_pq_index(
        spark, path, emb.where(F.col("vec_id") % 3 == 0), epoch=4
    )
    delta = os.path.join(path, "codes_delta", "epoch=4")
    assert os.path.isdir(delta)
    assert any(d.startswith("cell=") for d in os.listdir(delta))


# --- rebuild_pq_index: the codebook-drift refresh ---------------------------


def test_rebuild_check_matches_oracle(spark):
    compare_with_oracle(spark, "ann_pq_rebuild_check", SF_DIR)


def test_rebuild_equals_fresh_build_and_subsumes_deltas(spark, tmp_path):
    """rebuild_pq_index ≡ write_pq_index on the current corpus with the
    same params/seed — bit-identical model and codes — and the staged
    swap drops every delta generation (a rebuild is also the deepest
    compaction). Counts conserve: one code per corpus vector."""
    from cdc_algorithms_spark.operators.similarity import rebuild_pq_index

    emb = _emb(spark)
    drifted = str(tmp_path / "drifted")
    fresh = str(tmp_path / "fresh")
    write_pq_index(emb.where(F.col("label") < 5), drifted, dim=64, nlist=16)
    extend_pq_index(
        spark, drifted,
        emb.where(F.col("label") >= 5).select("vec_id", "embedding"),
        epoch=0,
    )
    n_corpus = emb.count()
    assert read_pq_index(spark, drifted).codes.count() == n_corpus

    rebuild_pq_index(spark, drifted, emb, seed=43)
    # delta dirs are gone; parked/staging siblings cleaned up
    assert not os.path.exists(f"{drifted}/codes_delta")
    assert not os.path.exists(f"{drifted}__rebuild_tmp")
    assert not os.path.exists(f"{drifted}__rebuild_old")

    write_pq_index(emb, fresh, dim=64, nlist=16, seed=43)
    a = sorted(
        tuple(r)
        for r in read_pq_index(spark, drifted).codes.select(
            "vec_id", "cell", "code"
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in read_pq_index(spark, fresh).codes.select(
            "vec_id", "cell", "code"
        ).collect()
    )
    assert a == b and len(a) == n_corpus
    # probes through both stores return identical rows
    assert _probe_rows(spark, drifted) == _probe_rows(spark, fresh)


def test_rebuild_carries_structural_params(spark, tmp_path):
    """dim/m/ksub/nlist carry over from the live model so probe plans
    keep their shape; the refreshed model differs only in the learned
    centroids/codebooks."""
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("label") < 5), path, dim=64, m=8,
                   ksub=16, nlist=16)
    from cdc_algorithms_spark.operators.similarity import rebuild_pq_index

    rebuild_pq_index(spark, path, emb)
    idx = read_pq_index(spark, path)
    assert (idx.dim, idx.m, idx.ksub, len(idx.cents)) == (64, 8, 16, 16)
