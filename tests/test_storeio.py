"""storeio: the shared epoch-store compaction/manifest machinery.

Each store's own fold is pinned store-by-store (tests/test_delta_stores.py,
tests/test_retrieval.py, tests/test_ann_streaming.py); this file pins
``compact_delta_store`` itself on a one-kind store in the shape of the
streaming loops (a ``seed`` base plus ``seed_delta/epoch=<id>``
epochs), folded by ``api.compact_stream_store``: rows preserved, an
at-least-once replay of a folded epoch dead, epochs after a fold still
folding, an epoch landing mid-fold still live, and a failed install
rolled back.
"""

from __future__ import annotations

import os

import pytest

from cdc_algorithms_spark import api
from cdc_algorithms_spark.operators import storeio
from cdc_algorithms_spark.operators.storeio import (
    epoch_dir,
    live_epochs,
    read_folded_epochs,
    read_live,
)


def _write_epochs(spark, store, epochs):
    """``"seed"`` writes the base; an int ``n`` writes epoch ``n``."""
    for epoch, vals in epochs.items():
        dest = (
            f"{store}/seed" if epoch == "seed"
            else epoch_dir(spark, store, "seed", epoch)
        )
        spark.createDataFrame(
            [(str(epoch), v) for v in vals], "origin string, v long"
        ).write.mode("overwrite").parquet(dest)


def _rows(spark, store):
    return sorted(tuple(r) for r in read_live(spark, store, "seed").collect())


def test_compact_epoch_store_folds_and_preserves(spark, tmp_path):
    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1, 2], 0: [3], 1: [4, 5]})
    before = _rows(spark, store)
    assert len(before) == 5
    assert api.compact_stream_store(spark, store) == 2
    # the base holds every row; the manifest retires both epochs
    assert live_epochs(spark, store, "seed") == []
    assert read_folded_epochs(spark, f"{store}/seed") == {"epoch=0", "epoch=1"}
    assert _rows(spark, store) == before
    base = spark.read.parquet(f"{store}/seed").collect()
    assert sorted(tuple(r) for r in base) == before
    # compacting a store with no live epoch is a no-op
    assert api.compact_stream_store(spark, store) == 0
    assert _rows(spark, store) == before


def test_compact_epoch_store_replay_after_fold_is_dead(spark, tmp_path):
    """The hole the manifest closes: epoch 0 is folded into the seed,
    then an at-least-once replay re-creates ``epoch=0`` — every reader
    must skip it (its rows already live in the seed), and the next
    compaction garbage-collects the corpse."""
    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1], 0: [2, 3]})
    before = _rows(spark, store)
    assert api.compact_stream_store(spark, store) == 1
    # the replay: epoch 0 reappears with identical content
    _write_epochs(spark, store, {0: [2, 3]})
    assert _rows(spark, store) == before  # NOT double-counted
    # next compaction: nothing live to fold, corpse GC'd
    assert api.compact_stream_store(spark, store) == 0
    assert not os.path.exists(f"{store}/seed_delta/epoch=0")
    assert _rows(spark, store) == before


def test_gc_folded_epochs_spares_unlisted_epochs(spark, tmp_path):
    """The concurrent-extend guarantee: post-install GC deletes ONLY
    manifest-folded epochs — an epoch landed after the compactor's
    listing (so absent from the manifest) must survive as live."""
    from cdc_algorithms_spark.operators.storeio import (
        gc_folded_epochs,
        write_folded_epochs,
    )

    path = str(tmp_path)
    spark.createDataFrame([(1,)], "v long").write.parquet(f"{path}/counts")
    for epoch in (0, 7):
        spark.createDataFrame([(2,)], "v long").write.parquet(
            epoch_dir(spark, path, "counts", epoch)
        )
    write_folded_epochs(spark, f"{path}/counts", {"epoch=0"})  # 7 landed concurrently
    gc_folded_epochs(spark, f"{path}/counts_delta", f"{path}/counts")
    assert not os.path.exists(f"{path}/counts_delta/epoch=0")
    assert os.path.exists(f"{path}/counts_delta/epoch=7")
    assert live_epochs(spark, path, "counts") == [7]


def test_compact_epoch_store_rescues_concurrent_extend(spark, tmp_path):
    """An epoch a writer lands while the fold runs is not in the fold's
    epoch list, so it is not in the manifest: it stays live beside the
    installed base (the delta root is never moved) and the next
    compaction folds it."""
    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1], 0: [2]})

    def fold(live, dest):
        _write_epochs(spark, store, {9: [99]})  # the concurrent extend
        live.write.mode("overwrite").parquet(dest)

    assert storeio.compact_delta_store(spark, store, {"seed": fold}) == 1
    assert live_epochs(spark, store, "seed") == [9]
    assert "epoch=9" not in read_folded_epochs(spark, f"{store}/seed")
    rows = _rows(spark, store)
    assert rows == [("0", 2), ("9", 99), ("seed", 1)]
    # and the next compaction folds it normally
    assert api.compact_stream_store(spark, store) == 1
    assert read_folded_epochs(spark, f"{store}/seed") == {"epoch=0", "epoch=9"}
    assert live_epochs(spark, store, "seed") == []
    assert _rows(spark, store) == rows


def test_compact_epoch_store_failed_install_rolls_back(spark, tmp_path):
    """A FAILED install rename (not a crash) must roll the parked base
    back into place: reads keep working, nothing is lost, and the next
    compaction attempt succeeds normally."""
    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1], 0: [2]})
    before = _rows(spark, store)

    orig = storeio._fs_and_path
    state = {"failed": False}

    def hooked(sp, p):
        fs, path = orig(sp, p)

        class FS:
            def __getattr__(self, a):
                return getattr(fs, a)

            def rename(self, src, dst):
                if str(src).endswith("/seed_tmp") and not state["failed"]:
                    state["failed"] = True
                    return False
                return fs.rename(src, dst)

        return FS(), path

    storeio._fs_and_path = hooked
    try:
        with pytest.raises(IOError, match="rolled back"):
            api.compact_stream_store(spark, store)
    finally:
        storeio._fs_and_path = orig
    # the store is back, intact and live
    assert os.path.isdir(f"{store}/seed")
    assert live_epochs(spark, store, "seed") == [0]
    assert _rows(spark, store) == before
    # and the next (unhooked) compaction succeeds
    assert api.compact_stream_store(spark, store) == 1
    assert _rows(spark, store) == before


def test_install_staged_store_failed_install_rolls_back(spark, tmp_path):
    """install_staged_store: when the install rename fails (simulated
    by a missing staged store — a natural failure, no hook needed), the
    parked {kind}_old must be renamed back so probes keep working."""
    path = str(tmp_path)
    spark.createDataFrame([(1,)], "v long").write.parquet(f"{path}/counts")
    # no {path}/counts_tmp staged → the install rename must fail
    with pytest.raises(IOError, match="rolled back"):
        storeio.install_staged_store(spark, path, ["counts"])
    assert os.path.isdir(f"{path}/counts")
    assert spark.read.parquet(f"{path}/counts").count() == 1
    assert not os.path.exists(f"{path}/counts_old")


def test_compact_epoch_store_new_batches_keep_folding(spark, tmp_path):
    """Epoch ids advance past a compaction: epoch 2 arriving after the
    fold is live, reads include it, and a second compaction folds it in
    while the manifest accumulates."""
    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1], 0: [2]})
    assert api.compact_stream_store(spark, store) == 1
    _write_epochs(spark, store, {2: [9]})
    rows = _rows(spark, store)
    assert ("2", 9) in rows and len(rows) == 3
    assert api.compact_stream_store(spark, store) == 1
    assert read_folded_epochs(spark, f"{store}/seed") == {"epoch=0", "epoch=2"}
    assert _rows(spark, store) == rows
