"""storeio: the shared durable-store compaction/manifest machinery.

The *_delta layout's manifest semantics are pinned store-by-store
(tests/test_retrieval.py, tests/test_ann_streaming.py); this file pins
the generic epoch-SUBDIR form (seed + batch_<id>) that
streaming/sync.py-family stores use, including the one failure mode
unique to that layout: an at-least-once replay re-creating a batch
subdirectory AFTER a compaction folded it.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F  # noqa: F401

from cdc_algorithms_spark.operators.storeio import (
    compact_epoch_store,
    live_generation_dirs as _list_store_subdirs,
    read_folded_epochs,
)


def _write_epochs(spark, store, epochs):
    for name, vals in epochs.items():
        spark.createDataFrame(
            [(name, v) for v in vals], "origin string, v long"
        ).write.mode("overwrite").parquet(f"{store}/{name}")


def _rows(spark, store):
    dirs = _list_store_subdirs(spark, store, exclude="")
    return sorted(
        tuple(r) for r in spark.read.parquet(*dirs).collect()
    )


def test_compact_epoch_store_folds_and_preserves(spark, tmp_path):
    store = str(tmp_path / "store")
    _write_epochs(
        spark,
        store,
        {"seed": [1, 2], "batch_0": [3], "batch_1": [4, 5]},
    )
    before = _rows(spark, store)
    assert compact_epoch_store(spark, store)
    # one live generation named seed; manifest retires the batch names
    assert _list_store_subdirs(spark, store, exclude="") == [
        f"file:{store}/seed"
    ] or _list_store_subdirs(spark, store, exclude="")[0].endswith("/seed")
    assert len(_list_store_subdirs(spark, store, exclude="")) == 1
    assert read_folded_epochs(spark, store) == {"batch_0", "batch_1"}
    assert _rows(spark, store) == before
    # compacting a single-generation store is a no-op
    assert not compact_epoch_store(spark, store)
    assert _rows(spark, store) == before


def test_compact_epoch_store_replay_after_fold_is_dead(spark, tmp_path):
    """THE hole the manifest closes for this layout: batch_0 is folded
    into seed, then an at-least-once replay re-creates batch_0 — every
    reader must skip it (its rows already live in seed), and the next
    compaction garbage-collects the corpse."""
    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1], "batch_0": [2, 3]})
    before = _rows(spark, store)
    assert compact_epoch_store(spark, store)
    # the replay: batch_0 reappears with identical content
    _write_epochs(spark, store, {"batch_0": [2, 3]})
    assert _rows(spark, store) == before  # NOT double-counted
    # next compaction: nothing live to fold, corpse GC'd
    assert not compact_epoch_store(spark, store)
    assert not os.path.exists(f"{store}/batch_0")
    assert _rows(spark, store) == before


def test_gc_folded_epochs_spares_unlisted_epochs(spark, tmp_path):
    """The concurrent-extend guarantee: post-install GC deletes ONLY
    manifest-folded epochs — an epoch landed after the compactor's
    listing (so absent from the manifest) must survive as live."""
    from cdc_algorithms_spark.operators.storeio import (
        gc_folded_epochs,
        live_epoch_dirs,
        write_folded_epochs,
    )

    base = str(tmp_path / "counts")
    delta = str(tmp_path / "counts_delta")
    spark.createDataFrame([(1,)], "v long").write.parquet(base)
    for name in ("epoch_0", "epoch_7"):
        spark.createDataFrame([(2,)], "v long").write.parquet(
            f"{delta}/{name}"
        )
    write_folded_epochs(spark, base, {"epoch_0"})  # 7 landed concurrently
    gc_folded_epochs(spark, delta, base)
    assert not os.path.exists(f"{delta}/epoch_0")
    assert os.path.exists(f"{delta}/epoch_7")
    live = live_epoch_dirs(spark, delta, base)
    assert len(live) == 1 and live[0].endswith("epoch_7")


def test_compact_epoch_store_rescues_concurrent_extend(spark, tmp_path):
    """An epoch directory a writer lands between the compactor's listing
    and its park rename travels with the parked root — it must be
    rescued into the installed store as LIVE (it is not in the
    manifest), not swallowed and deleted. Simulated by planting the
    late epoch inside __compact_old exactly as the park rename would
    leave it, then exercising the post-install rescue path directly."""
    from cdc_algorithms_spark.operators import storeio

    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1], "batch_0": [2]})

    # monkeypatch-free simulation: run the real compaction but inject
    # the concurrent epoch into the parked root by wrapping fs.rename —
    # simpler: plant the epoch right before calling, via a rename hook
    # on the module's _fs_and_path. Instead we replay the exact window:
    # list → stage → park → (concurrent write lands in parked root,
    # because on a rename-based FS the writer's path moved with the
    # root) → install → rescue.
    orig = storeio._fs_and_path
    state = {"parked": False}

    def hooked(sp, p):
        fs, path = orig(sp, p)

        class FS:
            def __getattr__(self, a):
                return getattr(fs, a)

            def rename(self, src, dst):
                ok = fs.rename(src, dst)
                if ok and str(dst).endswith("__compact_old") and not state["parked"]:
                    state["parked"] = True
                    spark.createDataFrame(
                        [("batch_9", 99)], "origin string, v long"
                    ).write.parquet(f"{store}__compact_old/batch_9")
                return ok

        return FS(), path

    storeio._fs_and_path = hooked
    try:
        folded = storeio.compact_epoch_store(spark, store)
    finally:
        storeio._fs_and_path = orig
    assert folded == 2
    # the concurrent epoch was rescued, is live, and is readable
    assert os.path.isdir(f"{store}/batch_9")
    assert "batch_9" not in read_folded_epochs(spark, store)
    rows = _rows(spark, store)
    assert ("batch_9", 99) in rows and len(rows) == 3
    assert not os.path.exists(f"{store}__compact_old")
    # and the next compaction folds it normally
    assert storeio.compact_epoch_store(spark, store) == 2
    assert "batch_9" in read_folded_epochs(spark, store)
    assert sorted(_rows(spark, store)) == rows


def test_compact_epoch_store_installs_into_recreated_root(spark, tmp_path):
    """A writer recreating the root between the park rename and the
    install rename used to make rename(tmp, root) NEST the staged store
    inside the live root (Hadoop rename-into-existing-dir semantics).
    Now the staged children are installed INTO the recreated root and
    the writer's fresh epoch stays live."""
    from cdc_algorithms_spark.operators import storeio

    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1], "batch_0": [2]})

    orig = storeio._fs_and_path
    state = {"parked": False}

    def hooked(sp, p):
        fs, path = orig(sp, p)

        class FS:
            def __getattr__(self, a):
                return getattr(fs, a)

            def rename(self, src, dst):
                ok = fs.rename(src, dst)
                if ok and str(dst).endswith("__compact_old") and not state["parked"]:
                    state["parked"] = True
                    # the concurrent writer recreates the root with a
                    # fresh epoch while the root is absent
                    spark.createDataFrame(
                        [("batch_9", 99)], "origin string, v long"
                    ).write.parquet(f"{store}/batch_9")
                return ok

        return FS(), path

    storeio._fs_and_path = hooked
    try:
        folded = storeio.compact_epoch_store(spark, store)
    finally:
        storeio._fs_and_path = orig
    assert folded == 2
    # no nesting: the compacted seed and manifest sit in the root,
    # next to the writer's live epoch
    assert os.path.isdir(f"{store}/seed")
    assert not os.path.exists(f"{store}/store__compact_tmp")
    assert read_folded_epochs(spark, store) == {"batch_0"}
    rows = _rows(spark, store)
    assert ("batch_9", 99) in rows and len(rows) == 3


def test_compact_epoch_store_failed_install_rolls_back(spark, tmp_path):
    """A FAILED install rename (not a crash) must roll the parked root
    back into place: probes keep working, nothing is lost, and the next
    compaction attempt succeeds normally."""
    import pytest

    from cdc_algorithms_spark.operators import storeio

    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1], "batch_0": [2]})
    before = _rows(spark, store)

    orig = storeio._fs_and_path
    state = {"failed": False}

    def hooked(sp, p):
        fs, path = orig(sp, p)

        class FS:
            def __getattr__(self, a):
                return getattr(fs, a)

            def rename(self, src, dst):
                if str(src).endswith("__compact_tmp") and not state["failed"]:
                    state["failed"] = True
                    return False
                return fs.rename(src, dst)

        return FS(), path

    storeio._fs_and_path = hooked
    try:
        with pytest.raises(IOError, match="rolled back"):
            storeio.compact_epoch_store(spark, store)
    finally:
        storeio._fs_and_path = orig
    # the store is back, intact and live
    assert os.path.isdir(f"{store}/seed") and os.path.isdir(f"{store}/batch_0")
    assert _rows(spark, store) == before
    # and the next (unhooked) compaction succeeds
    assert storeio.compact_epoch_store(spark, store) == 2
    assert _rows(spark, store) == before


def test_install_staged_store_failed_install_rolls_back(spark, tmp_path):
    """install_staged_store: when the install rename fails (simulated
    by a missing staged store — a natural failure, no hook needed), the
    parked {kind}_old must be renamed back so probes keep working."""
    import pytest

    from cdc_algorithms_spark.operators import storeio

    path = str(tmp_path)
    spark.createDataFrame([(1,)], "v long").write.parquet(f"{path}/counts")
    # no {path}/counts_tmp staged → the install rename must fail
    with pytest.raises(IOError, match="rolled back"):
        storeio.install_staged_store(spark, path, ["counts"])
    assert os.path.isdir(f"{path}/counts")
    assert spark.read.parquet(f"{path}/counts").count() == 1
    assert not os.path.exists(f"{path}/counts_old")


def test_compact_epoch_store_new_batches_keep_folding(spark, tmp_path):
    """Epoch ids advance past a compaction: batch_2 arriving after the
    fold is live, reads union it, and a second compaction folds it in
    while the manifest accumulates."""
    store = str(tmp_path / "store")
    _write_epochs(spark, store, {"seed": [1], "batch_0": [2]})
    assert compact_epoch_store(spark, store)
    _write_epochs(spark, store, {"batch_2": [9]})
    rows = _rows(spark, store)
    assert (("batch_2", 9) in rows) and len(rows) == 3
    assert compact_epoch_store(spark, store)
    assert read_folded_epochs(spark, store) == {"batch_0", "batch_2"}
    assert _rows(spark, store) == rows
