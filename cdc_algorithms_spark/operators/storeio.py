"""Hadoop-FS policy shared by every durable epoch store.

Two store layouts live here.

* The ``*_delta`` stores: the Jaccard prefix index
  (operators/dedup_docs.py), the BM25 text index
  (operators/retrieval.py), the DSIR count store
  (operators/selection.py) and the PQ codes (operators/similarity.py).
  Each is one or more KINDS, a ``{path}/{kind}`` base plus
  ``{path}/{kind}_delta/epoch_<n>`` extend epochs. This module owns
  their epoch naming (:func:`epoch_dir`), their live read
  (:func:`read_live`), their partitioned writes
  (:func:`write_partitioned`), their bucket meta
  (:func:`adaptive_buckets`, :func:`resolve_buckets`, the JSON sidecars
  of :func:`write_json`) and their compaction
  (:func:`compact_delta_store`); a store keeps only its schema, its
  partition column and its fold.
* The ``seed`` + ``batch_<id>`` generation stores of the streaming
  loops, listed by :func:`live_generation_dirs` and folded by
  :func:`compact_epoch_store`.

Every epoch is read with the schema of its base (or the caller's
schema, :func:`read_epochs`): an EMPTY epoch (a batch with no rows
still writes its directory, keeping replay idempotence uniform) has no
data file to infer a schema from.

The crash window the manifest closes: every compaction stages the
merged store, installs it with a rename, then deletes the now-folded
epoch deltas. A crash BETWEEN the install rename and the delta delete
used to leave both the folded rows (inside the new base) and the live
epoch directories — the next probe would union them and double-count.

Fix: the staged store carries ``_folded_epochs.json`` (a ``_``-prefixed
file, invisible to Spark's parquet reader) listing every epoch directory
it subsumes, written BEFORE the install rename. The install rename is
therefore the single atomic operation that both publishes the folded
rows and retires their deltas: :func:`live_epoch_dirs` consults the
manifest of the CURRENT base and skips listed epochs, so post-install
delta deletion is garbage collection, not correctness. A bonus: an
at-least-once replay that re-writes an epoch AFTER a compaction folded
it is now skipped too, instead of double-counting.

Manifests accumulate (each compaction unions the previous manifest), so
epoch names must never be REUSED for new data after a compaction — the
existing monotonic-epoch contract of the ``extend_*`` writers
(foreachBatch batch ids) already guarantees that.
"""

from __future__ import annotations

import json
import logging
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_LOG = logging.getLogger(__name__)

MANIFEST = "_folded_epochs.json"
# Store-format marker (r12): writers record layout parameters a reader
# or extender MUST agree with (bucket counts, key types) in one small
# JSON beside the store. The text and DSIR stores use this name; the
# Jaccard index keeps its own (dedup_docs.JACCARD_INDEX_META).
STORE_META = "_store_meta.json"


def _fs_and_path(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def read_json(spark: SparkSession, file: str):
    """The JSON value stored at ``file``; None when it does not exist
    (a store that predates the marker)."""
    fs, p = _fs_and_path(spark, file)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def write_json(spark: SparkSession, file: str, value) -> None:
    """Write ``value`` as JSON at ``file`` through the Hadoop FS (the
    local FS keeps ``.crc`` sidecars a plain ``open()`` would stale)."""
    fs, p = _fs_and_path(spark, file)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(value).encode()))
    finally:
        out.close()


def read_folded_epochs(spark: SparkSession, store_dir: str) -> set[str]:
    """Epoch basenames the base store at ``store_dir`` already contains
    (empty set when the store predates manifests or was never
    compacted)."""
    manifest = read_json(spark, f"{store_dir}/{MANIFEST}")
    return set(manifest["folded"]) if manifest else set()


def write_folded_epochs(
    spark: SparkSession, staged_dir: str, folded: set[str]
) -> None:
    """Record ``folded`` epoch basenames inside a STAGED store so the
    install rename publishes rows and manifest in one atomic step."""
    write_json(spark, f"{staged_dir}/{MANIFEST}", {"folded": sorted(folded)})


def adaptive_buckets(n_docs: int, cap: int, per_bucket: int) -> int:
    """A bucket count sized to the corpus (r12): at least ``per_bucket``
    docs per bucket, capped at the store's production count, floor 1.
    The fixed counts made every write and extend of a tiny corpus pay
    one partition directory per bucket — the dominant cost of the
    streaming loops at fixture sizes — for pruning granularity the
    corpus cannot use; at real corpus sizes the cap engages and the
    layout is exactly the fixed one."""
    return max(1, min(int(cap), n_docs // per_bucket))


def resolve_buckets(
    meta: dict | None, context: str, **given: tuple[int | None, int]
) -> tuple[int, ...]:
    """Bucket counts for a store verb, one per ``name=(explicit,
    legacy)`` keyword, in keyword order: the explicit value, else the
    store's recorded meta (the structural writer/prober agreement),
    else the legacy fixed count (marker-less pre-r12 stores). An
    explicit value that CONTRADICTS the record is the silently-wrong
    trap — a probe hashing keys modulo the wrong count prunes the wrong
    directories and misses data — so it fails loudly."""
    meta = meta or {}
    out = []
    for name, (explicit, legacy) in given.items():
        recorded = meta.get(name)
        if explicit is not None and recorded is not None and explicit != recorded:
            raise ValueError(
                f"{context}: {name}={explicit} contradicts the store's "
                f"recorded {name}={recorded} — bucket-pruned reads would "
                "silently miss data. Drop the explicit argument (the "
                "store meta is authoritative) or rebuild the store with "
                "the new count."
            )
        out.append(
            explicit if explicit is not None
            else recorded if recorded is not None
            else legacy
        )
    return tuple(out)


def _subdirs(spark: SparkSession, root_str: str) -> list[tuple[str, str]]:
    """``(name, path)`` of every directory under ``root_str``, sorted by
    path; absent root → []."""
    fs, root = _fs_and_path(spark, root_str)
    if not fs.exists(root):
        return []
    return sorted(
        (
            (st.getPath().getName(), str(st.getPath()))
            for st in fs.listStatus(root)
            if st.isDirectory()
        ),
        key=lambda nd: nd[1],
    )


def live_epoch_dirs(
    spark: SparkSession, delta_root: str, store_dir: str
) -> list[str]:
    """Epoch subdirectories under ``delta_root`` NOT already folded into
    the base store at ``store_dir`` (per its manifest); sorted, absent
    root → []."""
    dirs = _subdirs(spark, delta_root)
    if not dirs:
        return []
    folded = read_folded_epochs(spark, store_dir)
    return [d for name, d in dirs if name not in folded]


def epoch_dir(path: str, kind: str, epoch: int) -> str:
    """Where extend epoch ``epoch`` of ``kind`` lands. Writers overwrite
    it whole, so an at-least-once replay of the epoch is idempotent."""
    return f"{path}/{kind}_delta/epoch_{int(epoch)}"


def _union(spark: SparkSession, base: DataFrame, dirs: list[str]) -> DataFrame:
    for d in dirs:
        base = base.unionByName(spark.read.schema(base.schema).parquet(d))
    return base


def read_live(spark: SparkSession, path: str, kind: str) -> DataFrame:
    """The live ``kind`` of a ``*_delta`` store: the base
    ``{path}/{kind}`` ∪ every epoch under ``{path}/{kind}_delta`` its
    manifest has not folded, each read with the base's schema.
    Partition columns survive the union, so a partition filter on the
    result prunes every branch."""
    return _union(
        spark,
        spark.read.parquet(f"{path}/{kind}"),
        live_epoch_dirs(spark, f"{path}/{kind}_delta", f"{path}/{kind}"),
    )


def read_epochs(spark: SparkSession, path: str, kind: str, schema) -> DataFrame:
    """Every epoch under ``{path}/{kind}_delta``, read with ``schema`` —
    for the per-epoch artifacts that are never compacted (the
    corpus-build deltas, the PQ drift stats), where liveness is just
    existence. No epoch → an empty frame of ``schema``."""
    return _union(
        spark,
        spark.createDataFrame([], schema),
        [
            d
            for name, d in _subdirs(spark, f"{path}/{kind}_delta")
            if name.startswith("epoch_")
        ],
    )


def write_partitioned(
    df: DataFrame, dest: str, part_col: str, sort_col: str | None = None
) -> None:
    """Overwrite ``dest`` partitioned by ``part_col``; ``repartition``
    on it first ⇒ one writer task per directory (no small-file
    explosion). ``sort_col`` orders rows within each partition, so
    parquet row-group min/max stats prune inside a bucket too."""
    df = df.repartition(part_col)
    if sort_col is not None:
        df = df.sortWithinPartitions(sort_col)
    df.write.mode("overwrite").partitionBy(part_col).parquet(dest)


def compact_delta_store(
    spark: SparkSession,
    path: str,
    folds: dict[str, Callable[[DataFrame, str], None]],
) -> None:
    """Fold every live epoch of each ``kind`` in ``folds`` back into its
    base — the OPTIMIZE of a ``*_delta`` store. ``folds[kind](live,
    dest)`` writes the staged store at ``dest`` from the live rows (a
    pure union for immutable rows, a re-aggregation for counts). Each
    staged store carries its manifest (the previous one ∪ the epochs
    folded now), written BEFORE :func:`install_staged_store` swaps it
    in, so a crash at any point leaves an exact, never-double-counting
    store and an epoch a concurrent extend lands mid-compaction
    survives as live. With no live epoch anywhere it only
    garbage-collects crash-deferred folded epochs."""
    dirs = {
        kind: live_epoch_dirs(spark, f"{path}/{kind}_delta", f"{path}/{kind}")
        for kind in folds
    }
    if not any(dirs.values()):
        for kind in folds:
            gc_folded_epochs(spark, f"{path}/{kind}_delta", f"{path}/{kind}")
        return
    for kind, fold in folds.items():
        base = f"{path}/{kind}"
        fold(_union(spark, spark.read.parquet(base), dirs[kind]), f"{base}_tmp")
        write_folded_epochs(
            spark,
            f"{base}_tmp",
            read_folded_epochs(spark, base)
            | {d.rsplit("/", 1)[-1] for d in dirs[kind]},
        )
    install_staged_store(spark, path, list(folds))


def gc_folded_epochs(
    spark: SparkSession, delta_root: str, store_dir: str
) -> None:
    """Delete epoch directories under ``delta_root`` that the base
    store's manifest already records as folded — the cleanup a crash
    between install and delete deferred. Safe at any time: probes skip
    these directories regardless."""
    fs, root = _fs_and_path(spark, delta_root)
    if not fs.exists(root):
        return
    folded = read_folded_epochs(spark, store_dir)
    for st in fs.listStatus(root):
        if st.isDirectory() and st.getPath().getName() in folded:
            fs.delete(st.getPath(), True)


def _try_rename(fs, src, dst) -> bool:
    """Rename that reports failure instead of raising: Hadoop's
    FileSystem contract is a boolean, but RawLocalFileSystem THROWS for
    a missing source (it falls back to a copy that stats the src) — an
    install rename that raises would skip the rollback branch and
    strand the store parked at ``*_old``, the exact failure the
    rollback exists to prevent."""
    try:
        return bool(fs.rename(src, dst))
    except Exception:
        return False


def install_staged_store(
    spark: SparkSession, path: str, kinds: list[str]
) -> None:
    """Install tail of :func:`compact_delta_store`: for each ``kind``,
    park the live ``{path}/{kind}`` at ``{kind}_old``, install
    ``{kind}_tmp`` (whose manifest was written by the caller
    BEFORE this call), then garbage-collect ONLY the manifest-folded
    epochs under ``{kind}_delta`` — never the whole delta root, so an
    epoch a concurrent extend landed after the caller's listing
    survives (it is live: not in the manifest, still probed).

    Crash honesty: no byte is deleted before its replacement is
    installed, and the delta GC is correctness-free (probes skip folded
    epochs via the manifest) — but between the park rename and the
    install rename the store directory is ABSENT, so a crash in that
    instant leaves probes failing path-not-found until the parked
    ``{kind}_old`` is renamed back by hand. A FAILED install rename (as
    opposed to a crash) rolls the parked store back into place before
    raising, so only a crash or a double failure needs manual recovery.
    Every other crash point leaves a readable, never-double-counting
    store."""
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(path).getFileSystem(spark._jsc.hadoopConfiguration())
    for kind in kinds:
        old = P(f"{path}/{kind}_old")
        fs.delete(old, True)
        if not fs.rename(P(f"{path}/{kind}"), old):
            raise IOError(f"could not park the old {kind} store")
        if not _try_rename(fs, P(f"{path}/{kind}_tmp"), P(f"{path}/{kind}")):
            if _try_rename(fs, old, P(f"{path}/{kind}")):
                raise IOError(
                    f"could not install the compacted {kind} store; the"
                    f" previous store was rolled back into place"
                )
            raise IOError(
                f"could not install the compacted {kind} store; live"
                f" data parked at {path}/{kind}_old"
            )
        gc_folded_epochs(spark, f"{path}/{kind}_delta", f"{path}/{kind}")
        fs.delete(old, True)


def _is_generation(name: str) -> bool:
    return name == "seed" or name.startswith("batch_")


def _generations(fs, root) -> list[tuple[str, str]]:
    """``(name, path)`` of every ``seed`` / ``batch_<id>`` directory of
    an epoch-subdir store, sorted by path. Only the names the streaming
    loops write are returned: a stray ``_SUCCESS`` marker or temp
    directory must not end up in a ``read.parquet`` call."""
    return sorted(
        (
            (st.getPath().getName(), str(st.getPath()))
            for st in fs.listStatus(root)
            if st.isDirectory() and _is_generation(st.getPath().getName())
        ),
        key=lambda nd: nd[1],
    )


def live_generation_dirs(
    spark: SparkSession, store_dir: str, exclude: str
) -> list[str]:
    """The live generations of an epoch-subdir store (``seed`` +
    ``batch_<id>``), as sorted paths, minus the one named ``exclude``.
    Listed through the Hadoop FileSystem API, so the streaming sinks
    work against any Spark-supported store path (``hdfs://``,
    ``s3a://``, local). Generations the store's manifest records as
    folded by :func:`compact_epoch_store` are skipped — including a
    folded ``batch_<id>`` re-created by an at-least-once replay AFTER
    the compaction that subsumed it."""
    folded = read_folded_epochs(spark, store_dir)
    fs, root = _fs_and_path(spark, store_dir)
    return [
        path
        for name, path in _generations(fs, root)
        if name != exclude and name not in folded
    ]


def compact_epoch_store(spark: SparkSession, store_dir: str) -> int:
    """Fold every live generation of an epoch-SUBDIR store (the
    ``seed`` + ``batch_<id>`` layout of streaming/sync.py,
    streaming/near_dup.py, streaming/ingest_pipeline.py — distinct from
    the ``*_delta`` layout of :func:`compact_delta_store`) into ONE
    consolidated ``seed`` generation. Returns the number of generations
    folded (0 when a store with ≤ 1 live generation only
    garbage-collects dead subdirectories).

    Same discipline as every other compaction here: the staged root
    carries the manifest BEFORE the install rename, so the rename
    atomically retires the folded generations; a crash between install
    and cleanup leaves probes exact. The manifest also closes the
    replay-after-compaction hole this layout uniquely has: an
    at-least-once replay of ``batch_k`` AFTER ``batch_k`` was folded
    into seed re-creates its subdirectory — without the manifest every
    reader would double-count it; with it the name is dead forever
    (epoch ids are never reused for NEW data — the foreachBatch batch-id
    contract).

    Concurrency contract: READERS must be quiesced (run between
    micro-batches / with the stream's foreachBatch not mid-probe) — the
    root-swap is the only single-commit-point publish a rename-based FS
    offers, and between the park rename and the install rename the root
    is briefly absent. Concurrent EXTENDS are survived: an epoch
    directory a writer landed between this verb's listing and the park
    rename travels with the parked root, is NOT in the new manifest, and
    is rescued — renamed back into the installed root — before the
    parked copy is deleted. If a writer recreates the root itself inside
    the swap window, the staged store's children are installed INTO that
    recreated root (a plain rename would nest the staged root inside it
    on Hadoop FS semantics). A failed install rename rolls the parked
    root back into place before raising, so only a double failure leaves
    the store at ``__compact_old`` needing manual recovery."""
    fs, root = _fs_and_path(spark, store_dir)
    if not fs.exists(root):
        return 0
    folded = read_folded_epochs(spark, store_dir)
    names = [name for name, _ in _generations(fs, root)]
    live = [n for n in names if n not in folded]
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    if len(live) <= 1:
        for n in names:
            if n in folded:
                fs.delete(P(f"{store_dir}/{n}"), True)
        return 0
    df = spark.read.parquet(*[f"{store_dir}/{n}" for n in sorted(live)])
    tmp = f"{store_dir}__compact_tmp"
    fs.delete(P(tmp), True)
    df.write.mode("overwrite").parquet(f"{tmp}/seed")
    new_manifest = (folded | set(live)) - {"seed"}
    write_folded_epochs(spark, tmp, new_manifest)
    old = f"{store_dir}__compact_old"
    fs.delete(P(old), True)
    if not fs.rename(root, P(old)):
        raise IOError(f"could not park the live store at {old}")
    if fs.exists(root):
        # a concurrent writer recreated the root inside the swap window;
        # rename(tmp, root) would NEST tmp under it — install the staged
        # children into the recreated root instead (the writer's fresh
        # epoch dirs are not in the manifest, so they stay live)
        if not _try_rename(fs, P(f"{tmp}/seed"), P(f"{store_dir}/seed")):
            _try_rename(fs, P(old), root)  # best-effort rollback
            raise IOError(
                f"could not install the compacted seed into the"
                f" recreated root; live data parked at {old}"
            )
        fs.delete(P(f"{store_dir}/{MANIFEST}"), False)
        if not _try_rename(
            fs, P(f"{tmp}/{MANIFEST}"), P(f"{store_dir}/{MANIFEST}")
        ):
            # without the manifest a replay of a folded batch_<id> would
            # go live again and double-count; keep tmp (it still holds
            # the manifest) and fail loudly instead of GC-ing it
            raise IOError(
                f"installed the compacted seed but could not install its"
                f" manifest; staged manifest left at {tmp}/{MANIFEST} —"
                f" the store double-counts folded epochs until it is"
                f" moved to {store_dir}/{MANIFEST}"
            )
        fs.delete(P(tmp), True)
    elif not _try_rename(fs, P(tmp), root):
        # roll the parked root back so probes keep working; only a
        # double failure strands the store at __compact_old
        if _try_rename(fs, P(old), root):
            raise IOError(
                "could not install the compacted store; the previous"
                " store was rolled back into place"
            )
        raise IOError(
            f"could not install the compacted store; live data parked"
            f" at {old}"
        )
    # rescue concurrent-extend epochs that travelled with the parked
    # root: any generation in the parked copy that is neither in the
    # fold snapshot nor already folded arrived during the swap — rename
    # it into the installed root (not in the manifest ⇒ still live).
    # Each rescue rename is CHECKED: an unchecked rename followed by an
    # unconditional delete of the parked root would silently destroy a
    # live epoch when the rename fails (e.g. an at-least-once replay
    # already re-created store_dir/<n> inside the swap window, where
    # Hadoop rename-into-existing either returns false or nests src
    # under dst). On any failure the entry stays parked and the root
    # survives with a logged warning — never data loss.
    oldp = P(old)
    if fs.exists(oldp):
        stranded: list[str] = []
        for st in fs.listStatus(oldp):
            n = st.getPath().getName()
            if (
                st.isDirectory()
                and _is_generation(n)
                and n not in names
                and n not in new_manifest
            ):
                dst = P(f"{store_dir}/{n}")
                if fs.exists(dst) or not _try_rename(fs, st.getPath(), dst):
                    stranded.append(n)
        if stranded:
            # delete only what is provably garbage (generations whose
            # rows are inside the installed seed); leave the stranded
            # live epochs parked for manual inspection
            for st in fs.listStatus(oldp):
                n = st.getPath().getName()
                if st.isDirectory() and _is_generation(n) and (
                    n in names or n in new_manifest
                ):
                    fs.delete(st.getPath(), True)
            _LOG.warning(
                "compact_epoch_store: could not rescue concurrent-extend"
                " epoch(s) %s into %s (destination exists or rename"
                " failed); they remain parked under %s and are NOT"
                " probed — reconcile by hand",
                sorted(stranded),
                store_dir,
                old,
            )
        else:
            fs.delete(oldp, True)
    return len(live)

