"""Hadoop-FS policy shared by every durable epoch store.

One layout. A store is one or more KINDS, each a base at
``{path}/{kind}`` plus ONE delta relation at ``{path}/{kind}_delta``,
partitioned by ``epoch``: extend epoch ``n`` lands whole in
``{kind}_delta/epoch=<n>/``. The stores:

* the Jaccard prefix index (operators/dedup_docs.py), the BM25 text
  index (operators/retrieval.py), the DSIR count store
  (operators/selection.py), the PQ codes (operators/similarity.py) and
  the corpus-build deltas (streaming/corpus_build.py);
* the foreachBatch stores of the streaming loops (streaming/sync.py,
  near_dup.py, ingest_pipeline.py, media_index.py, qsketch_stream.py),
  whose single kind is ``seed``: the seed is the base and micro-batch
  ``<id>`` lands in ``seed_delta/epoch=<id>``. The watermark, manifest
  and sketch stores have no seed and read through :func:`read_epochs`.

This module owns the epoch naming (:func:`epoch_dir`), the live read
(:func:`read_live`, :func:`read_epochs`), partitioned writes
(:func:`write_partitioned`), the bucket meta (:func:`adaptive_buckets`,
:func:`resolve_buckets`, the JSON sidecars of :func:`write_json`) and
the one compaction (:func:`compact_delta_store`); a store keeps only
its schema, its partition column and its fold.

A live read is two scans at any number of epochs: the base, and the
delta root filtered on the partition column ``epoch``. The epoch
predicate (and any bucket predicate a probe adds) lands in the delta
scan's ``PartitionFilters``, so dead and excluded epochs are pruned at
planning and their files never enter the scan. Every epoch is read
with the schema of its base (or the caller's schema,
:func:`read_epochs`): an EMPTY epoch (a batch with no rows still
writes its directory, keeping replay idempotence uniform) has no data
file to infer a schema from. A store in a retired layout
(``batch_<id>`` generations beside ``seed``, or ``epoch_<n>`` deltas)
is refused with a ``ValueError`` naming the path; it never reads as
fewer rows.

The crash window the manifest closes: every compaction stages the
merged store, installs it with a rename, then deletes the now-folded
epoch deltas. A crash BETWEEN the install rename and the delta delete
used to leave both the folded rows (inside the new base) and the live
epoch directories — the next probe would union them and double-count.

Fix: the staged store carries ``_folded_epochs.json`` (a ``_``-prefixed
file, invisible to Spark's parquet reader) listing every epoch directory
it subsumes (``epoch=<n>``), written BEFORE the install rename. The
install rename is therefore the single atomic operation that both
publishes the folded rows and retires their deltas: :func:`live_epochs`
consults the manifest of the CURRENT base and drops listed epochs, so
post-install delta deletion is garbage collection, not correctness. A
bonus: an at-least-once replay that re-writes an epoch AFTER a
compaction folded it is dead too, instead of double-counting.

Manifests accumulate (each compaction unions the previous manifest), so
epoch ids must never be REUSED for new data after a compaction — the
existing monotonic-epoch contract of the ``extend_*`` writers
(foreachBatch batch ids) already guarantees that.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def _dir_names(fs, root) -> list[str]:
    """Names of the directories directly under ``root``; absent → []."""
    if not fs.exists(root):
        return []
    return [st.getPath().getName() for st in fs.listStatus(root) if st.isDirectory()]


def _epoch_ids(spark: SparkSession, path: str, kind: str) -> list[int]:
    """Sorted ids of the ``epoch=<n>`` directories under
    ``{path}/{kind}_delta``. A store in a retired layout fails loudly:
    ``batch_<id>`` generations beside the base, or ``epoch_<n>``
    deltas, would otherwise drop out of every read without a trace."""
    fs, root = _fs_and_path(spark, path)
    names = _dir_names(fs, root)
    old = sorted(n for n in names if n.startswith("batch_"))
    if old:
        raise ValueError(
            f"{path}/{old[0]}: a batch_<id> generation of the retired"
            f" seed + batch_<id> layout; move each batch_<id> to"
            f" {kind}_delta/epoch=<id> (seed is the {kind} base)"
        )
    if f"{kind}_delta" not in names:
        return []
    names = _dir_names(fs, _fs_and_path(spark, f"{path}/{kind}_delta")[1])
    old = sorted(n for n in names if n.startswith("epoch_"))
    if old:
        raise ValueError(
            f"{path}/{kind}_delta/{old[0]}: an epoch of the retired"
            f" epoch_<n> layout; rename each to epoch=<n>"
        )
    return sorted(int(n[6:]) for n in names if n.startswith("epoch="))


def epoch_dir(spark: SparkSession, path: str, kind: str, epoch: int) -> str:
    """Where extend epoch ``epoch`` of ``kind`` lands: one ``epoch=<n>``
    partition of the ``{path}/{kind}_delta`` relation. Writers
    overwrite it whole, so an at-least-once replay of the epoch is
    idempotent. Refuses a store in a retired layout."""
    _epoch_ids(spark, path, kind)
    return f"{path}/{kind}_delta/epoch={int(epoch)}"


def live_epochs(
    spark: SparkSession, path: str, kind: str, exclude: int | None = None
) -> list[int]:
    """Ids of the ``kind`` epochs the base's manifest has not folded,
    minus ``exclude`` (the epoch a replaying batch is rewriting)."""
    folded = read_folded_epochs(spark, f"{path}/{kind}")
    return [
        e for e in _epoch_ids(spark, path, kind)
        if f"epoch={e}" not in folded and e != exclude
    ]


def _delta(
    spark: SparkSession, path: str, kind: str, schema, ids: list[int]
) -> DataFrame:
    """Epochs ``ids`` of ``kind`` as ONE scan of the delta root, read
    with ``schema``: the ``epoch`` predicate is a partition filter, so
    every other epoch's files are pruned at planning and never enter
    the scan. An EMPTY epoch (a batch with no rows still writes its
    directory, keeping replay idempotence uniform) has no data file to
    infer a schema from, hence the explicit one."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not ids:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(StructType(schema.fields).add("epoch", "long"))
        .parquet(f"{path}/{kind}_delta")
        .where(F.col("epoch").isin(ids))
        .drop("epoch")
    )


def read_live(
    spark: SparkSession, path: str, kind: str, exclude: int | None = None
) -> DataFrame:
    """The live ``kind`` of a store: the base ``{path}/{kind}`` ∪ its
    live epochs (:func:`live_epochs`) read as one relation with the
    base's schema — two scans at any number of live epochs. Partition
    columns survive the union, so a partition filter on the result
    prunes both."""
    base = spark.read.parquet(f"{path}/{kind}")
    ids = live_epochs(spark, path, kind, exclude)
    if not ids:
        return base
    return base.unionByName(_delta(spark, path, kind, base.schema, ids))


def read_epochs(
    spark: SparkSession, path: str, kind: str, schema, exclude: int | None = None
) -> DataFrame:
    """The live epochs of ``kind`` alone, read with ``schema`` (a
    ``StructType`` or DDL string) — for stores with no base (the
    streaming watermark, manifest and sketch stores) and for per-epoch
    artifacts read apart from their base (the corpus-build deltas, the
    PQ drift stats). No live epoch → an empty frame of ``schema``."""
    return _delta(spark, path, kind, schema, live_epochs(spark, path, kind, exclude))


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
) -> int:
    """Fold every live epoch of each ``kind`` in ``folds`` back into its
    base — the OPTIMIZE of an epoch store — and return how many epochs
    it folded. ``folds[kind](live, dest)`` writes the staged store at
    ``dest`` from the live rows (a pure union for immutable rows, a
    re-aggregation for counts). The live epochs are listed ONCE, and
    the fold reads exactly those (``epoch IN <ids>``): an epoch a
    concurrent extend lands mid-fold is not in the fold, not in the
    manifest, and stays live for the next one — the delta root is
    never moved. Each staged store carries its manifest (the previous
    one ∪ the epochs folded now), written BEFORE
    :func:`install_staged_store` swaps it in, so a crash at any point
    leaves an exact, never-double-counting store. With no live epoch
    anywhere it only garbage-collects crash-deferred folded epochs."""
    ids = {kind: live_epochs(spark, path, kind) for kind in folds}
    if not any(ids.values()):
        for kind in folds:
            gc_folded_epochs(spark, f"{path}/{kind}_delta", f"{path}/{kind}")
        return 0
    for kind, fold in folds.items():
        base = f"{path}/{kind}"
        live = spark.read.parquet(base)
        live = live.unionByName(_delta(spark, path, kind, live.schema, ids[kind]))
        fold(live, f"{base}_tmp")
        write_folded_epochs(
            spark,
            f"{base}_tmp",
            read_folded_epochs(spark, base) | {f"epoch={e}" for e in ids[kind]},
        )
    install_staged_store(spark, path, list(folds))
    return len(set().union(*ids.values()))


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
    fs, _ = _fs_and_path(spark, path)
    P = spark._jvm.org.apache.hadoop.fs.Path
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
