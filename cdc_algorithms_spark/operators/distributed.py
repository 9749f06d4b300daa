"""Segment-parallel CDC chunking of large blobs — the Spark restatement
of the reference's ``parallel_chunking`` (ae.rs:55-92, rabin.rs:92-128;
SURVEY.md §2.3 P1-P2, §4.3).

The reference's insight is that CDC boundaries depend only on a bounded
look-back (AE/Rabin: ``window_size``; FastCDC: up to ``max_size``), so a
huge byte stream can be chunked segment-by-segment given overlap
warm-up, with a deterministic seam rule. Here that becomes a three-phase
DataFrame pipeline — the 100 TB shape: no single node ever holds a whole
blob, only ``segment_len + overlap`` slices.

Phase A — ONE pass over payloads (``mapInPandas``): each segment row
carries ``payload = blob[left-overlap .. right)``; the compiled scanner
emits cut positions, trimmed to the segment's owned range ``[left,
right)`` so every cut is emitted exactly once (the reference instead
re-emits warm-up cuts and relies on the merge to drop them,
ae.rs:36-47). The same kernel call hashes every span between its cuts
(XXH64, = Spark's ``xxhash64``), and the task keeps the hash of every
chunk whose span the seam merge cannot change — consecutive cuts from
one scan are ≥ the merge spacing apart, so only a segment's first two
owned cuts are merge-uncertain — shipping 24 bytes per chunk instead
of content, sliced from the kernel's arrays with no per-chunk Python
loop. It additionally ships the raw bytes of the few merge-uncertain
spans (head up to the 2nd owned cut, tail after the last owned cut —
~1% of the corpus) as ``piece`` rows, plus the blob-final sentinel boundary
from the task owning the last segment. Only this mixed output is
persisted; the corpus itself is read exactly once and never cached (an
earlier design persisted the whole segment table — a corpus-sized
cache/spill that dominated at scale AND locally).

Phase B — seam merge (``applyInPandas`` per blob) over ONLY the
seam-adjacent cuts (~3 per segment): the reference's sequential accept
rule — keep a cut only if it is ≥ ``spacing`` bytes after the last
*kept* cut (ae.rs:74, rabin.rs:110) — is not a window-lag filter
(rejections chain), but since consecutive same-scan cuts already
satisfy the spacing, only a segment's first owned cut is ever
rejectable; merge-certain chunks bypass the merge entirely as
scan-emitted done rows, so the per-blob merge group is O(segments) —
never a single-task O(chunks) bottleneck for a huge blob. The final
boundary ``blob_len-1`` is always kept so bytes are conserved (the
reference can drop a too-close final boundary and silently lose tail
bytes from its metrics; we deviate for byte conservation, which the
oracle concat checks require).

Phase C — seam-chunk reassembly, for the few spans the merge owns
(first/second owned cuts per segment + the final chunk): those
range-join against the Phase-A piece rows, pieces are sliced with
``substring`` on binary, reassembled with ``array_sort`` +
``aggregate``/``concat``, and fingerprinted in the JVM with
``F.xxhash64`` — the XXH64 the Phase-A kernel computes, so a chunk's
identity never depends on which phase hashed it; the global per-blob
``chunk_idx`` is then a distributed ``row_number`` over offsets. Chunk CONTENT therefore never
shuffles and the source is never re-read — at 100 TB the dominant
costs of the naive design (a second full-corpus shuffle, a
corpus-sized cache, a per-blob merge task) all disappear; this
pipeline ships cuts, hashes, and ~1% of payload bytes.

Not replicated: the rabin.rs:101 segment-bound bug (right bound fixed at
``len/T``) and the O(T·n) per-thread buffer clone at rabin.rs:99.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc_algorithms_spark.chunkers.fast import (
    ae_bounds_hashed,
    fastcdc_bounds_hashed,
    rabin_bounds_hashed,
)
from cdc_algorithms_spark.chunkers.params import (
    AeParams,
    FastCdcParams,
    RabinParams,
    make_params,
)

_BOUND_FNS = {
    "ae": ae_bounds_hashed,
    "rabin": rabin_bounds_hashed,
    "fastcdc": fastcdc_bounds_hashed,
}


def _default_overlap(params) -> int:
    if isinstance(params, (AeParams, RabinParams)):
        return params.window_size
    if isinstance(params, FastCdcParams):
        return params.max_size
    raise TypeError(type(params))


def _merge_spacing(params) -> int:
    # ae.rs:74 / rabin.rs:110 use window_size; FastCDC (no reference
    # parallel variant) uses its min chunk size as the seam spacing.
    if isinstance(params, (AeParams, RabinParams)):
        return params.window_size
    return params.min_size


def _read_range(path: str, start, end) -> bytes:
    with open(path, "rb") as f:
        f.seek(int(start))
        return f.read(int(end) - int(start))


def _scan_segment(
    payload, left: int, right: int, scan_start: int, blob_len: int,
    bound_fn, params,
) -> tuple[tuple[np.ndarray, np.ndarray, np.ndarray], list[tuple]]:
    """Phase A for one segment whose bytes ``payload`` start at
    ``scan_start`` and whose owned range is ``[left, right)``.

    Returns the done chunks as ``(offset, length, hash)`` arrays and the
    few seam-cut and piece rows as ``(kind, a, b, piece)`` tuples (see
    the kinds in :func:`chunk_segments`). The kernel hashes every span
    between consecutive cuts in the same call that finds them, so a done
    chunk's row is a slice of its arrays: no per-chunk Python work.
    """
    rel, hashes = bound_fn(payload, params)
    cuts = rel + scan_start  # absolute cut offsets, ascending
    # owned range: every cut is emitted by exactly one segment
    lo, hi = (int(i) for i in np.searchsorted(cuts, (left, right)))
    owned = cuts[lo:hi]
    k = hi - lo
    # merge-certain chunks (owned cuts j-1, j with j >= 2) bypass Phase
    # B; hashes[i] covers (cuts[i], cuts[i + 1]]
    offsets = owned[1:-1] + 1
    done = (offsets, np.diff(owned[1:]), hashes[lo + 1 : lo + 1 + offsets.size])
    # seam cut rows: a segment's first two owned cuts are rejectable /
    # rebuildable (b=-2: "emit a chunk if accepted", hash resolved in
    # Phase C); its last owned cut is kept-context for the next seam's
    # decision (b=-3, never re-emitted as a chunk)
    rows = [(0, int(c), -2, None) for c in owned[:2]]
    if k >= 3:
        rows.append((0, int(owned[-1]), -3, None))
    if right == blob_len and not (k and owned[-1] == blob_len - 1):
        rows.append((0, blob_len - 1, -2, None))  # blob-final sentinel
    # piece rows: bytes the seam merge could reassign — head up to the
    # 2nd owned cut and tail after the last, or the whole owned range
    if k >= 2:
        spans = [(left, int(owned[1]) + 1)]
        if owned[-1] + 1 < right:
            spans.append((int(owned[-1]) + 1, right))
    else:
        spans = [(left, right)]
    view = memoryview(payload)
    rows += [
        (1, a, b, view[a - scan_start : b - scan_start].tobytes())
        for a, b in spans
    ]
    return done, rows


def segment_blob_df(
    blobs: DataFrame,
    segment_len: int,
    overlap: int,
    id_col: str = "src_id",
    content_col: str = "content",
) -> DataFrame:
    """(id, content: binary) → one row per segment with overlap warm-up.

    Pure SQL (``sequence``/``posexplode``/``substring`` on binary), so
    segmentation itself is parallel and never funnels through Python.
    """
    if segment_len <= 0 or overlap < 0:
        raise ValueError(f"bad segment_len={segment_len} overlap={overlap}")
    n = F.length(F.col(content_col))
    seg = (
        blobs.where(n > 0)
        .select(
            F.col(id_col).cast("long").alias("src_id"),
            F.col(content_col).alias("__content"),
            n.cast("long").alias("blob_len"),
            F.posexplode(
                F.sequence(F.lit(0), n - F.lit(1), F.lit(segment_len))
            ).alias("seg_idx", "left"),
        )
        .select(
            "src_id",
            F.col("seg_idx").cast("long").alias("seg_idx"),
            F.col("left").cast("long").alias("left"),
            F.least(F.col("left") + segment_len, F.col("blob_len")).alias("right"),
            "blob_len",
            F.greatest(F.col("left") - overlap, F.lit(0)).cast("long").alias(
                "scan_start"
            ),
            F.expr(
                f"substring(__content, greatest(left - {overlap}, 0) + 1, "
                f"least(left + {segment_len}, length(__content)) "
                f"- greatest(left - {overlap}, 0))"
            ).alias("payload"),
        )
    )
    return seg


def parallel_chunk_blob(
    blobs: DataFrame,
    algo: str,
    expected_size: int,
    seed: int = 0,
    window_size: int | None = None,
    segment_len: int = 1 << 20,
    overlap: int | None = None,
    id_col: str = "src_id",
    content_col: str = "content",
    ordinals: str = "bucketed",
) -> DataFrame:
    """Distributed CDC chunking of binary blobs.

    Returns ``(src_id, algo, chunk_idx, offset, length, hash)`` where
    ``hash = xxhash64(chunk bytes)`` (the reference's DefaultHasher
    role, ae.rs:75-78), equal to ``F.xxhash64`` of the same bytes
    anywhere in the engine. See :func:`chunk_segments` for
    the ``ordinals`` modes.
    """
    if overlap is None:
        overlap = _default_overlap(
            make_params(algo, expected_size, seed, window_size=window_size)
        )
    segments = segment_blob_df(blobs, segment_len, overlap, id_col, content_col)
    return chunk_segments(
        segments, algo, expected_size, seed, window_size, ordinals=ordinals
    )


def chunk_segments(
    segments: DataFrame,
    algo: str,
    expected_size: int,
    seed: int = 0,
    window_size: int | None = None,
    ordinals: str = "bucketed",
) -> DataFrame:
    """The segment→chunk pipeline over a prebuilt segment table
    (``src_id, seg_idx, left, right, blob_len, scan_start, payload``) —
    shared by :func:`parallel_chunk_blob` (in-memory blobs) and
    :func:`cdc_algorithms_spark.sources.segmented_files.segment_file_ranges`
    (executor-side range reads of files, the no-whole-blob 100 TB path).

    ``ordinals`` controls how the per-blob ``chunk_idx`` column is
    computed; in both modes it is pruned from the plan when the consumer
    never reads it (dedup stats, concat checks):

    * ``"bucketed"`` (default) — two-phase prefix count; every window
      partition is bounded, correct at any blob size. The bucket bases
      join back with a LEFT join on unique keys, so Catalyst's
      outer-join elimination drops the whole sub-DAG when
      ``chunk_idx`` is unused.
    * ``"window"`` — single ``row_number`` window per blob; puts all of
      a blob's chunk rows in one task — only for small-blob corpora and
      as the reference for the bucketed ordinals.
    """
    if ordinals not in ("bucketed", "window"):
        raise ValueError(f"ordinals must be bucketed|window, got {ordinals!r}")
    if algo not in _BOUND_FNS:
        raise ValueError(f"unknown CDC algo {algo!r}; one of {sorted(_BOUND_FNS)}")
    params = make_params(algo, expected_size, seed, window_size=window_size)
    spacing = _merge_spacing(params)
    bound_fn = _BOUND_FNS[algo]
    label = f"parallel_{algo}{expected_size}"

    # --- Phase A: ONE pass over payloads --------------------------------
    # The scan task emits everything downstream phases need in one pass;
    # the corpus is read exactly once and never cached:
    #
    #   kind=2  done-chunk rows — (offset, length, hash) of every chunk
    #           the seam merge provably cannot change (see below): the
    #           overwhelming majority, they bypass the merge entirely;
    #   kind=0  seam cut rows   — ONLY the merge-relevant cuts: a
    #           segment's first two owned cuts (the rejectable /
    #           rebuildable ones, b=-2) and its last owned cut as
    #           kept-context (b=-3, never re-emitted as a chunk), plus
    #           the blob-final sentinel from the task owning the last
    #           segment — ~3 rows per segment;
    #   kind=1  piece rows      — raw bytes of the few spans the merge
    #           COULD reassign (head up to the 2nd owned cut, tail after
    #           the last owned cut; whole segment when it owns <2 cuts)
    #           — ~2·expected_size per segment ≈ 1% of the corpus.
    #
    # Only this mixed output (≈1% of corpus) is persisted.
    #
    # Why done chunks are merge-certain: consecutive cuts from one scan
    # are >= the merge spacing apart by construction, so the sequential
    # accept rule (ae.rs:74) can reject at most a segment's FIRST owned
    # cut; the second owned cut is then always accepted. Hence every
    # chunk bounded by owned cuts j-1, j with j >= 2 is final exactly as
    # scanned — and the merge itself only ever needs the seam-adjacent
    # cuts, so its per-blob group is O(segments), not O(chunks). (An
    # earlier design shipped every cut through the per-blob merge task —
    # a single-task bottleneck for a 100 TB blob with billions of cuts.)
    # The same argument gives identical accept decisions on the reduced
    # cut set: every decision only consults the previous KEPT cut, which
    # is always one of {previous segment's last owned cut, this
    # segment's first/second owned cut, sentinel} — all present.
    def scan(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            # Lazy segment tables (sources/segmented_files.py) carry a
            # ``path`` instead of ``payload``: this task range-reads its
            # own slice, so segment bytes are born in the worker that
            # chunks them — no payload shuffle, no extra Arrow hop.
            if "payload" in pdf.columns:
                payloads = iter(pdf["payload"])
            else:
                payloads = map(
                    _read_range, pdf["path"], pdf["scan_start"], pdf["right"]
                )
            # per segment: (src_id, blob_len, offsets, lengths, hashes)
            done: list[tuple] = []
            rows: list[tuple] = []  # seam-cut and piece rows
            for payload, sid, left, right, scan_start, blob_len in zip(
                payloads, pdf["src_id"], pdf["left"], pdf["right"],
                pdf["scan_start"], pdf["blob_len"],
            ):
                sid, blob_len = int(sid), int(blob_len)
                d, r = _scan_segment(
                    payload, int(left), int(right), int(scan_start), blob_len,
                    bound_fn, params,
                )
                done.append((sid, blob_len, *d))
                rows.extend(
                    (sid, kind, a, b, blob_len, piece) for kind, a, b, piece in r
                )
            counts = [d[2].size for d in done]
            if sum(counts):
                yield pd.DataFrame(
                    {
                        "src_id": np.repeat(
                            np.asarray([d[0] for d in done], np.int64), counts
                        ),
                        "kind": np.full(sum(counts), 2, dtype=np.int32),
                        "a": np.concatenate([d[2] for d in done]),
                        "b": np.concatenate([d[3] for d in done]),
                        "blob_len": np.repeat(
                            np.asarray([d[1] for d in done], np.int64), counts
                        ),
                        "hash": np.concatenate([d[4] for d in done]),
                        "piece": None,
                    }
                )
            if rows:
                sids, kinds, a_vals, b_vals, blob_lens, pieces = zip(*rows)
                yield pd.DataFrame(
                    {
                        "src_id": np.asarray(sids, dtype=np.int64),
                        "kind": np.asarray(kinds, dtype=np.int32),
                        "a": np.asarray(a_vals, dtype=np.int64),
                        "b": np.asarray(b_vals, dtype=np.int64),
                        "blob_len": np.asarray(blob_lens, dtype=np.int64),
                        "hash": np.zeros(len(rows), dtype=np.int64),
                        "piece": pd.Series(pieces, dtype="object"),
                    }
                )

    from pyspark.storagelevel import StorageLevel

    from cdc_algorithms_spark.operators.dedup_docs import _CACHED_FRAMES

    scanned = segments.mapInPandas(
        scan,
        "src_id long, kind int, a long, b long, blob_len long, "
        "hash long, piece binary",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _CACHED_FRAMES.append(scanned)  # the returned plan reads it: release later
    # Materialize EAGERLY: three subtrees (done rows, seam cuts, pieces)
    # read this, and concurrent query stages that find a partition
    # uncached recompute the whole scan redundantly.
    scanned.count()

    seam_cuts = scanned.where(F.col("kind") == 0).select(
        "src_id",
        F.col("a").alias("cut"),
        "blob_len",
        F.col("b").alias("flavor"),
    )

    # --- Phase B: seam merge per blob (O(segments) rows, not O(chunks)) ---
    def merge(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        sid = int(pdf["src_id"].iloc[0])
        blob_len = int(pdf["blob_len"].iloc[0])
        final = blob_len - 1
        # one row per distinct cut; prefer the emitting flavor (-2) over
        # kept-context (-3) on collisions
        rows = (
            pdf.sort_values(["cut", "flavor"], ascending=[True, False])
            .drop_duplicates("cut", keep="first")
        )
        offsets: list[int] = []
        lengths: list[int] = []
        last = -1
        for cut, flavor in zip(rows["cut"], rows["flavor"]):
            cut = int(cut)
            if not (cut == final or cut - last >= spacing):
                continue
            if int(flavor) != -3:
                # accepted seam cut that ends a (merge-uncertain) chunk;
                # context cuts' chunks already exist as done rows
                offsets.append(last + 1)
                lengths.append(cut - last)
            last = cut
        return pd.DataFrame(
            {
                "src_id": pd.Series([sid] * len(offsets), dtype="int64"),
                "offset": pd.Series(offsets, dtype="int64"),
                "length": pd.Series(lengths, dtype="int64"),
            }
        )

    uncertain = seam_cuts.groupBy("src_id").applyInPandas(
        merge, "src_id long, offset long, length long"
    )

    # --- Phase C: seam-chunk reassembly (the rare path) -------------------
    # Every merge-emitted chunk (first/second owned cuts, blob-final) is
    # rebuilt from the piece rows the scan shipped — NOT by re-reading
    # the source. The span side is tiny, so it broadcasts and the piece
    # side streams from the (1%-sized) cache.
    piece_tbl = scanned.where(F.col("kind") == 1).select(
        F.col("src_id").alias("p_src_id"),
        F.col("a").alias("p_from"),
        F.col("b").alias("p_to"),
        "piece",
    )
    end = F.col("offset") + F.col("length") - 1
    sliced = piece_tbl.join(
        F.broadcast(uncertain),
        on=[
            F.col("p_src_id") == F.col("src_id"),
            F.col("p_from") <= end,
            F.col("p_to") > F.col("offset"),
        ],
    ).select(
        "src_id",
        "offset",
        "length",
        "p_from",
        F.expr(
            "substring(piece, greatest(offset, p_from) - p_from + 1, "
            "least(offset + length, p_to) - greatest(offset, p_from))"
        ).alias("piece"),
    )
    rebuilt = (
        sliced.groupBy("src_id", "offset", "length")
        .agg(
            F.xxhash64(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("p_from", "piece"))),
                    F.lit(b""),
                    lambda acc, x: F.concat(acc, x["piece"]),
                )
            ).alias("hash")
        )
    )

    done = scanned.where(F.col("kind") == 2).select(
        "src_id",
        F.col("a").alias("offset"),
        F.col("b").alias("length"),
        "hash",
    )
    merged = done.unionByName(rebuilt)
    base_cols = [
        "src_id",
        F.lit(label).alias("algo"),
        "offset",
        "length",
        "hash",
    ]
    if ordinals == "window":
        idx_w = Window.partitionBy("src_id").orderBy("offset")
        return merged.withColumn(
            "chunk_idx", (F.row_number().over(idx_w) - 1).cast("long")
        ).select(*base_cols[:2], "chunk_idx", *base_cols[2:])

    # "bucketed": global chunk ordinal per blob via a two-phase prefix
    # count — NOT a row_number over Window.partitionBy(src_id), which
    # would put every chunk row of a blob in one task (billions of rows
    # for a 100 TB blob). Offsets are unique within a blob (each kept
    # cut ends exactly one chunk) and bucket = offset // W is monotone
    # in offset, so (bucket, offset) order == offset order:
    #   1. count chunks per (blob, bucket) — partial-agg shuffle of
    #      metadata rows;
    #   2. cumulative base per bucket over the tiny aggregated frame
    #      (O(blob_len / W) rows per blob);
    #   3. row_number within each bounded (blob, bucket) partition plus
    #      the bucket's base.
    # LEFT join: ``bases`` has one row per (src_id, __bkt) of ``merged``,
    # so rows equal the inner join's, but Catalyst can drop it (and the
    # whole ordinal sub-DAG) when chunk_idx is unused.
    bucket_w = expected_size * 1024  # ~1024 chunks per window partition
    merged = merged.withColumn("__bkt", F.floor(F.col("offset") / bucket_w))
    prior_buckets = (
        Window.partitionBy("src_id")
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        merged.groupBy("src_id", "__bkt")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "src_id",
            "__bkt",
            F.coalesce(F.sum("__n").over(prior_buckets), F.lit(0)).alias(
                "__base"
            ),
        )
    )
    in_bucket = Window.partitionBy("src_id", "__bkt").orderBy("offset")
    return (
        merged.join(bases, ["src_id", "__bkt"], "left")
        .withColumn("chunk_idx", F.col("__base") + F.row_number().over(in_bucket) - 1)
        .select(*base_cols[:2], F.col("chunk_idx").cast("long"), *base_cols[2:])
    )
