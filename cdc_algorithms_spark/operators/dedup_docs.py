"""Document-level deduplication — the training-data-pipeline extension
(task brief; SURVEY.md §7 M4): exact, n-gram Jaccard, MinHash+LSH,
SimHash, and embedding-cosine near-dup.

Design stance per operator:

* **exact_dedup** — one shuffle on a content key; `row_number` picks the
  canonical survivor deterministically.
* **ngram_jaccard_pairs** — the *exact* near-dup join: an inverted index
  on shingles (explode → self-join on shingle → count = |A∩B|), never a
  cross join; |A∪B| from per-doc distinct counts. At 100 TB the shingle
  join is the scalable formulation (pairs sharing zero shingles never
  meet), and hot shingles can be dropped by document frequency (the
  ``max_df`` knob) — the standard skew guard.
* **minhash_lsh_pairs** — the approximate path: k minhashes from JVM
  ``hash(shingle, seed)``, banded; only same-band buckets join. Tunable
  (bands, rows) recall/precision; candidates are Jaccard-verified.
* **simhash_pairs** — 64-bit sign fingerprint of word-hash vectors;
  near-dup = hamming distance ≤ k, found via 4×16-bit band buckets
  (hamming ≤ 3 ⇒ at least one band identical) and verified with
  ``bit_count(xor)``.
* **embedding_near_dup_pairs** — cosine ≥ τ over `array<float>`; exact
  via self-join is reserved for small/verification scales, the LSH
  bucket path lives in operators/similarity.py.

Everything is Catalyst expressions — no Python UDFs anywhere.

Caching note: several operators ``persist()`` a frame that feeds two or
more branches of the RETURNED plan (shingle sets, banded minhashes,
fingerprints; ``distributed.chunk_segments`` registers its scan output
here too). They cannot unpersist it themselves — the caller hasn't
executed the plan yet — so each persist is registered in a module cache
registry and :func:`release_cached_frames` is the scoped reclaim handle:
call it between pipelines (after the consuming action) in a long-lived
session and storage drops to zero without ``clearCache()``'s collateral
eviction of frames other modules own. Unreleased blocks are still
bounded pressure, not a leak (MEMORY_AND_DISK, LRU-evictable).
``connected_components`` unpersists its edges itself because it fully
materializes results inside its loop.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.storeio import (
    adaptive_buckets,
    compact_delta_store,
    epoch_dir,
    read_json,
    read_live,
    resolve_buckets,
    write_json,
    write_partitioned,
)

# --- scoped caching -----------------------------------------------------
# Frames persisted for the RETURNED (still-lazy) plan are tracked here so
# long-lived sessions can reclaim their storage between pipelines without
# the clearCache() sledgehammer (which would also evict caches other
# modules own).  ``release_cached_frames()`` is the scoped handle.
_CACHED_FRAMES: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    """persist() + register with the module cache registry.

    A frame whose logical plan is ALREADY cached is returned as-is:
    ``df.storageLevel`` consults the session CacheManager by
    plan-equality, so re-building the identical plan (the bench
    constructs each query fresh per timed run over plan-cached scans)
    previously re-persisted the same entry — the JVM warned "Asked to
    cache already cached data" and the registry double-counted it,
    making :func:`release_cached_frames` accounting inexact (the second
    unpersist was a no-op on an already-freed entry)."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    df = df.persist()
    _CACHED_FRAMES.append(df)
    return df


def release_cached_frames() -> int:
    """Unpersist every frame this module has persisted for a returned
    plan and clear the registry; returns the number released.  Call
    between pipelines in a long-lived session (after the consuming
    action has run — unpersisting earlier just recomputes).  Safe to
    call repeatedly; unpersist on an already-released frame is a no-op.

    GLOBAL across this module's pipelines by design: if plan A is built
    but not yet executed when pipeline B finishes and releases, A's
    persisted subtrees are dropped too — A still computes CORRECT
    results, it just re-derives its signature frame once per consuming
    branch (the cost the persist existed to avoid).  Interleave
    build/execute phases or skip the release in that pattern.  Without
    any release call the registry grows by one small DataFrame reference
    per persist — the cached BLOCKS themselves stay bounded pressure
    (MEMORY_AND_DISK, LRU-evictable), the references are negligible.
    """
    n = 0
    for df in _CACHED_FRAMES:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    _CACHED_FRAMES.clear()
    return n

_log = logging.getLogger(__name__)

from cdc_algorithms_spark.functions.arrays import cosine_similarity
from cdc_algorithms_spark.functions.text import shingles_of_words, words


def _shingle_arrays(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, __sh: array<string>) — distinct shingles per doc.

    Two selects on purpose: the word array binds to ``__ws`` first, and
    the shingle expression references it 4× — a CollapseProject barrier
    (Catalyst only inlines aliases referenced once), so the regex split
    runs once per row instead of once per shingle.
    """
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        words(text_col).alias("__ws"),
    ).select(
        "doc_id",
        F.array_distinct(shingles_of_words(F.col("__ws"), n)).alias("__sh"),
    )


def exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Exact duplicate groups: ``(doc_id, canonical_id, group_size)``.

    ``normalize`` lower-cases and collapses whitespace first (the usual
    exact-dedup definition for web corpora). Survivor = lowest id.
    """
    key = F.col(text_col)
    if normalize:
        key = F.lower(F.regexp_replace(F.trim(key), r"\s+", " "))
    keyed = docs.select(F.col(id_col).alias("doc_id"), key.alias("__key"))
    # Aggregate + join rather than a key window: a massively duplicated
    # page (millions of copies of one boilerplate text at corpus scale)
    # would pin a window's whole partition on one task; the aggregate
    # combines map-side and AQE can split the skewed probe side.
    groups = keyed.groupBy("__key").agg(
        F.min("doc_id").cast("long").alias("canonical_id"),
        F.count(F.lit(1)).cast("long").alias("group_size"),
    )
    # Null-safe equality: docs with NULL text must come back out (as one
    # null-key group) — a plain equi-join would silently drop them.
    return keyed.join(
        groups, keyed["__key"].eqNullSafe(groups["__key"])
    ).select(F.col("doc_id").cast("long"), "canonical_id", "group_size")


def doc_shingles(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shingle) rows, distinct per doc — the inverted-index base.

    The explode lives in the SAME projection that builds the shingle
    array (directly over the bound ``__ws`` word column), not in a
    third select over a bound ``__sh``: with the extra projection,
    Catalyst collapses the once-referenced ``__sh`` alias INTO the
    Generate and the whole shingle transform re-evaluates per emitted
    row — O(words²) work per document (measured 10× on 300-word docs;
    the corpus-scale run in tools/corpus_scale_run.py is what exposed
    it)."""
    from cdc_algorithms_spark.functions.text import shingles_of_words, words

    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        words(text_col).alias("__ws"),
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_of_words(F.col("__ws"), n))
        ).alias("shingle"),
    )


def _hashed_doc_shingles(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, shingle: long) — doc_shingles with each shingle replaced
    by its xxhash64. The exact-Jaccard family only ever compares
    shingles for equality and counts them (df ranking, intersection
    size) — it never emits shingle text — so an 8-byte key carries the
    full computation at a fraction of the 20-40 byte string's cost:
    smaller shuffles and a smaller durable index (guide §2.3 "narrower
    types"), and array_sort / array_intersect over longs instead of
    strings in the CPU-dense verification tail. Results are unchanged
    absent an xxhash64 collision between two shingles of the same
    document pair (~n²/2⁶⁴; the oracle value-hash at every driver SF
    pins the equality, same engineering budget as the minhash and
    128-bit fingerprint tiers). Ties in the rarest-first (df, shingle)
    order now break by hash rather than by string — a different frozen
    total order, which the prefix-filter theorem explicitly allows
    (candidate supersets differ; exact verification decides
    membership)."""
    return doc_shingles(docs, n, id_col, text_col).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )


def _shingle_sets(
    docs: DataFrame,
    n: int,
    threshold: float,
    max_df: int | None,
    id_col: str,
    text_col: str,
):
    """Shared core of the exact-Jaccard family: the persisted per-doc
    rarest-first shingle arrays (verification sets) and their prefix
    explode (candidate-join probe). See ngram_jaccard_pairs for the
    prefix-filter argument."""
    sh = _hashed_doc_shingles(docs, n, id_col, text_col)
    if max_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = (
            sh.join(df_counts.where(F.col("df") <= max_df), "shingle")
            .select("doc_id", "shingle")
        )

    # Document frequency via aggregate + join-back (not a shingle
    # window: stop-shingles — "of the and" — are exactly the hot keys
    # that would pin a window partition on one task; the aggregate
    # combines map-side and AQE can split the skewed probe side), then
    # one groupBy builds each doc's shingle list sorted rarest-first.
    # That single persisted table serves BOTH roles: its array is the
    # verification set, its head slice is the prefix.
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sets = (
        sh.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ord"))
        .select(
            "doc_id",
            F.col("ord.shingle").alias("sh"),
            F.size("ord").alias("sz"),
        )
    )
    sets = _persist(sets)
    prefix = sets.select(
        "doc_id",
        F.explode(
            F.expr(f"slice(sh, 1, sz - ceil({threshold} * sz) + 1)")
        ).alias("shingle"),
    )
    return sets, prefix


def _verify_pairs(sets: DataFrame, candidates: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs
    against the full shingle sets."""
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(sa, "id_a").join(sb, "id_b")
    return _jaccard_at_least(joined, F.col("id_a"), F.col("id_b"), threshold)


def _jaccard_at_least(joined: DataFrame, id_a, id_b, threshold: float) -> DataFrame:
    """``(id_a, id_b, jaccard)`` over ``joined``'s ``sh_a`` / ``sh_b``
    shingle arrays, jaccard rounded to 6 places and ≥ threshold."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jaccard = F.round(inter / union, 6).alias("jaccard")
    return joined.select(id_a.alias("id_a"), id_b.alias("id_b"), jaccard).where(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs via inverted-index join.

    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b and
    jaccard ≥ threshold, jaccard = |A∩B| / |A∪B| over distinct shingles.

    ``max_df`` drops shingles appearing in more than that many documents
    before the self-join — the skew guard that keeps the hottest key from
    dominating the shuffle at corpus scale (stop-shingles contribute
    little to Jaccard but quadratic join work).

    Scale design — **prefix filtering** (the PPJoin family): for
    Jaccard ≥ t, two docs must share a shingle within the first
    ``|A| − ⌈t·|A|⌉ + 1`` shingles of a global rarest-first ordering
    (if all common shingles sat in A's suffix of length ⌈t|A|⌉−1, the
    overlap couldn't reach the required ⌈t·max(|A|,|B|)⌉; the first
    common shingle in the global order is therefore inside both
    prefixes). So only prefixes join — rare shingles by construction —
    which cuts candidate pairs by orders of magnitude while remaining
    EXACT: verification against full shingle sets decides membership.
    The shingle table is persisted once and reused by the df ranking,
    the prefix join, and the verification sets.
    """
    sets, prefix = _shingle_sets(docs, n, threshold, max_df, id_col, text_col)
    a = prefix.alias("a")
    b = prefix.alias("b")
    candidates = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    return _verify_pairs(sets, candidates, threshold)


def incremental_jaccard_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact near-dup: Jaccard pairs touching the NEW batch
    only — batch-vs-corpus and batch-vs-batch, never corpus-vs-corpus.

    The document-level analog of operators/ingest.py: once the corpus is
    deduplicated, each arriving batch only needs pairs involving its own
    documents, so the CANDIDATE JOIN probes the (small) batch prefix
    against the full prefix index — never corpus-vs-corpus. The
    quadratic work is batch-proportional; the shingle document
    frequencies (the rarest-first prefix ordering) are NOT — this
    variant recomputes them over corpus ∪ batch on every call, a full
    corpus re-aggregation that is fine for one-shot jobs but wrong for
    a standing 100 TB pipeline. For that, build
    :func:`jaccard_prefix_index` once and probe it with
    :func:`incremental_jaccard_pairs_indexed` (identical results, no
    corpus-side aggregate per batch). Results equal the pairs-touching-
    batch subset of ``ngram_jaccard_pairs`` over the union (the oracle
    states exactly that).

    ``id_col`` values must be disjoint between corpus and batch.
    """
    all_docs = corpus.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).unionByName(
        batch.select(F.col(id_col).cast("long").alias(id_col), F.col(text_col))
    )
    sets, prefix = _shingle_sets(all_docs, n, threshold, max_df, id_col, text_col)
    new_ids = batch.select(F.col(id_col).cast("long").alias("doc_id")).distinct()
    new_prefix = prefix.join(F.broadcast(new_ids), "doc_id", "left_semi")
    a = new_prefix.alias("a")
    b = prefix.alias("b")
    candidates = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
        )
        .distinct()
    )
    return _verify_pairs(sets, candidates, threshold)


def jaccard_prefix_index(
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    elements: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Persistable exact-Jaccard corpus index — the batch-proportional
    answer to :func:`incremental_jaccard_pairs`'s per-call corpus
    re-aggregation (the document-level mirror of ingest.py's
    ``chunk_index``). Three frames, each written ONCE per corpus:

    * ``df_index`` — ``(shingle, df)`` corpus document frequencies: the
      FROZEN rarest-first total order every future batch probes. The
      prefix-filter theorem (see :func:`ngram_jaccard_pairs`) holds for
      ANY fixed total order of shingles — rarest-first is only the
      pruning heuristic — so freezing the corpus-time order keeps the
      incremental result EXACT while batches merely probe.
    * ``sets_index`` — ``(doc_id, sh, sz)`` per-doc rarest-first shingle
      arrays: the verification side (only candidate ids are ever read).
    * ``prefix_index`` — ``(doc_id, shingle)`` exploded prefixes: the
      candidate-join build side. Persist via :func:`write_jaccard_index`
      (partitioned by shingle bucket) so batch probes read only their
      own buckets instead of scanning the whole index.

    A corpus doc contains no shingle outside ``df_index`` (by
    construction), so its build-time prefix equals its prefix under any
    extension of the order to unseen shingles — batch-time ordering
    (``df`` absent → 0, i.e. new shingles are rarest) extends, never
    contradicts, the frozen order.

    ``elements`` overrides the text shingling with a PRE-COMPUTED
    ``(doc_id, shingle)`` frame, distinct per doc, any orderable type —
    how the media tier indexes 8-byte CDC chunk identities
    (operators/media_dedup.py): the prefix-filter theorem is about SETS
    under a fixed total order, not about strings, so every downstream
    verb (write/extend/compact/probe) works unchanged. ``corpus``,
    ``n``, ``text_col`` are ignored when ``elements`` is given.
    """
    sh = (
        elements.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col("shingle"),
        )
        if elements is not None
        else _hashed_doc_shingles(corpus, n, id_col, text_col)
    )
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sets = (
        sh.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ord"))
        .select(
            "doc_id",
            F.col("ord.shingle").alias("sh"),
            F.size("ord").alias("sz"),
        )
    )
    sets = _persist(sets)
    prefix = sets.select(
        "doc_id",
        F.explode(
            F.expr(f"slice(sh, 1, sz - ceil({threshold} * sz) + 1)")
        ).alias("shingle"),
    )
    return df_counts, sets, prefix


# Bucket-count CAPS for the DURABLE (parquet) form of the Jaccard index.
# Writer and prober must agree; since r12 the write derives the actual
# counts from the corpus size (storeio.adaptive_buckets: ≥64 docs per
# shingle bucket, ≥256 per id bucket), records them in
# the store's ``_index_meta.json``, and every extend/probe resolves them
# from there — so the agreement is structural, not a convention. The
# shingle bucket is pmod(xxhash64(shingle), SH) — a deterministic
# function of the value, so a batch can compute which buckets its own
# shingles fall in and read ONLY those partition directories (static
# partition pruning). Raise the caps for a 100 TB corpus (finer
# pruning, same plan shape).
JACCARD_SH_BUCKETS = 64
JACCARD_ID_BUCKETS = 16

# Format marker for the durable Jaccard index (r11 ADVICE): the r11
# switch to xxhash64 shingles changed the on-disk shingle column from
# string to bigint — a pre-existing string index probed/extended by new
# code would either fail with an opaque parquet schema mismatch or
# silently join string-vs-bigint under implicit coercion (empty
# candidate sets = missed duplicates). The marker makes the mismatch a
# loud, named error; the dtype cross-check below catches it even for
# marker-less legacy stores.
JACCARD_INDEX_META = "_index_meta.json"
_JACCARD_FORMAT_VERSION = 2  # v1: string shingles (≤r10); v2: xxhash64 longs


def _assert_shingle_type(store_type: str, batch_type: str, context: str) -> None:
    """Loud failure for the silent-coercion trap: a store and a probe
    batch whose shingle columns are different types can only ever join
    under implicit casts — producing EMPTY candidate sets (missed
    duplicate pairs), not an error. Raise with a rebuild hint instead."""
    if store_type != batch_type:
        raise ValueError(
            f"jaccard index shingle type mismatch in {context}: the store "
            f"carries shingle: {store_type} but the batch computes "
            f"shingle: {batch_type}. This index was built by an "
            "incompatible version (r11 changed shingles from string to "
            "xxhash64 bigint) — rebuild it with write_jaccard_index, or "
            "probe it with the code that built it."
        )


def _sh_bucket(col: str | Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def write_jaccard_index(
    index: tuple[DataFrame, DataFrame, DataFrame],
    path: str,
    sh_buckets: int | None = None,
    id_buckets: int | None = None,
) -> None:
    """Persist a :func:`jaccard_prefix_index` as partition-pruned parquet
    — the durable form of the standing-pipeline contract:

    * ``{path}/df`` and ``{path}/prefix`` partitioned by ``sh_bucket =
      pmod(xxhash64(shingle), sh_buckets)``: a batch probe computes its
      own shingles' buckets and reads ONLY matching directories, so
      per-batch index I/O is min(batch's bucket spread, whole index) —
      batch-proportional for the small standing batches the incremental
      contract exists for, never worse than the full scan.
    * ``{path}/sets`` partitioned by ``id_bucket = pmod(doc_id,
      id_buckets)``: verification reads only the candidate ids' buckets.
    * ``prefix`` additionally sorted by ``shingle`` within partitions so
      parquet row-group min/max stats prune inside each bucket too.

    ``repartition`` on the partition column first ⇒ one writer task per
    directory (no small-file explosion). At 100 TB raise the bucket
    counts (finer pruning, same plan shape).

    ``sh_buckets`` / ``id_buckets`` default to size-adaptive counts
    (``storeio.adaptive_buckets`` over the corpus doc count — ``sets`` is
    persisted, so the count is one cheap job) and are recorded in the
    store's ``_index_meta.json``; extends and probes resolve the counts
    from there, so writer/prober agreement is structural.
    """
    df_counts, sets, prefix = index
    if sh_buckets is None or id_buckets is None:
        n_docs = sets.count()
        if sh_buckets is None:
            sh_buckets = adaptive_buckets(n_docs, JACCARD_SH_BUCKETS, 64)
        if id_buckets is None:
            id_buckets = adaptive_buckets(n_docs, JACCARD_ID_BUCKETS, 256)
    write_partitioned(
        df_counts.select(
            "shingle", "df", _sh_bucket("shingle", sh_buckets).alias("sh_bucket")
        ),
        f"{path}/df",
        "sh_bucket",
    )
    write_partitioned(
        sets.select(
            "doc_id", "sh", "sz",
            F.pmod(F.col("doc_id"), F.lit(id_buckets)).alias("id_bucket"),
        ),
        f"{path}/sets",
        "id_bucket",
    )
    write_partitioned(
        prefix.select(
            "doc_id", "shingle", _sh_bucket("shingle", sh_buckets).alias("sh_bucket")
        ),
        f"{path}/prefix",
        "sh_bucket",
        "shingle",
    )
    write_json(
        df_counts.sparkSession,
        f"{path}/{JACCARD_INDEX_META}",
        {
            "format_version": _JACCARD_FORMAT_VERSION,
            "shingle_type": dict(df_counts.dtypes)["shingle"],
            "sh_buckets": int(sh_buckets),
            "id_buckets": int(id_buckets),
        },
    )


class JaccardIndex(tuple):
    """The ``(df, sets, prefix)`` frame triple of a durable Jaccard
    index, with the store's ``_index_meta.json`` dict attached as
    ``.meta`` (None for marker-less legacy stores). Unpacks exactly like
    the plain tuple it subclasses; the meta is how probes and extends
    resolve the store's bucket counts without the caller threading them
    through (writer/prober agreement is structural, never a
    convention)."""

    meta: dict | None = None

    @staticmethod
    def of(frames, meta: dict | None) -> "JaccardIndex":
        out = JaccardIndex(frames)
        out.meta = meta
        return out


def read_jaccard_index(
    spark, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Load a :func:`write_jaccard_index` store. The returned frames keep
    their ``sh_bucket`` / ``id_bucket`` partition columns — their
    presence is what switches :func:`incremental_jaccard_pairs_indexed`
    onto the bucket-pruned probe path — and carry the store meta
    (:class:`JaccardIndex`) so the probe prunes with the writer's bucket
    counts."""
    out = tuple(
        spark.read.parquet(f"{path}/{name}") for name in ("df", "sets", "prefix")
    )
    meta = read_json(spark, f"{path}/{JACCARD_INDEX_META}")
    if meta is not None:
        _assert_shingle_type(
            meta["shingle_type"],
            dict(out[0].dtypes)["shingle"],
            f"read_jaccard_index({path})",
        )
    return JaccardIndex.of(out, meta)


def read_jaccard_index_live(
    spark, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Load a durable Jaccard index INCLUDING live extend epochs:
    ``sets``/``prefix`` are base ∪ every epoch delta not yet folded per
    the base's folded-epochs manifest (``storeio.read_live`` — the
    same liveness rule as the text/PQ/DSIR stores, so a replay of a
    folded epoch is dead, not double-counted). ``df`` is the base alone:
    the frozen total order never has deltas (see
    :func:`extend_jaccard_index`). Partition columns survive the union,
    so the bucket-pruned probe path engages per generation."""
    df_counts = spark.read.parquet(f"{path}/df")
    meta = read_json(spark, f"{path}/{JACCARD_INDEX_META}")
    if meta is not None:
        _assert_shingle_type(
            meta["shingle_type"],
            dict(df_counts.dtypes)["shingle"],
            f"read_jaccard_index_live({path})",
        )
    out = [df_counts] + [read_live(spark, path, k) for k in ("sets", "prefix")]
    return JaccardIndex.of(out, meta)


def extend_jaccard_index(
    spark,
    path: str,
    batch: DataFrame,
    epoch: int,
    n: int = 3,
    threshold: float = 0.8,
    sh_buckets: int | None = None,
    id_buckets: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    elements: DataFrame | None = None,
) -> None:
    """Add a batch of documents to a durable Jaccard index WITHOUT
    rebuilding it — the maintenance verb this store was missing (every
    other durable store here has one): the batch's sets/prefix rows land
    as bucket-partitioned epoch deltas under ``sets_delta/epoch=<n>`` /
    ``prefix_delta/epoch=<n>``, per-epoch OVERWRITE so foreachBatch's
    at-least-once replay is idempotent.

    Exactness: the frozen total order is ``(df_base(shingle) or 0,
    shingle)`` — a FIXED function, independent of extensions, that every
    generation (base build, every extend, every probe) sorts by. The
    prefix-filter theorem holds for ANY fixed total order, so ``df``
    never needs a delta: extension docs rank their never-seen shingles
     0 (rarest), exactly as probes do, and probe results over the live
    store equal a one-shot ``incremental_jaccard_pairs`` over
    base ∪ every extension ∪ batch (the oracle states exactly that —
    candidate sets differ by the order, exact verification does not).

    Cost tracks the batch: one shingle pass, one bucket-pruned ``df``
    lookup (the batch's own buckets only), two batch-sized writes. The
    base store is never read in full, never rewritten.

    ``threshold`` and the bucket counts must match the writer's
    (prefix length depends on the threshold — same prober contract as
    :func:`incremental_jaccard_pairs_indexed`).

    ``elements``: pre-computed ``(doc_id, shingle)`` batch frame, same
    contract as :func:`jaccard_prefix_index` — must match the store's
    element type.
    """
    sh_buckets, id_buckets = resolve_buckets(
        read_json(spark, f"{path}/{JACCARD_INDEX_META}"),
        f"extend_jaccard_index({path})",
        sh_buckets=(sh_buckets, JACCARD_SH_BUCKETS),
        id_buckets=(id_buckets, JACCARD_ID_BUCKETS),
    )
    batch_sh = (
        elements.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col("shingle")
        )
        if elements is not None
        else _hashed_doc_shingles(batch, n, id_col, text_col)
    ).persist()
    try:
        buckets = [
            r[0]
            for r in batch_sh.select(
                _sh_bucket("shingle", sh_buckets).alias("b")
            )
            .distinct()
            .collect()
        ] or [-1]
        df_index = (
            spark.read.parquet(f"{path}/df")
            .where(F.col("sh_bucket").isin(buckets))
            .drop("sh_bucket")
        )
        _assert_shingle_type(
            dict(df_index.dtypes)["shingle"],
            dict(batch_sh.dtypes)["shingle"],
            f"extend_jaccard_index({path})",
        )
        ranked = batch_sh.join(df_index, "shingle", "left").select(
            "doc_id", "shingle", F.coalesce("df", F.lit(0)).alias("df")
        )
        batch_sets = (
            ranked.groupBy("doc_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias(
                    "ord"
                )
            )
            .select(
                "doc_id",
                F.col("ord.shingle").alias("sh"),
                F.size("ord").alias("sz"),
            )
            .persist()
        )
        try:
            write_partitioned(
                batch_sets.withColumn(
                    "id_bucket", F.pmod(F.col("doc_id"), F.lit(id_buckets))
                ),
                epoch_dir(spark, path, "sets", epoch),
                "id_bucket",
            )
            write_partitioned(
                batch_sets.select(
                    "doc_id",
                    F.explode(
                        F.expr(f"slice(sh, 1, sz - ceil({threshold} * sz) + 1)")
                    ).alias("shingle"),
                ).select(
                    "doc_id",
                    "shingle",
                    _sh_bucket("shingle", sh_buckets).alias("sh_bucket"),
                ),
                epoch_dir(spark, path, "prefix", epoch),
                "sh_bucket",
                "shingle",
            )
        finally:
            batch_sets.unpersist()
    finally:
        batch_sh.unpersist()


def compact_jaccard_index(spark, path: str) -> None:
    """Fold extend epochs back into the base store — the Jaccard-index
    OPTIMIZE: ``sets``/``prefix`` are pure unions of immutable rows,
    staged and installed by ``storeio.compact_delta_store`` (manifest
    before install, GC only manifest-folded deltas, rollback on failed
    install), so a crash at any point leaves an exact,
    never-double-counting index and an epoch a concurrent extend lands
    mid-compaction survives as live. ``df`` is untouched — the frozen
    order is permanent by design."""
    compact_delta_store(spark, path, {
        "sets": lambda live, dest: write_partitioned(live, dest, "id_bucket"),
        "prefix": lambda live, dest: write_partitioned(
            live, dest, "sh_bucket", "shingle"
        ),
    })


def incremental_jaccard_pairs_indexed(
    index: tuple[DataFrame, DataFrame, DataFrame],
    batch: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh_buckets: int | None = None,
    id_buckets: int | None = None,
    elements: DataFrame | None = None,
) -> DataFrame:
    """Exact incremental near-dup against a persisted
    :func:`jaccard_prefix_index` — Jaccard pairs touching the NEW batch
    only, with NO corpus-side aggregate in the probe plan: the batch's
    shingles look up their frozen rank in ``df_index`` (hash join), the
    batch's prefixes join ``prefix_index`` ∪ their own explode into
    candidates keyed by the batch doc, and verification inner-joins each
    to its batch set and the other doc's set (``sets_index`` ∪ batch).
    Work at 100 TB is proportional to the batch plus index lookups.

    **Bucket-pruned probe**: when the index frames come from
    :func:`read_jaccard_index` (they carry ``sh_bucket`` / ``id_bucket``
    partition columns), the probe first computes the ≤ ``sh_buckets``
    distinct buckets the batch's own shingles hash into (one small
    batch-side aggregate; the driver transfer is bounded by the bucket
    count, never the batch) and statically filters every index read down
    to those partition directories — df lookup, prefix join, and (via
    the candidate ids' buckets) the verification sets. The scans show
    ``PartitionFilters: [sh_bucket IN (…)]`` (pinned in
    tests/test_plans.py), so per-batch index I/O is bucket-pruned
    instead of a full index scan. Correctness is unaffected: every
    batch shingle's bucket is in the probed set by construction, and
    dropped index rows can never join or verify.

    Results equal :func:`incremental_jaccard_pairs` over (corpus,
    batch) exactly: candidates under the frozen order are a different
    superset, but exact verification decides membership (same oracle).

    ``id_col`` values must be disjoint between corpus and batch.
    ``sh_buckets`` / ``id_buckets`` must match the writer's values.
    ``elements``: pre-computed ``(doc_id, shingle)`` batch frame, same
    contract as :func:`jaccard_prefix_index` — must match the store's
    element type.
    """
    df_index, sets_index, prefix_index = index
    # bucket counts: explicit arg > the store meta riding on the index
    # frames (JaccardIndex — how adaptive-bucket stores stay consistent
    # between writer and prober) > the module caps (legacy stores)
    sh_buckets, id_buckets = resolve_buckets(
        getattr(index, "meta", None),
        "incremental_jaccard_pairs_indexed",
        sh_buckets=(sh_buckets, JACCARD_SH_BUCKETS),
        id_buckets=(id_buckets, JACCARD_ID_BUCKETS),
    )
    pruned = "sh_bucket" in prefix_index.columns
    batch_sh = (
        elements.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col("shingle")
        )
        if elements is not None
        else _hashed_doc_shingles(batch, n, id_col, text_col)
    )
    if pruned:
        # persisted: feeds the bucket-set collect AND the ranking join
        batch_sh = _persist(batch_sh)
        buckets = [
            r[0]
            for r in batch_sh.select(
                _sh_bucket("shingle", sh_buckets).alias("b")
            )
            .distinct()
            .collect()
        ] or [-1]  # empty batch: a never-matching filter, not isin()
        if "sh_bucket" in df_index.columns:
            df_index = df_index.where(
                F.col("sh_bucket").isin(buckets)
            ).drop("sh_bucket")
        prefix_index = prefix_index.where(
            F.col("sh_bucket").isin(buckets)
        ).drop("sh_bucket")
    # frozen-order rank: corpus df, or 0 (rarest) for never-seen
    # shingles — an ORDER-EXTENSION, so corpus-time prefixes stay valid
    _assert_shingle_type(
        dict(df_index.dtypes)["shingle"],
        dict(batch_sh.dtypes)["shingle"],
        "incremental_jaccard_pairs_indexed",
    )
    ranked = batch_sh.join(df_index, "shingle", "left").select(
        "doc_id", "shingle", F.coalesce("df", F.lit(0)).alias("df")
    )
    batch_sets = _persist(
        ranked.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("ord"))
        .select(
            "doc_id",
            F.col("ord.shingle").alias("sh"),
            F.size("ord").alias("sz"),
        )
    )
    batch_prefix = batch_sets.select(
        "doc_id",
        F.explode(
            F.expr(f"slice(sh, 1, sz - ceil({threshold} * sz) + 1)")
        ).alias("shingle"),
    )
    # NOTE on probe cost: the batch side of the candidate join is
    # batch-sized and broadcasts, so the per-batch cost is one map-side
    # pass over the (bucket-pruned, when durable) prefix_index — no
    # corpus-sized shuffle. An explicit broadcast-semi pre-prune of the
    # index rows was tried and REJECTED — it adds a second index pass
    # for nothing the join's own broadcast doesn't already give; the
    # partition-directory pruning above is the one that cuts I/O.
    # tagged union: a candidate is (id_q = batch doc, id_o = other doc);
    # a batch-batch pair meets itself twice and is kept once, id_q < id_o;
    # a replayed batch doc never pairs with its own index row
    all_prefix = prefix_index.withColumn("in_batch", F.lit(False)).unionByName(
        batch_prefix.withColumn("in_batch", F.lit(True))
    )
    a = batch_prefix.alias("a")
    b = all_prefix.alias("b")
    # persisted: read by the id-bucket collect and by verification
    candidates = _persist(
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & F.when(F.col("b.in_batch"), F.col("a.doc_id") < F.col("b.doc_id"))
               .otherwise(F.col("a.doc_id") != F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_q"), F.col("b.doc_id").alias("id_o"))
        .distinct()
    )
    if "id_bucket" in sets_index.columns:
        # only id_o can be an index doc — one tiny job over the cache
        id_bs = [
            r[0]
            for r in candidates.select(
                F.pmod(F.col("id_o"), F.lit(id_buckets)).alias("b")
            )
            .distinct()
            .collect()
        ] or [-1]  # no candidates: a never-matching filter, not isin()
        sets_index = sets_index.where(
            F.col("id_bucket").isin(id_bs)
        ).drop("id_bucket")
    # inner joins only: a semi-join into the sets union would be pushed
    # into every branch (base, live epochs, batch), a stage apiece
    sh_q = batch_sets.select(F.col("doc_id").alias("id_q"), F.col("sh").alias("sh_a"))
    sh_o = sets_index.select(F.col("doc_id").alias("id_o"), F.col("sh").alias("sh_b"))
    joined = candidates.join(sh_q, "id_q").join(
        sh_o.unionByName(sh_q.toDF("id_o", "sh_b")), "id_o"
    )
    return _jaccard_at_least(
        joined, F.least("id_q", "id_o"), F.greatest("id_q", "id_o"), threshold
    )


def minhash_band_index(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Banded MinHash signatures: ``(doc_id, band, band_hash)`` rows.

    Band hashes depend only on the document's own shingles (no
    corpus-wide statistics), so this table is a PERSISTABLE INDEX: write
    it once per corpus, and each arriving batch's bands join against it
    without recomputing anything corpus-side
    (:func:`incremental_minhash_pairs`).

    Implementation note: the band expression is ONE nested
    higher-order-function expression referencing the shingle array
    exactly once. Unrolling ``sig[i]`` per band lets CollapseProject
    inline the whole signature computation into every reference → a
    generated method far past the JIT/Janino budget (observed ~10 s of
    compile per plan at ANY data size). ``hash(array<int>)`` is a
    supported Murmur3 input, so each band hashes its row-slice of
    minhashes directly.
    """
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    rows = num_hashes // bands
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.hash(
            F.transform(
                F.sequence(b * rows, b * rows + (rows - 1)),
                lambda i: F.array_min(
                    F.transform(F.col("__sh"), lambda s: F.hash(s, i))
                ),
            )
        ),
    )
    return _shingle_arrays(docs, n, id_col, text_col).select(
        "doc_id", F.posexplode(band_hashes).alias("band", "band_hash")
    )


def _verify_exact_jaccard(
    docs: DataFrame,
    candidates: DataFrame,
    n: int,
    threshold: float,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact shingle-Jaccard verification of (id_a, id_b) candidates —
    precision is exact regardless of how candidates were generated.

    ``docs`` is semi-joined to the candidate id set BEFORE shingling:
    only documents that actually appear in a candidate pair are ever
    re-shingled or materialized in the persisted set-aggregate. For the
    incremental callers this is what keeps verification proportional to
    the batch (the candidate-id filter could not push below the
    persisted ``collect_set`` on its own, so without the semi-join the
    whole corpus would re-shingle on every call)."""
    cand_ids = (
        candidates.select(F.col("id_a").alias("__cid"))
        .unionByName(candidates.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    # INNER join (cand_ids is distinct, so it never duplicates), NOT
    # left_semi — the choice is LOAD-BEARING: ``docs`` is a union for
    # the incremental callers, and PushDownLeftSemiAntiJoin pushes a
    # semi-join into both union branches, each ending hash-partitioned
    # on doc_id. Spark 4.1's UnionExec then CLAIMS the single-branch
    # HashPartitioning(shuffle.partitions) while its RDD really has
    # the SUM of the branches' partitions; the bogus claim rides the
    # persisted aggregate's cache, EnsureRequirements trusts it and
    # skips the exchange under the verification SortMergeJoin, and the
    # join dies at runtime with "Can't zip RDDs with unequal numbers
    # of partitions: List(64, 128)" — deterministic at ≥2-batch corpus
    # scale, AQE on or off (first hit by tools/ingest_disorder_scale_
    # run.py at 400k docs; an explicit repartition barrier gets pruned
    # as "redundant" against the same false claim). Inner joins are
    # not pushed through Union, so the union stays below one honest
    # exchange. Cost is identical: the semi form shuffled docs by
    # doc_id for its own SMJ anyway, and shingling still happens only
    # for candidate-pair documents.
    pruned = docs.join(
        cand_ids, F.col(id_col).cast("long") == F.col("__cid"), "inner"
    ).drop("__cid")
    sh = _persist(
        doc_shingles(pruned, n, id_col, text_col)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
    )
    return _verify_pairs(sh, candidates, threshold)


def _cap_band_buckets(bands_df: DataFrame, max_bucket: int) -> DataFrame:
    """Drop every (band, band_hash) bucket larger than ``max_bucket``.

    The LSH skew guard: a boilerplate-heavy cluster (thousands of docs
    sharing 95% of their text) collapses onto the same band hashes, and
    the band self-join then emits |bucket|² candidate pairs from ONE hot
    key — the quadratic blowup LSH exists to avoid. Oversized buckets
    carry almost no information (everything in them matches everything)
    and their members are exactly what exact-dedup / clustering handles
    better, so dropping them trades bounded recall on mega-clusters for
    a hard cap on join fan-out. Implemented as aggregate + anti-join on
    the OVERSIZED buckets: the groupBy's map-side partial combine keeps
    even the hot bucket cheap (a count-window would put the whole bucket
    in one task), and at most |bands_df| / max_bucket buckets can be
    oversized, so the anti-join's build side is usually tiny and AQE's
    runtime re-plan broadcasts it (semi-joining the KEPT buckets instead
    would always shuffle both sides, since almost every bucket is kept).
    No broadcast HINT on purpose: |bands|/max_bucket is "usually tiny",
    not bounded — a pathological corpus where millions of buckets sit
    just over the cap must degrade to a shuffle join, not blow up the
    driver collecting an unbounded broadcast.
    """
    big = (
        bands_df.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where(F.col("__bn") > max_bucket)
        .select("band", "band_hash")
    )
    return bands_df.join(big, ["band", "band_hash"], "left_anti")


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, Jaccard-verified.

    ``num_hashes`` must divide into ``bands`` (rows = num_hashes/bands);
    same-band-hash docs become candidates (one shuffle on band key),
    then candidates are verified with exact shingle Jaccard — so output
    precision is exact; only recall depends on the banding.

    ``max_bucket`` (optional) drops band buckets larger than the cap
    before the self-join — the skew guard for boilerplate mega-clusters
    (see :func:`_cap_band_buckets`); capped-run results are always a
    subset of the uncapped run's.
    """
    # persisted: the signature computation runs once, not once per
    # self-join side (Catalyst's ReusedExchange does not fire here — the
    # two sides' pruned projections differ, so the subplans aren't equal)
    banded = _persist(
        minhash_band_index(docs, n, num_hashes, bands, id_col, text_col)
    )
    if max_bucket is not None:
        banded = _cap_band_buckets(banded, max_bucket)
    c1 = banded.alias("x")
    c2 = banded.alias("y")
    candidates = (
        c1.join(
            c2,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .distinct()
    )
    return _verify_exact_jaccard(docs, candidates, n, threshold, id_col, text_col)


def incremental_minhash_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_index: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate incremental near-dup: LSH candidate pairs touching
    the NEW batch only, Jaccard-verified — the approximate sibling of
    :func:`incremental_jaccard_pairs` for when even the batch's exact
    prefix join is too wide.

    Because band hashes are per-document (no corpus statistics), the
    batch's bands probe ``corpus_index`` — a PERSISTED
    :func:`minhash_band_index` table at 100 TB, passed in so nothing
    corpus-sized recomputes — plus the batch's own bands; candidate
    generation never touches corpus-vs-corpus pairs, and results equal
    the pairs-touching-batch subset of ``minhash_lsh_pairs`` over the
    union (pinned by test). Verification shingle sets are built only
    from the union (and only candidate ids' sets are ever joined).

    ``id_col`` values must be disjoint between corpus and batch.
    """
    if corpus_index is None:
        corpus_index = minhash_band_index(
            corpus, n, num_hashes, bands, id_col, text_col
        )
    batch_bands = _persist(
        minhash_band_index(batch, n, num_hashes, bands, id_col, text_col)
    )
    all_bands = corpus_index.unionByName(batch_bands)
    if max_bucket is not None:
        # cap on COMBINED bucket size (corpus + batch). Capping the
        # build side alone suffices: the candidate join is an INNER
        # join on (band, band_hash), so a batch row whose bucket was
        # dropped from all_bands already yields no candidates — a
        # batch-side pre-filter would be a corpus-scale distinct +
        # semi-join of pure dead work on the hot incremental path.
        all_bands = _cap_band_buckets(all_bands, max_bucket)
    a = batch_bands.alias("x")
    b = all_bands.alias("y")
    # The persist is LOAD-BEARING twice over. (1) Work: the candidate
    # frame is consumed four times downstream (both cand_ids branches
    # + both sides of the verification join) — uncached, the whole
    # band probe recompiles and re-executes per consumer. (2) A Spark
    # 4.1 planner bug: each EXTRA compile of this subtree re-resolves
    # its skew-cap anti-join union through ReuseExchange, which
    # rewrites the branches' attribute ids; the union's co-partitioning
    # CLAIM (trusted by EnsureRequirements at planning time, so no
    # exchange was inserted above it) then silently degrades, the
    # runtime union falls back from partition-aligned merge to
    # concatenation, and the parent join dies with "Can't zip RDDs
    # with unequal numbers of partitions: List(64, 128)" —
    # deterministic at ≥2-batch corpus scale, AQE on or off (first
    # caught by tools/ingest_disorder_scale_run.py at 400k docs; a
    # repartition barrier gets pruned as redundant against the same
    # stale claim). Caching makes every downstream consumer read one
    # compiled-once cache scan instead of re-planning the diamond.
    candidates = _persist(
        a.join(
            b,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("id_a"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("id_b"),
        )
        .distinct()
    )
    all_docs = corpus.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).unionByName(
        batch.select(F.col(id_col).cast("long").alias(id_col), F.col(text_col))
    )
    return _verify_exact_jaccard(
        all_docs, candidates, n, threshold, id_col, text_col
    )


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, simhash: long) — 64-bit SimHash over word hashes.

    Two Murmur3 32-bit hashes (different seeds) form the 64 bit
    channels; each bit of the fingerprint is the sign of the summed ±1
    votes across words. Pure aggregation — explode + 64 conditional
    sums in one groupBy pass.
    """
    # Map-only nested-HOF formulation. The naive form — explode words,
    # then 64 conditional SUMs (one per fingerprint bit) in a groupBy —
    # shuffles every word row AND unrolls a 64-wide aggregate whose
    # generated code blows the Janino/JIT budget (the minhash trap,
    # see spark-expression-perf-traps): ~3 s at sf0.1. Here the whole
    # fingerprint is one projection: per-word hash structs once, a
    # 64-lane vote accumulator via aggregate/zip_with, then a fold over
    # the lanes — no shuffle, no wide aggregate, loop-shaped codegen.
    seq64 = F.sequence(F.lit(0), F.lit(63))
    hashed = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        words(text_col).alias("__ws"),
    ).select(
        "doc_id",
        # size() doubles as the CollapseProject barrier keeping the
        # regex split materialized once per row
        F.size("__ws").alias("n_words"),
        F.transform(
            "__ws",
            lambda w: F.struct(
                F.hash(w).alias("lo"), F.hash(w, F.lit(777)).alias("hi")
            ),
        ).alias("__hs"),
    )
    votes = F.aggregate(
        F.col("__hs"),
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                seq64,
                lambda b: F.call_function(
                    "shiftright", F.when(b < 32, h.lo).otherwise(h.hi), b % 32
                )
                .bitwiseAND(F.lit(1))
                .cast("long"),
            ),
            lambda a, v: a + v,
        ),
    )
    voted = hashed.select("doc_id", "n_words", votes.alias("__votes"))
    # majority vote: bit set iff more 1s than 0s (ties -> 0, matching the
    # strict `votes > 0` of a +-1 formulation)
    fp = F.aggregate(
        F.zip_with(
            F.col("__votes"),
            seq64,
            lambda ones, b: F.when(
                ones * 2 > F.col("n_words"),
                F.call_function("shiftleft", F.lit(1).cast("long"), b),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda f, t: f.bitwiseXOR(t),
    )
    return voted.select("doc_id", fp.alias("simhash"), "n_words").select(
        "doc_id", "simhash"
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: with 4 bands of 16 bits, any pair within
    hamming ≤ 3 shares at least one exact band → candidates come from 4
    cheap equality joins, verified with ``bit_count(xor)``.
    """
    # persisted: the 64-aggregate fingerprint pass runs once, not once
    # per self-join side (same ReusedExchange gap as minhash above)
    fps = _persist(simhash_fingerprints(docs, id_col, text_col))
    banded = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band", "band_bits"),
    )
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_bits") == F.col("y.band_bits"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.expr("bit_count(x.simhash ^ y.simhash)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT cosine near-dup pairs via block-nested-loop matrix products.

    The naive formulation (self-join + per-pair HOF cosine) evaluates an
    interpreted ~64-term expression per pair and recomputes both norms
    every time — measured 70 s for 2000 vectors. Instead: vectors are
    hashed into ``n_blocks`` buckets, every bucket *pair* becomes one
    ``applyInPandas`` group, and the group computes the normalized
    ``X @ Yᵀ`` with BLAS — the standard distributed exact-all-pairs
    shape. Work is still O(n²·d) (it must be — the result is exact) but
    the kernel runs at matrix-multiply speed, each task holds only two
    blocks, and adding blocks scales the same total work out across the
    cluster. Row replication factor is ``n_blocks`` (each vector joins
    every pair it participates in) — size blocks so a pair fits task
    memory.
    """
    v = emb.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    tagged = v.select(
        "vid",
        "vec",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        # `other` sweeps 0..n_blocks-1 exactly once per row, so every
        # unordered pair (p_lo, p_hi) gets each participating row once —
        # no dedup shuffle needed
        F.least("blk", "other").alias("p_lo"),
        F.greatest("blk", "other").alias("p_hi"),
        "vid",
        "vec",
        "blk",
    )

    def compute(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )
        lo, hi = int(key[0]), int(key[1])
        left = pdf[pdf["blk"] == lo]
        if left.empty:  # a hash residue with no vectors (tiny/skewed id sets)
            return empty
        X = np.stack(left["vec"].to_numpy()).astype(np.float64)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        xid = left["vid"].to_numpy()
        if lo == hi:
            C = np.round(X @ X.T, 6)
            ii, jj = np.nonzero(C >= threshold)
            keep = xid[ii] < xid[jj]
            ia, ib, cs = xid[ii][keep], xid[jj][keep], C[ii, jj][keep]
        else:
            right = pdf[pdf["blk"] == hi]
            if right.empty:
                return empty
            Y = np.stack(right["vec"].to_numpy()).astype(np.float64)
            Y /= np.linalg.norm(Y, axis=1, keepdims=True)
            yid = right["vid"].to_numpy()
            C = np.round(X @ Y.T, 6)
            ii, jj = np.nonzero(C >= threshold)
            a, b = xid[ii], yid[jj]
            ia, ib = np.minimum(a, b), np.maximum(a, b)
            cs = C[ii, jj]
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": cs})

    return tagged.groupBy("p_lo", "p_hi").applyInPandas(
        compute, "id_a long, id_b long, cosine double"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(doc_id, component_id) — connected components of the near-dup
    pair graph; component_id = smallest doc_id reachable.

    This is the step that turns pairwise similarity into dedup *groups*
    (keep one canonical doc per component, drop the rest). Iterative
    min-label propagation: each round every node takes the minimum label
    among itself and its neighbors, converging in O(diameter) rounds —
    near-dup clusters are shallow (a dup cluster's diameter is tiny), so
    this beats the O(log n)-round large-star/small-star scheme in
    practice while using only joins + groupBy. The driver loop carries
    no data — only the converged/changed counter — and lineage is cut
    with localCheckpoint each round so plans stay flat at scale.

    ``max_iter`` bounds the loop; if propagation has not converged by
    then (a component with diameter > max_iter — a chain, not a dup
    cluster) a warning with the residual changed-label count is logged
    and the partial labels are returned (components may be split, never
    wrongly merged — labels only ever decrease toward the true
    minimum). For such graphs — or for dup graphs so skewed that one
    hub's neighbor list dominates a round — the O(log n)-round
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond") is the drop-in alternative.
    """
    # Partitioned by the join key BEFORE persisting: every round joins
    # edges on src, so the cached layout already satisfies the join's
    # distribution and only the (tiny) labels side shuffles per round —
    # the edge table, the big side at scale, shuffles zero times in the
    # loop. (distinct() hash-partitions on (src, dst); one extra
    # repartition here buys shuffle-free iterations.)
    #
    # Symmetrize with ONE pass over ``pairs`` (posexplode of the two
    # directed copies), not union(pairs, pairs.reversed): Catalyst does
    # not share a subtree across union branches, so the union form
    # executed the entire upstream pair pipeline (shingle + candidate
    # join + exact verification) TWICE per edge build — measured 14.6 s
    # of the 16.5 s executor CPU of dedup_components at sf0.1 in one
    # doubled stage (guide §2.4: remove recomputation before tuning
    # anything else).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
        .repartition("src")
        .persist()
    )
    # LAZY checkpoints throughout the loop (eager=False): an eager
    # localCheckpoint is its own job, so every round paid TWO job
    # submissions (materialize new_labels, then count the changed rows).
    # Lazily-marked RDDs are checkpointed by the first job that computes
    # them — the convergence count below — so each round is ONE job and
    # later rounds still read the materialized blocks, never the lineage
    # (guide §7.3: driver-side job overhead is pure per-round floor at
    # any scale; the O(diameter) loop pays it ~3-5x per query).
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    changed = 0
    converged = False
    rounds = 0
    # reset the diagnostic BEFORE iterating so a run that dies
    # mid-loop can never be misread as the previous run's round count
    connected_components.last_rounds = None
    for rounds in range(1, max_iter + 1):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component_id").alias("neighbor_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("neighbor_min"), F.col("component_id")),
                ).alias("component_id"),
                (F.col("neighbor_min") < F.col("component_id")).alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        # this count materializes the lazy checkpoint above in the SAME
        # job (LogicalRDD is opaque to Catalyst — the filter cannot be
        # pushed below the checkpoint, so all columns/rows are saved)
        changed = new_labels.where(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            converged = True
            _log.info("connected_components converged in %d rounds", rounds)
            break
    if not converged:
        _log.warning(
            "connected_components did NOT converge after %d rounds "
            "(%d labels still changing); components may be split. "
            "Raise max_iter, or switch to large-star/small-star for "
            "high-diameter graphs.",
            max_iter,
            changed,
        )
    edges.unpersist()
    # diagnostic only (NOT part of the result): lets tests pin the
    # O(diameter) convergence claim so a regression shows up as a test
    # failure, not a silent bench drift
    connected_components.last_rounds = rounds
    return labels.select(
        F.col("doc_id").cast("long"), F.col("component_id").cast("long")
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(doc_id, component_id) via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round alternative to :func:`connected_components` for
    graphs where min-label's O(diameter) rounds or a hub's single-task
    neighbor list would hurt: long chains, heavily skewed dup graphs.

    Each round is two aggregate+join passes over the edge list:

    * large-star: every node links its LARGER neighbors to its current
      minimum neighbor — hubs shrink because their big neighborhoods
      re-point in one pass (the aggregate is map-side partial, so a
      billion-spoke hub never lands on one task);
    * small-star: every node links its smaller-or-equal neighbors to
      the minimum — flattening chains by pointer doubling.

    Convergence is detected with a count + order-insensitive xxhash
    checksum of the edge set (no expensive set diff); the fixpoint is a
    star forest where every node's sole neighbor is its component
    minimum. Use min-label for shallow near-dup clusters (fewer, lighter
    rounds); use this for adversarial shapes.
    """
    # one-pass symmetrization (see connected_components: a union of two
    # selects over ``pairs`` executes the upstream pair pipeline twice)
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
                    F.struct(F.col(id_b).alias("u"), F.col(id_a).alias("v")),
                )
            ).alias("__e")
        )
        .select("__e.u", "__e.v")
        .distinct()
    )
    # NOTE: self-loop pairs are kept here on purpose — they contribute
    # their node to ``nodes`` (an isolated self-paired doc must still
    # come out labeled with itself); _star's ``directed`` drops them
    # from propagation exactly as before.
    nodes = sym.select(F.col("u").alias("doc_id")).distinct()

    def _edge_sig(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("sig"),
        ).collect()[0]
        return row["n"], row["sig"]

    def _star(e: DataFrame, large: bool) -> DataFrame:
        mins = e.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        directed = (
            e.where(cond)
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        if not large:
            # small-star also links u itself to its minimum — without
            # this the largest node of a component (no v > u neighbor to
            # re-emit it in the next large-star) would detach.
            directed = directed.unionByName(
                mins.select(F.col("u"), F.col("m").alias("v")).where(
                    F.col("u") != F.col("v")
                )
            )
        return (
            directed.unionByName(
                directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            .distinct()
            # lazy: materialized by the round's _edge_sig collect — one
            # job per round instead of three (see connected_components)
            .localCheckpoint(eager=False)
        )

    edges = sym.localCheckpoint(eager=False)
    sig = _edge_sig(edges)
    converged = False
    for rounds in range(1, max_iter + 1):
        edges = _star(_star(edges, large=True), large=False)
        new_sig = _edge_sig(edges)
        if new_sig == sig:
            converged = True
            _log.info("connected_components_star converged in %d rounds", rounds)
            break
        sig = new_sig
    if not converged:
        _log.warning(
            "connected_components_star did NOT converge after %d rounds",
            max_iter,
        )
    # Fixpoint is a star forest: each node's min neighbor is its root;
    # roots (and isolated-after-self-loop-removal nodes) label themselves.
    labels = edges.groupBy("u").agg(F.min("v").alias("mv")).select(
        F.col("u").alias("doc_id"),
        F.least("u", "mv").alias("component_id"),
    )
    return (
        nodes.join(labels, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long"),
            F.coalesce("component_id", F.col("doc_id")).cast("long").alias(
                "component_id"
            ),
        )
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per training document, how much of it
    overlaps an evaluation set — ``(doc_id, n_shingles, n_shared,
    overlap_frac)`` where ``n_shared`` counts the doc's distinct word
    n-grams that also occur anywhere in ``bench``. The standard
    train-set hygiene step before an LLM run: drop (or flag) docs with
    ``n_shared > 0`` (long n-grams make accidental collisions rare).

    Scale shape: the benchmark side is tiny relative to the corpus
    (thousands of eval docs vs billions of training docs), so its
    distinct-shingle set BROADCASTS; the training side is one map-only
    shingle explode + broadcast hash join + doc-keyed aggregate —
    nothing corpus-sized shuffles, no pairwise anything.
    """
    tr = doc_shingles(train, n, id_col, text_col)
    bench_sh = (
        doc_shingles(bench, n, id_col, text_col).select("shingle").distinct()
    )
    totals = tr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    hits = (
        tr.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return totals.join(hits, "doc_id", "left").select(
        F.col("doc_id").cast("long"),
        "n_shingles",
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        F.round(
            F.coalesce(F.col("n_shared"), F.lit(0)) / F.col("n_shingles"), 6
        ).alias("overlap_frac"),
    )


def dup_ngram_coverage(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicate-n-gram coverage — the span-level dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499), restated at n-gram granularity:
    ``(doc_id, n_ngrams, n_dup_ngrams, dup_rate)`` where an n-gram is
    *duplicate* if it occurs in ≥2 distinct documents.  Rank docs by
    ``dup_rate`` to find boilerplate/templated content that exact and
    near dedup both miss (a doc can be 40% duplicated spans yet far
    from any single other doc).

    Scale shape: per-doc DISTINCT shingles are hashed to 8 bytes
    *inside the scan stage* so the document-frequency aggregate and the
    join back both shuffle ``(doc_id, hash)`` pairs — never shingle
    text.  Both sides of the join-back hash-partition on the same key,
    so the exchange feeding the aggregate is reused for the probe side.
    Stop-shingle skew lands on the AGGREGATE (map-side combinable), not
    on a window — same argument as ``_shingle_sets``.
    """
    hashed = _persist(
        doc_shingles(docs, n, id_col, text_col).select(
            "doc_id", F.xxhash64("shingle").alias("__h")
        )
    )
    # shingles are distinct per doc, so count(*) per hash IS the doc freq
    freq = hashed.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    return (
        hashed.join(freq, "__h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum((F.col("__df") >= 2).cast("long")).cast("long").alias("n_dup_ngrams"),
        )
        .select(
            F.col("doc_id").cast("long"),
            "n_ngrams",
            "n_dup_ngrams",
            F.round(F.col("n_dup_ngrams") / F.col("n_ngrams"), 6).alias("dup_rate"),
        )
    )


def chunk_overlap_pairs(
    chunks: DataFrame,
    threshold: float = 0.5,
    id_col: str = "src_id",
    key: Column | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Document-pair resemblance over chunk sets (Broder resemblance).

    The reference's dedup set (chunk-hash ``HashSet``, ae.rs:75-84)
    lifted from corpus level to per-document sets: two documents are
    near-duplicates when their chunk fingerprint sets overlap, with
    ``jaccard = |A∩B| / |A∪B|`` over DISTINCT chunk keys. Fed by
    ``cdc_chunks`` this is shift-robust (the CDC property); fed by
    ``fixed_chunks`` it is the SQL-expressible oracle-checkable variant.

    Returns ``(id_a, id_b, shared, jaccard)`` with id_a < id_b and
    jaccard ≥ threshold.

    Scale design: only 8-byte chunk keys ever shuffle (``key`` defaults
    to ``xxhash64(chunk_text)`` computed inside the scan stage, mirroring
    with_chunk_hash); per-doc set sizes ride along as a window count over
    the distinct set, so the plan is distinct → window → one self-join on
    the inverted index → pair aggregate, with no per-doc side table to
    re-join. ``max_df`` is the skew guard: a chunk shared by more than
    ``max_df`` docs (boilerplate) is dropped before the self-join — it
    contributes O(max_df²) candidate pairs but almost no Jaccard mass.
    """
    key_expr = key if key is not None else F.xxhash64("chunk_text")
    s = (
        chunks.select(F.col(id_col).cast("long").alias("doc_id"), key_expr.alias("ck"))
        .distinct()
    )
    if max_df is not None:
        # aggregate + semi-join filter, not a key window — boilerplate
        # chunks are the hot keys the max_df cap exists to drop, and
        # they'd pin a window partition; the count table is tiny and
        # the join side AQE-splittable
        keep = (
            s.groupBy("ck")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("ck")
        )
        s = s.join(keep, "ck", "left_semi")
    w_doc = Window.partitionBy("doc_id")
    s = s.withColumn("n", F.count(F.lit(1)).over(w_doc))
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.max("a.n").alias("n_a"),
            F.max("b.n").alias("n_b"),
        )
        .select(
            "id_a",
            "id_b",
            "shared",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
