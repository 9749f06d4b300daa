"""Similarity search over embedding columns (`array<float>`).

Two tiers (task brief):

* :func:`brute_force_topk` — exact cosine top-k per query vector. The
  query set is broadcast (it is the small side by construction); the
  corpus is scanned once, similarity is a codegen'd array expression,
  and per-query ranking is a window over (query, corpus-partial) —
  O(|Q|·|C|) work distributed across the cluster with no shuffle of the
  corpus itself.
* :func:`lsh_topk` — the scale path: random-hyperplane (sign) LSH.
  Hyperplanes are deterministic pseudo-random expressions of the
  dimension index (seeded), so bucket assignment is a pure column
  expression — no model state, reproducible across runs/engines. Each
  query probes only its bucket (optionally multi-probe by flipping the
  lowest-confidence bits), turning O(|Q|·|C|) into O(|Q|·|C|/2^bits)
  expected.

* :func:`ivf_topk` — the other scale path: IVF (inverted-file) search.
  Centroids come from a few DataFrame-native Lloyd iterations (centroid
  state is k·dim floats — bounded model state, legitimately collected to
  the driver and re-broadcast as literals, exactly like MLlib's KMeans
  driver loop); each corpus vector is assigned to its nearest-centroid
  cell once, and a query probes only its ``nprobe`` nearest cells.

All return ``(query_id, rank, vec_id, cosine)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc_algorithms_spark.functions.arrays import dot_product, l2_norm
from cdc_algorithms_spark.operators.storeio import (
    compact_delta_store,
    epoch_dir,
    read_epochs,
    read_live,
    write_partitioned,
)


def _paired_cosine() -> "F.Column":
    """cosine over pre-computed per-side norms: ``dot(qv, cv) / (__qn *
    __cn)``. BIT-IDENTICAL to ``cosine_similarity("qv", "cv")`` — the
    same float ops on the same arrays, only the two ``l2_norm``
    aggregates are evaluated once per ROW (in the projection below each
    join input) instead of once per PAIR. The higher-order aggregates
    are interpreted (CodegenFallback), so a broadcast-join pair scoring
    previously paid 3 interpreted array reductions per pair; now 1
    (guide §1.2 step 2 — per-task work; the projections sit below the
    join, so CollapseProject cannot re-inline them into the pair
    expression)."""
    return F.round(
        dot_product("qv", "cv") / (F.col("__qn") * F.col("__cn")), 6
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    q = queries.select(
        F.col(query_id).cast("long").alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("__qn", l2_norm("qv"))
    c = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"), F.col(vec_col).alias("cv")
    ).withColumn("__cn", l2_norm("cv"))
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "vec_id",
        _paired_cosine().alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def _hyperplanes(dim: int, bits: int, seed: int):
    """Deterministic pseudo-random hyperplanes, generated driver-side.

    Materialized as plain Python lists and embedded as ARRAY LITERALS —
    the previous form built dim expression nodes per plane
    (hash(seed,bit,j) each), which ballooned the plan and its Janino
    compile to multiple seconds per query."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.uniform(-1.0, 1.0, (bits, dim)).tolist()


def _planes_sql(planes: list[list[float]]) -> str:
    """Nested ``array(array(...D, ...), ...)`` SQL literal for a plane /
    centroid matrix. ``repr`` round-trips Python floats exactly, so the
    parsed doubles are bit-identical to the F.lit form."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in p) + ")" for p in planes
        )
        + ")"
    )


def _vec_sql(vec_col) -> str:
    """SQL fragment referencing a TOP-LEVEL column by name. The single-
    F.expr LSH construction (r11: kills ~1.2 s of per-bit py4j expression
    building) requires a plain column name it can backtick-quote — a
    computed Column, struct field path, or Connect Column would yield
    invalid SQL here, so reject those loudly instead (r11 ADVICE):
    project the expression to a named column first."""
    if not isinstance(vec_col, str):
        raise TypeError(
            "lsh_bucket/lsh_topk vec_col must be a top-level column NAME "
            f"(str), got {type(vec_col).__name__}: select/alias the "
            "expression to a column first, e.g. "
            "df.withColumn('v', <expr>) then vec_col='v'"
        )
    return f"cast(`{vec_col}` as array<double>)"


def lsh_bucket(vec_col, dim: int, bits: int, seed: int = 42):
    """Sign-LSH bucket id: bit b = sign(v · plane_b). Pure expression
    over literal plane arrays — reproducible across runs and engines.

    Built as ONE ``F.expr`` over a nested array literal: the per-bit
    Python loop of dot_product + when + lit calls cost ~1.2 s of
    driver-side py4j roundtrips PER CONSTRUCTION (measured; the bench
    re-constructs every query per timed run, and lsh_topk builds this
    twice). Same zip_with/aggregate float ops in the same order, so
    bucket ids are unchanged."""
    planes = _hyperplanes(dim, bits, seed)
    v = _vec_sql(vec_col)
    return F.expr(
        "aggregate("
        f"  zip_with({_planes_sql(planes)}, sequence(0, {bits - 1}),"
        "    (p, b) -> IF("
        f"      aggregate(zip_with({v}, p, (x, y) -> x * y), 0.0D,"
        "        (acc, val) -> acc + val) >= 0,"
        "      shiftleft(1L, b), 0L)),"
        "  0L, (acc, x) -> acc + x)"
    )


def _dists_to_all(vec_col, centroids: list[list[float]]):
    """array<double> of squared L2 distances from a vector column to
    EVERY centroid — the whole k x dim matrix rides in as ONE nested
    array literal and the per-centroid loop is a higher-order
    ``transform``, so the expression tree is constant-sized in k and
    dim. The previous per-centroid unrolling built k·dim literal nodes
    (1024 for nlist=16 over 64 dims); analysis + Janino work on those
    trees, re-paid per job, dominated every Lloyd iteration and encode
    pass — measured 10.5 s to encode a 500-vector batch, ~1 s after
    this collapse. Same float ops in the same order, so distances (and
    the downstream argmin tie-breaks) are unchanged."""
    cents = F.lit([[float(x) for x in c] for c in centroids])
    return F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(vec_col, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _nearest_cell(vec_col, centroids: list[list[float]]):
    """1-based index of the nearest centroid — a pure expression."""
    dists = _dists_to_all(vec_col, centroids)
    return F.array_position(dists, F.array_min(dists)).cast("long")


def kmeans_centroids(
    corpus: DataFrame,
    k: int,
    dim: int,
    iters: int = 3,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic Lloyd iterations, all data-side work in DataFrames.

    Init = k pseudo-random corpus vectors (ordered by ``xxhash64(id,
    seed)`` — stable across runs/partitionings). Each iteration: nearest
    -cell assignment is a codegen'd expression; new centroids are
    per-dimension means via ``posexplode`` + groupBy — one shuffle of
    (cell, dim, value) triples, never vectors to the driver. Only the
    k·dim centroid matrix is collected per iteration.
    """
    init = (
        corpus.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(corpus_id), F.lit(seed)).alias("h"))
        .orderBy("h")
        .limit(k)
        .collect()
    )
    cents = [list(map(float, r["v"])) for r in init]
    if not cents:  # empty corpus: no centroids, callers return empty typed frames
        return []
    # corpus smaller than k: every vector is its own centroid — clamp k
    # so the empty-cell backfill below never indexes past the init list
    k = min(k, len(cents))
    for _ in range(iters):
        # two selects on purpose: a column that SITS NEXT TO an explode
        # in one projection lands in the Project ABOVE the Generate and
        # re-evaluates per EMITTED row — dim× the work for the
        # nearest-cell expression (same Generate trap as
        # dedup_docs.doc_shingles; measured 30x at 50k vectors x 64
        # cells). Pre-projecting binds the cell id BELOW the Generate,
        # once per input row.
        assigned = corpus.select(
            _nearest_cell(F.col(vec_col), cents).alias("cell"),
            F.col(vec_col).alias("__v"),
        ).select("cell", F.posexplode("__v").alias("d", "x"))
        means = (
            assigned.groupBy("cell", "d")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("ord"))
            .select("cell", F.col("ord.m").alias("centroid"))
            .collect()
        )
        new = {int(r["cell"]): list(map(float, r["centroid"])) for r in means}
        # empty cells keep their previous centroid
        cents = [new.get(i + 1, cents[i]) for i in range(k)]
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    seed: int = 42,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only within the query's ``nprobe``
    nearest centroid cells.

    Scale shape: the corpus is partitioned into ``nlist`` cells by one
    narrow expression pass; the probe join is an equi-join on cell id,
    so each corpus row meets only the queries probing its cell —
    O(|Q|·|C|·nprobe/nlist) expected work, and the cell assignment can
    be persisted/bucketed once and reused across query batches.
    Pass pre-trained ``cents`` (e.g. from :func:`kmeans_centroids`) to
    skip the inline Lloyd — the standing-pipeline form that amortizes
    training across query batches (tools/ann_scale_run.py times the
    two phases separately this way).
    """
    if cents is None:
        cents = kmeans_centroids(
            corpus, nlist, dim, iters, corpus_id, vec_col, seed
        )
    if not cents:  # empty corpus -> no neighbors, typed-empty result
        return queries.sparkSession.createDataFrame(
            [], "query_id bigint, rank bigint, vec_id bigint, cosine double"
        )
    c = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(vec_col).alias("cv"),
        _nearest_cell(F.col(vec_col), cents).alias("cell"),
    ).withColumn("__cn", l2_norm("cv"))
    dists = _dists_to_all(F.col("qv"), cents)
    # nprobe nearest cells: sort (distance, index) pairs, keep the head.
    # named_struct via SQL — Column.alias inside HOF lambdas is rejected.
    probes = F.expr(
        "slice(transform(array_sort(transform(__d, (d, i) -> "
        "named_struct('d', d, 'i', i))), s -> cast(s.i + 1 as bigint)), "
        f"1, {nprobe})"
    )
    q = queries.select(
        F.col(query_id).cast("long").alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("__qn"),
        dists.alias("__d"),
    ).select("query_id", "qv", "__qn", F.explode(probes).alias("cell"))
    scored = F.broadcast(q).join(c, "cell").select(
        "query_id",
        "vec_id",
        _paired_cosine().alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    bits: int = 4,
    seed: int = 42,
    multiprobe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: rank only within the query's probed buckets.

    Recall/latency knobs: ``bits`` (2^bits buckets) and ``multiprobe``
    (additionally probe the buckets reached by flipping the query's
    lowest-|margin| sign bits — the classic multi-probe LSH trick:
    near-zero margins are exactly the hyperplanes a true neighbor most
    likely sits on the other side of). The corpus is bucketed once; the
    probe join stays an equi-join on bucket id, with the query side
    replicated ``multiprobe+1``×, so each corpus row still shuffles to
    its one bucket group.
    """
    planes = _hyperplanes(dim, bits, seed)
    # one F.expr over the plane literal (see lsh_bucket: the unrolled
    # per-bit form cost ~0.3 s of py4j construction per call)
    margins = F.expr(
        f"transform({_planes_sql(planes)},"
        f"  p -> abs(aggregate(zip_with({_vec_sql(vec_col)}, p,"
        "    (x, y) -> x * y), 0.0D, (acc, val) -> acc + val)))"
    )
    q0 = queries.select(
        F.col(query_id).cast("long").alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("__qn"),
        lsh_bucket(vec_col, dim, bits, seed).alias("__bucket"),
        margins.alias("__m"),
    )
    flips = (
        "transform(array_sort(transform(__m, (m, i) -> named_struct('m', m, 'i', i))), "
        "s -> s.i)"
    )
    probes = F.expr(
        f"concat(array(__bucket), transform(slice({flips}, 1, {multiprobe}), "
        "i -> __bucket ^ cast(pow(2, i) as bigint)))"
    )
    q = q0.select(
        "query_id", "qv", "__qn", F.explode(probes).alias("bucket")
    )
    c = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(vec_col).alias("cv"),
        lsh_bucket(vec_col, dim, bits, seed).alias("bucket"),
    ).withColumn("__cn", l2_norm("cv"))
    scored = F.broadcast(q).join(c, "bucket").select(
        "query_id",
        "vec_id",
        _paired_cosine().alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def embedding_clusters(
    corpus: DataFrame,
    k: int,
    dim: int,
    iters: int = 3,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Semantic grouping of an embedding corpus: k-means cells as a
    first-class result (cluster id, member count, mean squared distance
    to the centroid).

    This is the curation-side use of the same Lloyd machinery IVF uses
    for search: clusters drive semantic dedup (drop near-identical
    cells), stratified corpus sampling, and topic balance checks. The
    per-row work is a codegen'd nearest-cell expression over a broadcast
    k·dim literal matrix — no Python in the assignment path, one
    aggregate shuffle for the stats.
    """
    cents = kmeans_centroids(corpus, k, dim, iters, corpus_id, vec_col, seed)
    if not cents:  # empty corpus -> typed-empty report
        return corpus.sparkSession.createDataFrame(
            [], "cluster bigint, n_members bigint, avg_sq_dist double"
        )
    dists = _dists_to_all(F.col(vec_col), cents)
    return (
        corpus.select(
            _nearest_cell(F.col(vec_col), cents).alias("cluster"),
            F.array_min(dists).alias("sq_dist"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(F.avg("sq_dist"), 4).alias("avg_sq_dist"),
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int,
    dim: int,
    threshold: float = 0.95,
    iters: int = 3,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: cluster the embedding
    corpus with k-means, then WITHIN each cluster drop every vector
    whose cosine to an already-kept lower-id vector is ≥ ``threshold``.
    Returns ``(vec_id, cluster, keep, dup_of, dup_cosine)`` — ``dup_of``
    is the kept vector that shadowed a dropped one (null for keepers).

    Why the cluster stage exists: pairwise cosine over the full corpus
    is O(n²); clustering bounds the quadratic work to within-cell pairs
    (near-duplicates land in the same cell because they are near the
    same centroid). ``k`` is the dial: pick it so the expected cell size
    (n/k) keeps the per-cell O(m²) BLAS kernel in memory — for
    pathologically hot cells, raise k or pre-split cells (same guidance
    as IVF). Assignment is a codegen'd broadcast-centroid expression;
    the only shuffle is the groupBy(cluster) feeding the per-cell
    kernel; the greedy keep rule is deterministic (ascending id), so
    output is reproducible across partitionings.
    """
    cents = kmeans_centroids(corpus, k, dim, iters, corpus_id, vec_col, seed)
    if not cents:  # empty corpus -> typed-empty result
        return corpus.sparkSession.createDataFrame(
            [],
            "vec_id long, cluster int, keep boolean, dup_of long, dup_cosine double",
        )
    assigned = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(vec_col).alias("__vec"),
        _nearest_cell(F.col(vec_col), cents).alias("cluster"),
    )

    def dedup_cell(key, pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        X /= norms
        m = len(pdf)
        keep = np.ones(m, dtype=bool)
        dup_of = np.full(m, -1, dtype=np.int64)
        dup_cos = np.full(m, np.nan)
        C = X @ X.T
        for i in range(1, m):
            kept_idx = np.nonzero(keep[:i])[0]
            if kept_idx.size == 0:
                continue
            sims = C[i, kept_idx]
            j = int(np.argmax(sims))
            if sims[j] >= threshold:
                keep[i] = False
                dup_of[i] = int(pdf["vec_id"].iloc[int(kept_idx[j])])
                dup_cos[i] = round(float(sims[j]), 6)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].astype("int64"),
                "cluster": pd.Series([int(key[0])] * m, dtype="int32"),
                "keep": keep,
                "dup_of": pd.Series(
                    [None if d < 0 else d for d in dup_of], dtype="object"
                ),
                "dup_cosine": dup_cos,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        dedup_cell,
        "vec_id long, cluster int, keep boolean, dup_of long, dup_cosine double",
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ANN (the 100 TB memory path)
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector splits into ``m``
    contiguous subspaces of ``dim/m`` dims, each clustered independently
    with the same deterministic Lloyd recurrence as the coarse IVF —
    but all ``m`` sub-problems train in ONE data pass per iteration
    (init + ``iters`` jobs total, vs m·(iters+1) for a per-subspace
    loop): each corpus row emits its m (subspace, nearest-codeword,
    sub-vector) assignments from a single Generate whose child holds
    the expensive distance expressions (evaluated once per input row,
    the kmeans_centroids Generate discipline), and one
    (subspace, cell, dim) mean aggregation updates every codebook.
    At 100 TB that is m× fewer corpus scans; on the sweep corpora it
    collapsed the cold index build from ~35 s to ~10 s. Driver
    footprint is the m x ksub x (dim/m) codebook matrix — a few KB —
    while every data-side step stays a DataFrame expression.

    Init: the ksub corpus vectors ranked first by ``xxhash64(id,
    seed)`` — the same deterministic pseudo-random draw as the coarse
    init — sliced per subspace (subspace j's codewords are those rows'
    j-th sub-vectors). One TakeOrderedAndProject job: map-side partial
    top-ksub + driver merge, NO shuffle sort — a per-subspace rank
    window would ``partitionBy`` a column with only m distinct values
    and sort the whole corpus inside m tasks, the hot-key-window shape
    this repo bans (COVERAGE §2.5 skew row). Cross-subspace init
    correlation (the m sub-inits come from the same ksub rows) is
    harmless: each subspace's Lloyd recurrence runs independently and
    its init is still ksub iid pseudo-random draws from that
    subspace's marginal."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    init = (
        corpus.select(
            F.col(vec_col).alias("v"),
            F.xxhash64(F.col(corpus_id), F.lit(seed)).alias("h"),
        )
        .orderBy("h")
        .limit(ksub)
        .collect()
    )
    books: list[list[list[float]]] = [
        [
            [float(x) for x in r["v"][j * sub : (j + 1) * sub]]
            for r in init
        ]
        for j in range(m)
    ]
    if not books[0]:  # empty corpus: no codewords anywhere
        return books
    for _ in range(iters):
        # Three selects on purpose (the kmeans_centroids Generate
        # discipline): (1) explode the m cheap sub-vector slices to a
        # concrete (j, sv) frame — the Generate's child is just slices,
        # evaluated once per input row; (2) assign the nearest codeword
        # on the CONCRETE sv with the row's own codebook picked out of
        # the 3-D literal by element_at(j) — exactly one codebook's
        # distance evaluations per row (the earlier array-of-structs
        # form re-sliced and re-zipped per codeword and ran 3x slower
        # at 250k vectors); (3) unpack dims for the mean aggregation.
        books_lit = F.lit([[list(map(float, cw)) for cw in bk] for bk in books])
        sliced = corpus.select(
            F.posexplode(
                F.array(*[
                    F.slice(F.col(vec_col), j * sub + 1, sub)
                    for j in range(m)
                ])
            ).alias("j", "sv")
        )
        bk_of_row = F.element_at(books_lit, F.col("j").cast("int") + 1)
        drow = F.transform(
            bk_of_row,
            lambda c: F.aggregate(
                F.zip_with(F.col("sv"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        assigned = (
            sliced.select(
                "j",
                F.array_position(drow, F.array_min(drow))
                .cast("long")
                .alias("cell"),
                "sv",
            )
            .select("j", "cell", F.posexplode("sv").alias("d", "x"))
        )
        means = (
            assigned.groupBy("j", "cell", "d")
            .agg(F.avg("x").alias("m"))
            .groupBy("j", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("ord"))
            .select("j", "cell", F.col("ord.m").alias("centroid"))
            .collect()
        )
        new = {
            (int(r["j"]), int(r["cell"])): list(map(float, r["centroid"]))
            for r in means
        }
        # empty cells keep their previous codeword
        books = [
            [new.get((j, c + 1), books[j][c]) for c in range(len(books[j]))]
            for j in range(m)
        ]
    return books


def _pq_code(vec_col, books: list[list[list[float]]], sub: int):
    """array<long> of 1-based nearest-codeword ids, one per subspace —
    the m-byte sketch that replaces the full vector in the scoring
    join. Pure expression (m x ksub literal distance terms)."""
    return F.array(*[
        _nearest_cell(F.slice(vec_col, j * sub + 1, sub), bk)
        for j, bk in enumerate(books)
    ])


ERR_QUANT = 1_000_000  # 1e-6 quantization-error quantum (drift stats)


def _pq_quant_err_q(vec_col, books: list[list[list[float]]], sub: int):
    """Quantized (×1e6, floored → BIGINT) PQ reconstruction error of a
    vector under FROZEN codebooks: Σ_j min_cw ||subvec_j − cw||² — the
    residual :func:`_pq_code` minimizes, as an integer so per-cell
    error totals sum order-independently (the same determinism device
    as retrieval.py's contribution quantization)."""
    total = None
    for j, bk in enumerate(books):
        s = F.slice(vec_col, j * sub + 1, sub)
        t = F.array_min(_dists_to_all(s, bk))
        total = t if total is None else total + t
    return F.floor(total * F.lit(float(ERR_QUANT))).cast("long")


def _write_codes_and_stats(
    frame: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    sub: int,
    corpus_id: str,
    vec_col: str,
    codes_path: str,
    stats_path: str,
) -> None:
    """ONE encode pass feeding both outputs: the cell-partitioned
    ``(vec_id, cell, code)`` store and the per-cell ``(cell, n, err_q)``
    drift stats (≤ nlist rows). The per-vector expressions (m·ksub
    distance terms for the code, the same terms' minima for the error)
    are the dominant encode cost, so the frame is persisted and read
    twice rather than evaluated twice; unpersisted before return."""
    enc = frame.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        _nearest_cell(F.col(vec_col), cents).alias("cell"),
        _pq_code(F.col(vec_col), books, sub).alias("code"),
        _pq_quant_err_q(F.col(vec_col), books, sub).alias("__e"),
    ).persist()
    try:
        write_partitioned(enc.drop("__e"), codes_path, "cell")
        (
            enc.groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("__e").cast("long").alias("err_q"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stats_path)
        )
    finally:
        enc.unpersist()


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    nlist: int = 16,
    nprobe: int = 4,
    rerank: int = 4,
    iters: int = 3,
    seed: int = 42,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k — the composition a billion-vector
    corpus needs: coarse IVF cells bound WHICH corpus rows a query
    meets (equi-join on cell id, as :func:`ivf_topk`), and within the
    probed cells distance comes from the asymmetric-distance (ADC)
    lookup over the PQ codes — the scoring join CARRIES only the m-byte
    code column, never vectors. (Encoding reads the vectors once, here
    inline — the one-shot/ad-hoc form; a standing pipeline trains and
    encodes ONCE via :func:`write_pq_index` and probes with the
    training-free :func:`pq_topk_indexed`.)
    The ``rerank * k`` best ADC candidates then re-rank EXACTLY by
    cosine against the true vectors (a candidate-proportional join),
    which restores most of the quantization loss.

    Every stage is a Catalyst expression: codebook training collects
    only m x ksub x dim/m floats; per query the m x ksub distance table
    is an array-of-arrays column; the ADC sum is m unrolled
    element_at lookups inside whole-stage codegen.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    cents = kmeans_centroids(corpus, nlist, dim, iters, corpus_id, vec_col, seed)
    if not cents:
        return queries.sparkSession.createDataFrame(
            [], "query_id bigint, rank bigint, vec_id bigint, cosine double"
        )
    books = pq_codebooks(corpus, dim, m, ksub, iters, corpus_id, vec_col, seed)
    # corpus side of the scoring join: cell + code ONLY (no vectors)
    c = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        _nearest_cell(F.col(vec_col), cents).alias("cell"),
        _pq_code(F.col(vec_col), books, sub).alias("code"),
    )
    vecs = corpus.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(vec_col).alias("cv"),
    )
    q = _pq_query_probes(queries, cents, books, sub, nprobe, query_id, vec_col)
    return _pq_score(q, c, vecs, k, rerank, m)


def _pq_query_probes(
    queries: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    sub: int,
    nprobe: int,
    query_id: str,
    vec_col: str,
) -> DataFrame:
    """Query side of the IVF-PQ probe: ``(query_id, qv, dt, cell)`` with
    one row per (query, probed cell). ``dt[j][c]`` is the per-query ADC
    table — sqdist(query subvector j, codeword c) — computed ONCE per
    query as an array-of-arrays column; probed cells are the ``nprobe``
    nearest coarse centroids. Pure expressions over literal matrices."""
    m = len(books)
    dt = F.array(*[
        _dists_to_all(F.slice(F.col("qv"), j * sub + 1, sub), books[j])
        for j in range(m)
    ])
    cell_dists = _dists_to_all(F.col("qv"), cents)
    probes = F.expr(
        "slice(transform(array_sort(transform(__d, (d, i) -> "
        "named_struct('d', d, 'i', i))), s -> cast(s.i + 1 as bigint)), "
        f"1, {nprobe})"
    )
    return queries.select(
        F.col(query_id).cast("long").alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(vec_col).alias("__qn"),
        dt.alias("dt"),
        cell_dists.alias("__d"),
    ).select("query_id", "qv", "__qn", "dt", F.explode(probes).alias("cell"))


def _pq_score(
    q: DataFrame, codes: DataFrame, vecs: DataFrame, k: int, rerank: int, m: int
) -> DataFrame:
    """ADC scoring + exact re-rank, shared verbatim by the inline
    (:func:`pq_topk`) and durable-index (:func:`pq_topk_indexed`) paths
    so the two are bit-identical by construction. ``q`` comes from
    :func:`_pq_query_probes`; ``codes`` is ``(vec_id, cell, code)``;
    ``vecs`` is ``(vec_id, cv)`` and is only read candidate-
    proportionally in the re-rank join."""
    from functools import reduce
    from operator import add

    adc = reduce(add, [
        F.element_at(
            F.element_at("dt", j + 1),
            F.element_at("code", j + 1).cast("int"),
        )
        for j in range(m)
    ])
    scored = F.broadcast(q).join(codes, "cell").select(
        "query_id", "qv", "__qn", "vec_id", adc.alias("adc")
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    cand = (
        scored.withColumn("__r", F.row_number().over(wa))
        .where(F.col("__r") <= rerank * k)
        .select("query_id", "qv", "__qn", "vec_id")
    )
    # exact re-rank: only the surviving candidates ever read vectors.
    # __qn is pre-computed once per query (see _paired_cosine); the cv
    # norm stays post-join on purpose — a below-join projection would
    # evaluate it for EVERY corpus vector, not just the candidate-
    # proportional matches. Bit-identical float ops either way.
    rer = cand.join(vecs, "vec_id").select(
        "query_id",
        "vec_id",
        F.round(
            dot_product("qv", "cv") / (F.col("__qn") * l2_norm("cv")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# ---------------------------------------------------------------------------
# Durable IVF-PQ index: train + encode ONCE, probe training-free forever
# ---------------------------------------------------------------------------


class PqIndex:
    """A loaded durable IVF-PQ index: the tiny trained model (coarse
    centroids + m codebooks + params — k·dim driver floats) and the
    lazy cell-partitioned ``(vec_id, cell, code)`` codes frame."""

    def __init__(self, cents, books, dim, m, ksub, codes):
        self.cents = cents
        self.books = books
        self.dim = int(dim)
        self.m = int(m)
        self.ksub = int(ksub)
        self.codes = codes


def write_pq_index(
    corpus: DataFrame,
    path: str,
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    nlist: int = 16,
    iters: int = 3,
    seed: int = 42,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the IVF-PQ model and persist BOTH halves of the standing
    index — the one-time cost a 100 TB ANN service pays once, so query
    batches never run Lloyd again (mirrors the durable near-dup index,
    dedup_docs.py::write_jaccard_index):

    * ``{path}/model``: ONE row — coarse centroids (nlist x dim), the m
      product-quantization codebooks (m x ksub x dim/m), and the params
      a probe must match. A few KB regardless of corpus size.
    * ``{path}/codes``: ``(vec_id, code)`` parquet PARTITIONED BY the
      coarse ``cell`` — a query batch reads only the cell directories
      its probes touch (PartitionFilters, pinned in tests/test_plans.py)
      and each row carries the m-byte code, never the vector. At 1B+
      vectors raise ``nlist`` (finer pruning, same plan shape);
      ``repartition("cell")`` keeps it one writer task per directory.

    Vectors themselves are NOT duplicated into the index: the exact
    re-rank reads them candidate-proportionally from the caller's
    vector table (any id-addressable store).
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    cents = kmeans_centroids(corpus, nlist, dim, iters, corpus_id, vec_col, seed)
    if not cents:
        raise ValueError("cannot index an empty corpus")
    books = pq_codebooks(corpus, dim, m, ksub, iters, corpus_id, vec_col, seed)
    spark = corpus.sparkSession
    model = spark.createDataFrame(
        [(dim, m, ksub, cents, books)],
        "dim int, m int, ksub int, "
        "centroids array<array<double>>, books array<array<array<double>>>",
    )
    model.coalesce(1).write.mode("overwrite").parquet(f"{path}/model")
    _write_codes_and_stats(
        corpus, cents, books, sub, corpus_id, vec_col,
        f"{path}/codes", f"{path}/stats",
    )


def read_pq_index(spark, path: str) -> PqIndex:
    """Load a :func:`write_pq_index` store. The model row (centroids +
    codebooks) is collected — it is k·dim floats by construction; the
    codes frame stays lazy with its ``cell`` partition column, which is
    what :func:`pq_topk_indexed` statically prunes on. Codes are the
    base encode UNION ALL any :func:`extend_pq_index` epoch deltas —
    each delta is its own cell-partitioned store, so a probe's cell
    filter pushes into every branch as a partition filter."""
    row = spark.read.parquet(f"{path}/model").collect()[0]
    cents = [list(map(float, c)) for c in row["centroids"]]
    books = [[list(map(float, cw)) for cw in bk] for bk in row["books"]]
    return PqIndex(
        cents, books, row["dim"], row["m"], row["ksub"],
        read_live(spark, path, "codes"),
    )


def extend_pq_index(
    spark,
    path: str,
    batch: DataFrame,
    epoch: int,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add a batch of new vectors to a durable :func:`write_pq_index`
    store WITHOUT retraining — the streaming-ingest half of the
    standing ANN service (mirrors the near-dup band index's epoch
    stores, streaming/near_dup.py): the persisted model is loaded (a
    few-KB row), the batch is encoded with it (nearest coarse cell +
    m-byte PQ code — pure map-side expressions, no Lloyd, no corpus
    read), and the codes land in ``{path}/codes_delta/epoch=<n>``,
    cell-partitioned like the base store. Per-epoch OVERWRITE keeps
    foreachBatch's at-least-once replay idempotent. Because encoding
    depends only on the frozen model, the extended index is
    bit-identical to encoding seed ∪ batches in one pass — streamed
    probes equal one-shot probes (pinned in tests). Codebook drift
    (a batch distribution the seed never saw) degrades recall, not
    correctness — the periodic answer is a re-train + re-encode, the
    same decay contract as layout re-planning."""
    row = spark.read.parquet(f"{path}/model").collect()[0]
    cents = [list(map(float, c)) for c in row["centroids"]]
    books = [[list(map(float, cw)) for cw in bk] for bk in row["books"]]
    sub = int(row["dim"]) // int(row["m"])
    # one encode pass writes the epoch's codes AND its drift evidence
    # under the FROZEN model (≤ nlist stats rows; per-epoch overwrite
    # keeps at-least-once replay idempotent for both)
    _write_codes_and_stats(
        batch, cents, books, sub, corpus_id, vec_col,
        epoch_dir(spark, path, "codes", epoch),
        epoch_dir(spark, path, "stats", epoch),
    )


def compact_pq_index(spark, path: str) -> None:
    """Fold the epoch deltas back into one base codes store — the
    ANN-side OPTIMIZE (the layout analogue is zorder_compact_cells).
    Every live epoch's files are listed and opened by every probe, and
    the measured cost of unfolded deltas is real (§19: 5 deltas ≈ 2.8×
    the one-file probe wall at 250k vectors, measured when each epoch
    was its own scan branch), so a standing pipeline compacts
    periodically. The merged store is staged to a sibling directory,
    then swapped in rename-first (old base parked at ``codes_old``
    until the new one is in place) so a crash mid-swap leaves a
    recoverable store, and the deltas are dropped last. Codes are
    immutable rows keyed by vec_id — the merge is a pure union, no
    dedup logic. Staging, the folded-epochs manifest (written
    BEFORE the install rename, so a crash between install and delete
    cannot double-count codes) and the install are
    ``storeio.compact_delta_store``'s."""
    compact_delta_store(spark, path, {
        "codes": lambda live, dest: write_partitioned(live, dest, "cell"),
    })


def rebuild_pq_index(
    spark,
    path: str,
    vectors: DataFrame,
    iters: int = 3,
    seed: int = 43,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Codebook-drift refresh — the verb behind the decay contract
    :func:`extend_pq_index` documents ("re-train + re-encode is the
    periodic answer"): retrain the IVF-PQ model on the CURRENT corpus
    (``vectors`` — base ∪ every streamed batch; the index stores only
    codes, so the caller's id-addressable vector table supplies the
    training data, same as the re-rank), re-encode ALL codes against
    the fresh model, and swap the staged index in rename-first.

    This is the ANN analogue of layout re-planning
    (layout.py::zorder_relayout) and the reference's seam rule one
    more time: frozen-model encode-only epochs are trusted while the
    distribution holds; once it shifts (new cluster geometry the seed
    codebooks never saw — recall erodes, measured in
    tests/test_ann_streaming.py and SCALING.md §19), the model itself
    is re-derived from data. Structural params (dim/m/ksub/nlist)
    carry over from the live model so probes keep their plan shape;
    the one-time cost is the same Lloyd + full encode a first build
    pays. Deltas are subsumed by the rebuilt base (the staged store
    has none), so probe plans drop their per-generation branches too —
    a rebuild is also the deepest compaction. Crash-safe: the live
    index is parked (``{path}__rebuild_old``) until the staged one is
    installed. Oracle-checked by ``ann_pq_rebuild_check``."""
    row = spark.read.parquet(f"{path}/model").collect()[0]
    tmp = f"{path}__rebuild_tmp"
    write_pq_index(
        vectors,
        tmp,
        dim=int(row["dim"]),
        m=int(row["m"]),
        ksub=int(row["ksub"]),
        nlist=len(row["centroids"]),
        iters=iters,
        seed=seed,
        corpus_id=corpus_id,
        vec_col=vec_col,
    )
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(path).getFileSystem(spark._jsc.hadoopConfiguration())
    old = f"{path}__rebuild_old"
    fs.delete(P(old), True)
    if not fs.rename(P(path), P(old)):
        raise IOError(f"could not park the live index at {old}")
    if not fs.rename(P(tmp), P(path)):
        raise IOError(
            f"could not install the rebuilt index; live index parked at"
            f" {old}"
        )
    fs.delete(P(old), True)


def pq_drift_report(spark, path: str) -> DataFrame:
    """Quantify codebook drift of a durable PQ store — the DETECT half
    of the ANN maintenance loop, mirroring layout_drift_report →
    zorder_relayout: per coarse cell, how much worse the frozen
    codebooks quantize the encode-only epochs than the distribution
    they were trained on.

    Returns ``(cell, n_seed, err_seed_q, n_new, err_new_q, drift_ppm)``
    where ``drift_ppm = floor(1e6 · (err_new_q/n_new) /
    (err_seed_q/n_seed))`` — parts-per-million ratio of mean quantized
    reconstruction error, new vs seed; 1_000_000 means "exactly as well
    coded as the training data", NULL where either side is empty or the
    seed error is zero. The arithmetic is integer-exact (DECIMAL(38,0)
    cross-multiplication — no float division), so the report is
    bit-stable across partitionings and engines.

    A fresh :func:`write_pq_index` / :func:`rebuild_pq_index` store has
    no ``stats_delta`` epochs → every row has ``n_new = 0``. Compaction
    (:func:`compact_pq_index`) folds CODES only and leaves the drift
    stats in place: storage maintenance must not launder drift — the
    model is still the seed model, so the evidence stays until a
    rebuild re-derives it. The whole report reads ≤ nlist·(epochs+1)
    pre-aggregated rows — no corpus scan."""
    stats = spark.read.parquet(f"{path}/stats")
    seed = stats.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").alias("n_seed"),
        F.col("err_q").alias("err_seed_q"),
    )
    new = read_epochs(spark, path, "stats", stats.schema).groupBy(
        "cell"
    ).agg(
        F.sum("n").cast("long").alias("n_new"),
        F.sum("err_q").cast("long").alias("err_new_q"),
    ).select(F.col("cell").cast("long").alias("cell"), "n_new", "err_new_q")
    zero = F.lit(0).cast("long")
    joined = seed.join(new, "cell", "full_outer").select(
        "cell",
        F.coalesce("n_seed", zero).alias("n_seed"),
        F.coalesce("err_seed_q", zero).alias("err_seed_q"),
        F.coalesce("n_new", zero).alias("n_new"),
        F.coalesce("err_new_q", zero).alias("err_new_q"),
    )
    ratio = F.expr(
        "CAST((CAST(err_new_q AS DECIMAL(38,0)) * n_seed * 1000000)"
        " DIV (CAST(err_seed_q AS DECIMAL(38,0)) * n_new) AS BIGINT)"
    )
    return joined.withColumn(
        "drift_ppm",
        F.when(
            (F.col("n_new") > 0)
            & (F.col("n_seed") > 0)
            & (F.col("err_seed_q") > 0),
            ratio,
        ),
    )


def rebuild_pq_index_if_drifted(
    spark,
    path: str,
    vectors: DataFrame,
    max_ppm: int = 1_500_000,
    skew_factor: int = 3,
    skew_floor_ppm: int = 250_000,
    iters: int = 3,
    seed: int = 43,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """The POLICY verb closing the ANN maintenance loop (the analogue
    of zorder_relayout's threshold gate). Codebook drift has TWO
    measured failure modes, and the verb triggers on either — all
    arithmetic driver-side in exact Python integers over the report's
    ≤ nlist BIGINT rows:

    1. **Error inflation**: mean quantized reconstruction error of ALL
       encode-only epochs vs ALL training data reaches ``max_ppm``
       (default 1.5e6 = coded 50% worse) — a wide/far distribution the
       codebooks can't represent (the ann_drift_check fixture:
       unseen clusters measure ≈1.21e6).
    2. **Cell collapse**: the coarse quantizer funnels the new
       distribution into a few cells — ADC ordering degenerates into
       ties and recall erodes even though absolute error can be LOW
       (a tight shifted cluster measures ppm ≈ 0.46e6 while 90% of its
       codes land in ONE cell; tools/ann_rebuild_scale_run.py). Trigger:
       the new codes' top-cell share is ≥ ``skew_factor``× the seed's
       AND ≥ ``skew_floor_ppm``. A same-distribution stream's shares
       match the seed's (ratio ≈ 1 ± sampling noise), so 3× is far
       from false-positive territory while a genuine collapse is
       typically ≥ 5×.

    Both statistics aggregate ALL encode-only epochs against the seed,
    so a long history of healthy epochs dilutes one drifted epoch —
    deliberately the layout-drift semantics (cumulative evidence, not
    per-batch alarm); a standing pipeline runs this verb on the same
    periodic cadence as compaction, which bounds the window. Returns
    True iff a rebuild ran. Below both thresholds (or with nothing
    streamed yet) the store is left byte-untouched."""
    rows = pq_drift_report(spark, path).collect()
    ns = sum(int(r["n_seed"]) for r in rows)
    es = sum(int(r["err_seed_q"]) for r in rows)
    nn = sum(int(r["n_new"]) for r in rows)
    en = sum(int(r["err_new_q"]) for r in rows)
    if nn == 0 or ns == 0:
        return False
    err_fired = es > 0 and (en * ns * 1_000_000) // (es * nn) >= max_ppm
    new_top = (max(int(r["n_new"]) for r in rows) * 1_000_000) // nn
    seed_top = (max(int(r["n_seed"]) for r in rows) * 1_000_000) // ns
    skew_fired = (
        new_top >= skew_floor_ppm and new_top >= skew_factor * seed_top
    )
    if not err_fired and not skew_fired:
        return False
    rebuild_pq_index(
        spark, path, vectors, iters=iters, seed=seed,
        corpus_id=corpus_id, vec_col=vec_col,
    )
    return True


def pq_topk_indexed(
    queries: DataFrame,
    index: PqIndex,
    vectors: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TRAINING-FREE IVF-PQ top-k against a durable
    :func:`write_pq_index` store — the standing-pipeline probe: no
    Lloyd iteration, no corpus encode, no corpus-wide scan. The probe

    1. computes each query's ADC table and ``nprobe`` nearest cells
       from the PERSISTED model (pure expressions over literal
       matrices — zero Spark jobs beyond the reads),
    2. collects the query batch's ≤ nlist distinct probed cells (the
       only driver transfer, bounded by nlist never the batch) and
       statically prunes the codes read to those partition directories
       (``PartitionFilters: cell IN (…)`` — pinned in
       tests/test_plans.py),
    3. ADC-scores the equi-join on cell over m-byte codes, and
    4. exactly re-ranks the ``rerank*k`` survivors against ``vectors``
       (the caller's id-addressable vector table) —
       candidate-proportional reads only.

    Results are bit-identical to :func:`pq_topk` with the same train
    params (same model, same scoring core — pinned in tests).
    """
    sub = index.dim // index.m
    q = _pq_query_probes(
        queries, index.cents, index.books, sub, nprobe, query_id, vec_col
    )
    # the probed-cell set: recomputed from the (small) query side rather
    # than persisting q — the probe expression is literal math over one
    # query scan, cheaper than holding executor storage per batch
    cells = [r[0] for r in q.select("cell").distinct().collect()] or [-1]
    codes = index.codes.where(F.col("cell").isin(cells))
    vecs = vectors.select(
        F.col(corpus_id).cast("long").alias("vec_id"),
        F.col(vec_col).alias("cv"),
    )
    return _pq_score(q, codes, vecs, k, rerank, index.m)
