"""Physical-layout planning: Z-order clustering and small-file compaction.

At 100 TB the dominant cost of most queries is the scan, and the
dominant lever on the scan is *layout*: co-locating rows so file-level
min/max statistics prune I/O (Z-ordering), and keeping file sizes near
the target so the scheduler isn't drowned in tiny tasks (compaction).
The reference engine (a chunking kernel) has no layout surface; these
operators supply the planning half — pure metadata computations that
Spark executes as ordinary aggregates, so they scale like any other
query.

* ``zorder_values`` / ``zorder_layout_plan``: map each row to a point
  on the Z-order (Morton) space-filling curve over two integer
  dimensions and derive the target file per row from the curve's top
  bits. Because a Z-value prefix IS a quadtree cell, `file = zval >>
  k` assigns co-located rows to the same file **without any global
  sort** — the map-only alternative to `ORDER BY zval` layouts, which
  need a range exchange. The plan output (per-file min/max of both
  dimensions) is exactly the footer statistics a reader would prune
  on, so the quality of the layout is directly inspectable.

* ``compaction_plan``: greedy bin-packing of ordered items into
  target-size output files via a running-sum window per group — the
  planning step of an OPTIMIZE/compaction job. One shuffle on the
  group key; state per task is a single running sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _scaled(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Normalize an integer column to the [0, 2**bits) grid.

    Integer-exact on both engines: the numerator and denominator are
    integers < 2**32, the IEEE quotient is correctly rounded, and a
    rational n/d can only sit within one ulp of an integer when it IS
    one — so ``floor`` is deterministic and oracle-reproducible.
    """
    return F.floor(
        (col - lo).cast("double")
        * F.lit(float(1 << bits))
        / (hi - lo + F.lit(1)).cast("double")
    ).cast("long")


def _interleave(sx: Column, sy: Column, bits: int) -> Column:
    """Morton-interleave two ``bits``-wide values; x takes the high bit
    of each pair. Pure bitwise Column arithmetic — whole-stage codegen,
    no UDF."""
    z = F.lit(0).cast("long")
    for b in range(bits):
        xbit = F.shiftright(sx, b).bitwiseAND(F.lit(1))
        ybit = F.shiftright(sy, b).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(xbit, 2 * b + 1) + F.shiftleft(ybit, 2 * b)
    return z


def zorder_values(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
) -> DataFrame:
    """Append ``zval`` (Morton code of the normalized (x, y) point).

    Normalization bounds come from a 1-row global min/max aggregate
    broadcast back over the data (the same 1-row-normalizer shape as
    ``resample_locf``): two passes over the input, zero row-to-row
    dependencies, so the operator is embarrassingly parallel.
    """
    mm = df.agg(
        F.min(x_col).cast("long").alias("__xlo"),
        F.max(x_col).cast("long").alias("__xhi"),
        F.min(y_col).cast("long").alias("__ylo"),
        F.max(y_col).cast("long").alias("__yhi"),
    )
    out = df.crossJoin(F.broadcast(mm))
    sx = _scaled(F.col(x_col).cast("long"), F.col("__xlo"), F.col("__xhi"), bits)
    sy = _scaled(F.col(y_col).cast("long"), F.col("__ylo"), F.col("__yhi"), bits)
    return out.withColumn("zval", _interleave(sx, sy, bits)).drop(
        "__xlo", "__xhi", "__ylo", "__yhi"
    )


def zorder_layout_plan(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    file_bits: int = 4,
) -> DataFrame:
    """Plan a Z-ordered file layout over two integer dimensions.

    Each row's target file is the top ``2*file_bits`` bits of its
    Z-value — a quadtree cell of the (x, y) plane — giving up to
    ``4**file_bits`` files with NO range exchange or sort (contrast
    ``ORDER BY zval``, which needs a skew-prone global sort at write
    time; the prefix rule is a plain map).

    Returns per planned file the pruning statistics a scan would use:
    ``(file_id, n_rows, x_min, x_max, y_min, y_max, x_span, y_span)``.
    Bounded spans in BOTH dimensions (vs. a 1-D sort layout, which
    bounds only its sort key) are what make min/max skipping effective
    for predicates on either column.
    """
    shift = 2 * (bits - file_bits)
    if shift < 0:
        raise ValueError("file_bits must be <= bits")
    z = zorder_values(df, x_col, y_col, bits)
    return (
        z.withColumn("file_id", F.shiftright("zval", shift).cast("long"))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(x_col).cast("long").alias("x_min"),
            F.max(x_col).cast("long").alias("x_max"),
            F.min(y_col).cast("long").alias("y_min"),
            F.max(y_col).cast("long").alias("y_max"),
        )
        .select(
            "file_id",
            "n_rows",
            "x_min",
            "x_max",
            "y_min",
            "y_max",
            (F.col("x_max") - F.col("x_min") + 1).cast("long").alias("x_span"),
            (F.col("y_max") - F.col("y_min") + 1).cast("long").alias("y_span"),
        )
    )


def compaction_plan(
    df: DataFrame,
    group_col: str,
    order_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Greedy bin-packing of ordered items into ~``target_bytes`` files.

    Within each ``group_col`` partition, items are taken in
    ``order_col`` order and assigned ``file_seq = floor(running_size_before
    / target_bytes)`` — the standard streaming first-fit rule: a file
    closes once the bytes before the current item reach the target.
    Files are non-decreasing and — whenever no item exceeds the target —
    dense; the guaranteed bound is cumulative: the bytes before file k's
    first item land in ``[k*target, k*target + max_item)`` (an oversized
    item can overshoot a boundary and leave a small or skipped file —
    pinned by tests/test_property_layout.py).

    Returns ``(group, file_seq, n_items, total_bytes, first_item,
    last_item)`` — the manifest a rewrite job would execute.

    Scale design: one hash shuffle on the group key; the window is a
    running sum (constant state per task, no buffering of the frame).
    The plan is pure metadata — item *content* never moves until the
    rewrite job consumes the manifest.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = df.withColumn(
        "file_seq",
        F.floor(
            F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("double")
            / F.lit(float(int(target_bytes)))
        ).cast("long"),
    )
    return (
        assigned.groupBy(
            F.col(group_col).alias("group"), F.col("file_seq")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(size_col).cast("long").alias("total_bytes"),
            F.min(order_col).alias("first_item"),
            F.max(order_col).alias("last_item"),
        )
    )


def layout_pruning_compare(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    file_bits: int = 4,
) -> DataFrame:
    """Quantify min/max-pruning effectiveness: Z-order vs 1-D sort.

    For each candidate layout — ``zorder`` (file = top Morton bits) and
    ``xsort`` (file = top bits of the scaled x alone, the 1-D sorted
    baseline) — computes the expected fraction of files a uniform point
    predicate on x (resp. y) must touch: ``sum(file span) / (global
    range * n_files)``. A 1-D layout bounds only its sort key (y
    fraction ~= 1 — every file spans the whole y range); the Z-layout
    bounds BOTH, which is the entire case for Z-ordering.

    Single pass: each row is tagged with both layouts' file ids via a
    2-way metadata explode, so one (layout, file) aggregate serves both
    — the input is scanned once however many layouts are compared.
    """
    shift = bits - file_bits
    if bits < 2 * file_bits:
        # below this the xsort baseline cannot reach 4**file_bits files
        # and the comparison would silently bias toward zorder
        raise ValueError("layout_pruning_compare needs bits >= 2*file_bits")
    # the 1-D baseline gets the SAME file count as the Z layout
    # (4**file_bits) so the touch fractions compare like-for-like
    xsort_shift = bits - 2 * file_bits
    mm = df.agg(
        F.min(x_col).cast("long").alias("__xlo"),
        F.max(x_col).cast("long").alias("__xhi"),
        F.min(y_col).cast("long").alias("__ylo"),
        F.max(y_col).cast("long").alias("__yhi"),
    )
    base = df.crossJoin(F.broadcast(mm))
    sx = _scaled(F.col(x_col).cast("long"), F.col("__xlo"), F.col("__xhi"), bits)
    sy = _scaled(F.col(y_col).cast("long"), F.col("__ylo"), F.col("__yhi"), bits)
    zf = F.shiftright(_interleave(sx, sy, bits), 2 * shift)
    xf = F.shiftright(sx, xsort_shift)
    tagged = base.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"), zf.cast("long").alias("file_id")
                ),
                F.struct(
                    F.lit("xsort").alias("layout"), xf.cast("long").alias("file_id")
                ),
            )
        ).alias("t"),
    )
    per_file = tagged.groupBy(
        F.col("t.layout").alias("layout"), F.col("t.file_id").alias("file_id")
    ).agg(
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )
    span = lambda lo, hi: F.col(hi) - F.col(lo) + F.lit(1)  # noqa: E731
    return per_file.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.round(
            F.sum(span("x_min", "x_max")).cast("double")
            / (
                (F.max("x_max") - F.min("x_min") + F.lit(1)).cast("double")
                * F.count(F.lit(1)).cast("double")
            ),
            6,
        ).alias("x_touch_frac"),
        F.round(
            F.sum(span("y_min", "y_max")).cast("double")
            / (
                (F.max("y_max") - F.min("y_min") + F.lit(1)).cast("double")
                * F.count(F.lit(1)).cast("double")
            ),
            6,
        ).alias("y_touch_frac"),
    )


# ---------------------------------------------------------------------------
# Layout EXECUTION — the rewrite jobs that consume the plans above
# ---------------------------------------------------------------------------


def zorder_rewrite(
    df: DataFrame,
    x_col: str,
    y_col: str,
    path: str,
    bits: int = 8,
    file_bits: int = 4,
) -> None:
    """Execute a :func:`zorder_layout_plan`: physically rewrite ``df``
    into the planned Z-clustered layout at ``path``.

    Each row's target file is the same quadtree-cell prefix the plan
    computed (``file = zval >> 2*(bits-file_bits)``) — a MAP-ONLY
    assignment, so the whole rewrite is one hash exchange on ``file_id``
    (``repartition``; never a global sort / range exchange) followed by
    a partitioned write. ``repartition`` on the partition column ⇒ each
    directory is written by exactly one task ⇒ one file per planned
    cell, whose parquet footer min/max over (x, y) ARE the plan's
    per-file pruning stats. Conservation and realized stats are
    oracle-checked by ``zorder_rewrite_check`` /
    ``zorder_realized_pruning`` (queries_extras.py).
    """
    shift = 2 * (bits - file_bits)
    if shift < 0:
        raise ValueError("file_bits must be <= bits")
    z = zorder_values(df, x_col, y_col, bits)
    tagged = z.withColumn(
        "file_id", F.shiftright("zval", shift).cast("long")
    ).drop("zval")
    (
        tagged.repartition(F.col("file_id"))
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(path)
    )
    # persist the layout contract (frozen bounds + bit widths) so
    # zorder_append can assign batch rows to the SAME cell grid; one
    # extra tiny aggregate next to a full rewrite
    write_zorder_meta(df, x_col, y_col, path, bits, file_bits)


def zorder_rewrite_nd(
    df: DataFrame,
    cols: list[str],
    path: str,
    bits: int = 6,
    file_bits: int = 2,
) -> None:
    """Execute a :func:`zorder_layout_plan_nd`: physically rewrite
    ``df`` into the planned k-dimensional Z-clustered layout at
    ``path`` — the 3-D/k-D generalization of :func:`zorder_rewrite`
    with the identical plan shape: target file = top ``k*file_bits``
    bits of the k-way Morton code (a 2**k-ary hypercube cell), assigned
    MAP-ONLY, so the whole rewrite is ONE hash exchange on ``file_id``
    (never a global sort / range exchange) followed by a partitioned
    write with one task — hence one file — per planned cell. The
    written footers' min/max over EVERY dimension are the plan's
    per-file pruning stats; conservation and realized stats are
    oracle-checked by ``zorder3_rewrite_check`` /
    ``zorder3_realized_pruning`` (queries_extras.py)."""
    shift = len(cols) * (bits - file_bits)
    if bits < file_bits:
        raise ValueError("file_bits must be <= bits")
    z = zorder_values_nd(df, cols, bits)
    tagged = z.withColumn(
        "file_id", F.shiftright("zval", shift).cast("long")
    ).drop("zval")
    (
        tagged.repartition(F.col("file_id"))
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(path)
    )
    # persist the k-D layout contract so zorder_append_nd can assign
    # batch rows to the SAME hypercube grid
    write_zorder_meta_nd(df, cols, path, bits, file_bits)


def compaction_rewrite(
    df: DataFrame,
    group_col: str,
    order_col: str,
    size_col: str,
    target_bytes: int,
    path: str,
) -> None:
    """Execute a :func:`compaction_plan`: rewrite ``df`` into the
    planned ~``target_bytes`` files at ``path``, one directory per
    (group, file_seq) manifest entry.

    The row→file assignment is the SAME running-sum window the plan
    used (one shuffle on the group key, constant state per task), so
    the written store realizes the manifest exactly — re-aggregating
    the written files must reproduce the plan row-for-row, which is the
    oracle-checked conservation invariant (``compaction_rewrite_check``:
    per-file item counts, byte totals, and item ranges all conserved).
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = df.withColumn(
        "file_seq",
        F.floor(
            F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("double")
            / F.lit(float(int(target_bytes)))
        ).cast("long"),
    )
    (
        assigned.repartition(F.col(group_col), F.col("file_seq"))
        .write.mode("overwrite")
        .partitionBy(group_col, "file_seq")
        .parquet(path)
    )


# parquet physical type -> Spark SQL type for footer min/max columns.
# Statistics decode to Python values of the matching kind; BOOLEAN /
# BYTE_ARRAY-of-non-UTF8 / FIXED_LEN / INT96 stats are deliberately
# unsupported (min/max over them is not a pruning predicate here).
_FOOTER_STAT_TYPES = {
    "INT32": "long",
    "INT64": "long",
    "FLOAT": "double",
    "DOUBLE": "double",
    "BYTE_ARRAY": "string",
}


def _footer_types(f: str, cols: list[str]) -> dict[str, str]:
    """Spark SQL type per requested column, derived from ONE file's
    parquet footer (raises on unsupported physical types)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f).metadata
    idx = {
        md.row_group(0).column(i).path_in_schema: i
        for i in range(md.row_group(0).num_columns)
    }
    out: dict[str, str] = {}
    for c in cols:
        if c not in idx:
            raise ValueError(f"column {c!r} not in {f}")
        phys = md.row_group(0).column(idx[c]).physical_type
        spark_t = _FOOTER_STAT_TYPES.get(phys)
        if spark_t is None:
            raise ValueError(
                f"column {c!r} has parquet physical type {phys}; "
                "footer min/max stats are supported for "
                f"{sorted(_FOOTER_STAT_TYPES)} only"
            )
        out[c] = spark_t
    return out


def _footer_stats_row(f: str, cols: list[str], col_types: dict[str, str]) -> tuple:
    """Parse ONE parquet footer into a ``(file, n_rows, <c>_min,
    <c>_max, ...)`` tuple — shared verbatim by the driver-side walk and
    the distributed variant so their outputs are identical by
    construction. Metadata only: pyarrow reads the footer bytes, never
    a data page."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f).metadata
    idx = {
        md.row_group(0).column(i).path_in_schema: i
        for i in range(md.row_group(0).num_columns)
    }
    types_here = _footer_types(f, cols)
    row = [f, md.num_rows]
    for c in cols:
        if types_here[c] != col_types[c]:
            raise ValueError(
                f"column {c!r} has mixed physical types across files "
                f"({col_types[c]} vs {types_here[c]})"
            )
        mins, maxs = [], []
        for r in range(md.num_row_groups):
            s = md.row_group(r).column(idx[c]).statistics
            if s is None or not s.has_min_max:
                raise ValueError(f"no min/max stats for {c!r} in {f}")
            lo, hi = s.min, s.max
            if col_types[c] == "string":
                # pyarrow returns str for UTF8-annotated BYTE_ARRAY,
                # bytes for raw binary — only the former orders like
                # a SQL string predicate would
                if isinstance(lo, bytes) or isinstance(hi, bytes):
                    raise ValueError(
                        f"column {c!r} is raw binary (no UTF8 "
                        "annotation); its byte-wise min/max is not "
                        "a string pruning stat"
                    )
            mins.append(lo)
            maxs.append(hi)
        row.extend((min(mins), max(maxs)))
    return tuple(row)


def _footer_schema(cols: list[str], col_types: dict[str, str]) -> str:
    schema = "file string, n_rows long"
    for c in cols:
        schema += f", {c}_min {col_types[c]}, {c}_max {col_types[c]}"
    return schema


def parquet_footer_stats(spark, path: str, cols: list[str]) -> DataFrame:
    """Per-file pruning statistics read from the REAL parquet footers —
    metadata only, zero row reads: ``(file, n_rows, <c>_min, <c>_max
    per requested column)`` aggregated over each file's row groups.

    This is the measurement side of the layout story: what a
    stats-based reader (Delta/Iceberg data skipping, or Spark's own
    row-group pruning) would actually see after a rewrite, as opposed
    to the plan's predicted stats. The walk runs driver-side here
    because a rewrite emits a BOUNDED file count (≤ 4**file_bits cells
    / manifest entries — a metadata-scale listing, like any table
    format's manifest read); for unbounded file counts use
    :func:`parquet_footer_stats_distributed`, which parses the same
    footers executor-side.
    """
    import glob as _glob

    files = sorted(_glob.glob(f"{path}/**/*.parquet", recursive=True))
    col_types = _footer_types(files[0], cols) if files else {c: "long" for c in cols}
    rows = [_footer_stats_row(f, cols, col_types) for f in files]
    return spark.createDataFrame(rows, _footer_schema(cols, col_types))


def parquet_footer_stats_distributed(
    spark, path: str, cols: list[str]
) -> DataFrame:
    """:func:`parquet_footer_stats` for UNBOUNDED file counts: the file
    listing distributes over executors and each parses its shard of
    footers with the SAME row parser as the driver-side walk (outputs
    are pinned identical in tests/test_extras.py). Still metadata
    only — pyarrow reads each file's footer bytes, never a data page —
    so the job moves O(#files) footer parses to the cluster while the
    driver handles only the path listing (itself a filesystem-metadata
    call) and the k-file result.

    One driver-side footer is read up front to fix the result schema —
    the same single-footer cost any reader pays to plan a scan."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/*")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files: list[str] = []
    stack = [jvm.org.apache.hadoop.fs.Path(path)]
    while stack:
        p = stack.pop()
        for st in fs.listStatus(p):
            if st.isDirectory():
                stack.append(st.getPath())
            elif st.getPath().getName().endswith(".parquet"):
                u = st.getPath().toUri()
                # pyarrow opens plain paths for the local scheme; other
                # schemes (hdfs/s3a) keep their URI form for fsspec
                files.append(
                    u.getPath() if (u.getScheme() in (None, "file")) else str(u)
                )
    files.sort()
    col_types = _footer_types(files[0], cols) if files else {c: "long" for c in cols}
    schema = _footer_schema(cols, col_types)
    if not files:
        return spark.createDataFrame([], schema)

    def parse(iterator):
        import pandas as pd

        names = ["file", "n_rows"] + [
            f"{c}_{s}" for c in cols for s in ("min", "max")
        ]
        for pdf in iterator:
            rows = [
                _footer_stats_row(f, cols, col_types) for f in pdf["file"]
            ]
            yield pd.DataFrame(rows, columns=names)

    listing = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(min(len(files), spark.sparkContext.defaultParallelism))
    return listing.mapInPandas(parse, schema)


# ---------------------------------------------------------------------------
# k-dimensional Z-order (the 2-D functions above are the common case;
# real tables cluster on 3-4 dims — e.g. (tenant, day, metric))
# ---------------------------------------------------------------------------


def _interleave_nd(scaled: list[Column], bits: int) -> Column:
    """Morton-interleave k ``bits``-wide values; dim 0 takes the highest
    bit of each k-group (matches :func:`_interleave` at k=2). Pure
    bitwise Column arithmetic — k*bits shift-adds, whole-stage codegen."""
    k = len(scaled)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, k * b + (k - 1 - j))
    return z


def zorder_values_nd(df: DataFrame, cols: list[str], bits: int = 6) -> DataFrame:
    """Append ``zval`` — the Morton code of the k normalized integer
    dimensions. Same 1-row broadcast normalizer shape as
    :func:`zorder_values`; k is arbitrary (every added dimension costs
    ``bits`` shift-adds per row, nothing else)."""
    if not cols:
        raise ValueError("need at least one dimension")
    if len(cols) * bits > 62:
        # zval is a signed 64-bit long; the top bit of each k-group for
        # dim 0 must never reach the sign bit
        raise ValueError(
            f"{len(cols)} dims x {bits} bits = {len(cols) * bits} zval "
            "bits > 62 — lower bits or drop a dimension"
        )
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("long").alias(f"__{c}_lo"))
        aggs.append(F.max(c).cast("long").alias(f"__{c}_hi"))
    mm = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(mm))
    scaled = [
        _scaled(
            F.col(c).cast("long"),
            F.col(f"__{c}_lo"),
            F.col(f"__{c}_hi"),
            bits,
        )
        for c in cols
    ]
    drop = [f"__{c}_{s}" for c in cols for s in ("lo", "hi")]
    return out.withColumn("zval", _interleave_nd(scaled, bits)).drop(*drop)


def zorder_layout_plan_nd(
    df: DataFrame,
    cols: list[str],
    bits: int = 6,
    file_bits: int = 2,
) -> DataFrame:
    """k-D :func:`zorder_layout_plan`: target file = top ``k*file_bits``
    bits of the k-way Morton code (a 2**k-ary hypercube cell), assigned
    MAP-ONLY; output = per-file count plus min/max/span of EVERY
    dimension — bounded spans in all k dims are the multi-predicate
    pruning case for Z-ordering over a 1-D sort."""
    shift = len(cols) * (bits - file_bits)
    if shift < 0:
        raise ValueError("file_bits must be <= bits")
    z = zorder_values_nd(df, cols, bits)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    spans = []
    for c in cols:
        aggs.append(F.min(c).cast("long").alias(f"{c}_min"))
        aggs.append(F.max(c).cast("long").alias(f"{c}_max"))
        spans.append(
            (F.col(f"{c}_max") - F.col(f"{c}_min") + 1)
            .cast("long")
            .alias(f"{c}_span")
        )
    return (
        z.withColumn("file_id", F.shiftright("zval", shift).cast("long"))
        .groupBy("file_id")
        .agg(*aggs)
        .select("file_id", "n_rows",
                *[f"{c}_{s}" for c in cols for s in ("min", "max")],
                *spans)
    )


# ---------------------------------------------------------------------------
# Incremental layout maintenance: append into a frozen Z-layout, detect
# fragmentation, compact ONLY the fragmented cells (the OPTIMIZE loop a
# standing 100 TB table runs nightly — never a full-table rewrite)
# ---------------------------------------------------------------------------


def _meta_path(path: str) -> str:
    # sibling of the store, NOT inside it: the store's own readers (and
    # parquet_footer_stats' recursive glob) must never see the meta file
    return f"{path}_meta"


def write_zorder_meta(
    df: DataFrame, x_col: str, y_col: str, path: str, bits: int, file_bits: int
) -> None:
    """Persist the layout contract of a Z-ordered store: the
    normalization bounds and bit widths that define the cell grid.
    Appends MUST reuse these frozen bounds — re-deriving bounds from
    base+batch would shift every cell boundary and silently invalidate
    the existing files' cell assignment. One tiny row at
    ``{path}_meta``, the analogue of a table format's layout metadata."""
    (
        df.agg(
            F.lit(x_col).alias("x_col"),
            F.lit(y_col).alias("y_col"),
            F.min(x_col).cast("long").alias("x_lo"),
            F.max(x_col).cast("long").alias("x_hi"),
            F.min(y_col).cast("long").alias("y_lo"),
            F.max(y_col).cast("long").alias("y_hi"),
            F.lit(int(bits)).alias("bits"),
            F.lit(int(file_bits)).alias("file_bits"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_meta_path(path))
    )


def zorder_append(batch: DataFrame, path: str) -> None:
    """Append a batch into an EXISTING :func:`zorder_rewrite` store
    without touching the resident files — the incremental ingest path.

    Cell assignment uses the store's FROZEN meta bounds (collected: one
    8-field row), so every batch row lands in the same quadtree cell a
    full rewrite over base ∪ batch would give it, except rows OUTSIDE
    the frozen bounds: their scaled coordinates clamp to the grid edge,
    so they land in boundary cells. Pruning stays CORRECT regardless —
    footer min/max are computed from actual values — only the boundary
    cells' spans widen; when drift accumulates, the periodic answer is
    a re-plan (new rewrite), exactly like any table format's clustering
    decay. The write is map-only + one hash exchange, appending one new
    file per touched cell directory (it never rewrites resident files —
    that is :func:`zorder_compact_cells`' job, after
    :func:`layout_maintenance_plan` flags the fragmented cells).
    """
    spark = batch.sparkSession
    meta = spark.read.parquet(_meta_path(path)).collect()[0]
    bits, file_bits = int(meta["bits"]), int(meta["file_bits"])
    top = (1 << bits) - 1
    clamp = lambda s: F.least(  # noqa: E731
        F.lit(top).cast("long"), F.greatest(F.lit(0).cast("long"), s)
    )
    sx = clamp(
        _scaled(
            F.col(meta["x_col"]).cast("long"),
            F.lit(int(meta["x_lo"])),
            F.lit(int(meta["x_hi"])),
            bits,
        )
    )
    sy = clamp(
        _scaled(
            F.col(meta["y_col"]).cast("long"),
            F.lit(int(meta["y_lo"])),
            F.lit(int(meta["y_hi"])),
            bits,
        )
    )
    shift = 2 * (bits - file_bits)
    tagged = batch.withColumn(
        "file_id",
        F.shiftright(_interleave(sx, sy, bits), shift).cast("long"),
    )
    (
        tagged.repartition(F.col("file_id"))
        .write.mode("append")
        .partitionBy("file_id")
        .parquet(path)
    )


def layout_maintenance_plan(spark, path: str, max_files: int = 1) -> DataFrame:
    """Per-cell fragmentation report of a Z-ordered store:
    ``(file_id, n_files, n_rows, needs_compaction)`` — the work-list an
    OPTIMIZE job consumes. Distributed: cells come from the partition
    column and file identity from the ``_metadata.file_path`` hidden
    column, so the scan reads no data column at all (column pruning
    keeps it a row-existence pass) and no driver-side listing happens.
    A cell needs compaction when appends left it with more than
    ``max_files`` physical files."""
    store = spark.read.parquet(path).select(
        F.col("file_id").cast("long").alias("file_id"),
        F.col("_metadata.file_path").alias("__f"),
    )
    return (
        store.groupBy("file_id")
        .agg(
            F.countDistinct("__f").cast("long").alias("n_files"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .withColumn("needs_compaction", F.col("n_files") > max_files)
    )


def zorder_compact_cells(spark, path: str, cells: list[int]) -> None:
    """Rewrite ONLY the given fragmented cells back to one file each —
    the targeted half of the OPTIMIZE loop; resident single-file cells
    are never read or touched, so the cost is fragmented-data-
    proportional, not table-proportional.

    The compacted cells are staged to a sibling temp directory (a
    direct self-overwrite would have the job read the files it is
    deleting), then swapped in rename-FIRST per directory: the
    resident cell is parked at a sibling, the compacted copy
    installed, and only then the parked copy dropped — so a crash
    between any two steps leaves the cell's data on disk (either
    installed or parked, never deleted-but-not-replaced), the same
    park-then-install discipline as storeio.install_staged_store /
    similarity.py::compact_pq_index. Metadata-only operations bounded
    by ``len(cells)``."""
    if not cells:
        return
    cells = [int(c) for c in cells]
    tmp = f"{path}__compact_tmp"
    parked_root = f"{path}__compact_parked"
    (
        spark.read.parquet(path)
        .where(F.col("file_id").isin(cells))
        .repartition(F.col("file_id"))
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(tmp)
    )
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(path).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(P(parked_root))
    for cell in cells:
        src = P(f"{tmp}/file_id={cell}")
        dst = P(f"{path}/file_id={cell}")
        parked = P(f"{parked_root}/file_id={cell}")
        if not fs.exists(src):
            continue  # a flagged cell may have zero rows after filters
        fs.delete(parked, True)
        if fs.exists(dst) and not fs.rename(dst, parked):
            raise IOError(f"could not park resident cell {cell}")
        if not fs.rename(src, dst):
            raise IOError(
                f"install failed for cell {cell}; resident data parked at"
                f" {parked_root}"
            )
        fs.delete(parked, True)
    fs.delete(P(tmp), True)
    fs.delete(P(parked_root), True)


def layout_drift_report(spark, path: str) -> DataFrame:
    """Quantify clustering decay of a Z-ordered store — the measurable
    trigger for the periodic re-plan that §20's append/compact loop
    defers: per cell, how far the REALIZED value extents spill outside
    the cell's ideal grid rectangle. A fresh rewrite reports zero
    excess everywhere; frozen-bounds appends with out-of-range values
    clamp into boundary cells and widen exactly those cells' realized
    spans, degrading pruning there (footers stay truthful, so scans
    stay correct — they just skip less).

    Per cell: ``(file_id, n_rows, x_excess, y_excess, within_plan)``
    where the excess is the count of value units outside the ideal
    rectangle. The rectangle comes from inverting the scaled-grid map
    (integer ceil arithmetic over the persisted meta bounds —
    ``v ∈ [lo + ceil(s*R/M), lo + ceil((s+1)*R/M) - 1]`` for scaled
    unit ``s``, ``R = hi-lo+1``, ``M = 2**bits``), so the whole report
    replays in the DuckDB oracle (``zorder_drift_check``). One rollup
    shuffle over the store; the arithmetic runs on the ≤ 4**file_bits
    aggregated rows."""
    meta = spark.read.parquet(_meta_path(path)).collect()[0]
    bits, fb = int(meta["bits"]), int(meta["file_bits"])
    m = 1 << bits
    cu = 1 << (bits - fb)  # scaled units per cell side
    rx = int(meta["x_hi"]) - int(meta["x_lo"]) + 1
    ry = int(meta["y_hi"]) - int(meta["y_lo"]) + 1
    per_cell = (
        spark.read.parquet(path)
        .groupBy(F.col("file_id").cast("long").alias("file_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(meta["x_col"]).cast("long").alias("__xmn"),
            F.max(meta["x_col"]).cast("long").alias("__xmx"),
            F.min(meta["y_col"]).cast("long").alias("__ymn"),
            F.max(meta["y_col"]).cast("long").alias("__ymx"),
        )
    )
    # de-interleave the cell id back to grid coordinates (x holds the
    # high bit of each pair, matching _interleave)
    cx = F.lit(0).cast("long")
    cy = F.lit(0).cast("long")
    for b in range(fb):
        cx = cx + F.shiftleft(
            F.shiftright("file_id", 2 * b + 1).bitwiseAND(F.lit(1)), b
        )
        cy = cy + F.shiftleft(
            F.shiftright("file_id", 2 * b).bitwiseAND(F.lit(1)), b
        )
    cells = per_cell.withColumn("__cx", cx).withColumn("__cy", cy)

    def ideal(lo: int, r: int, c: Column, edge: str) -> Column:
        # lo + ceil(s*R/M) with s = c*cu (lo edge) or (c+1)*cu (hi edge)
        s = (c + (1 if edge == "hi" else 0)) * F.lit(cu)
        v = F.lit(lo) + F.floor((s * F.lit(r) + F.lit(m - 1)) / F.lit(m))
        return (v - (1 if edge == "hi" else 0)).cast("long")

    xlo, ylo = int(meta["x_lo"]), int(meta["y_lo"])
    out = (
        cells.withColumn("__ixl", ideal(xlo, rx, F.col("__cx"), "lo"))
        .withColumn("__ixh", ideal(xlo, rx, F.col("__cx"), "hi"))
        .withColumn("__iyl", ideal(ylo, ry, F.col("__cy"), "lo"))
        .withColumn("__iyh", ideal(ylo, ry, F.col("__cy"), "hi"))
        .select(
            "file_id",
            "n_rows",
            (
                F.greatest(F.lit(0), F.col("__ixl") - F.col("__xmn"))
                + F.greatest(F.lit(0), F.col("__xmx") - F.col("__ixh"))
            ).cast("long").alias("x_excess"),
            (
                F.greatest(F.lit(0), F.col("__iyl") - F.col("__ymn"))
                + F.greatest(F.lit(0), F.col("__ymx") - F.col("__iyh"))
            ).cast("long").alias("y_excess"),
        )
        .withColumn(
            "within_plan",
            (F.col("x_excess") == 0) & (F.col("y_excess") == 0),
        )
    )
    return out


def _swap_store_rename_first(spark, path: str, tmp: str) -> None:
    """Install the staged store at ``tmp`` (+ its ``{tmp}_meta``) over
    the live store at ``path`` rename-FIRST: park the live data and
    meta at sibling directories, install the staged copies, then drop
    the parked ones — so a crash between any two renames leaves every
    byte on disk (installed or parked, never deleted-but-not-replaced).
    Same commit discipline as similarity.py::compact_pq_index."""
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(path).getFileSystem(spark._jsc.hadoopConfiguration())
    old, old_meta = f"{path}__relayout_old", f"{path}__relayout_old_meta"
    fs.delete(P(old), True)
    fs.delete(P(old_meta), True)
    if not fs.rename(P(path), P(old)):
        raise IOError(f"could not park the live store at {old}")
    if not fs.rename(P(tmp), P(path)):
        raise IOError(
            f"could not install the staged store; live data parked at {old}"
        )
    if fs.exists(P(_meta_path(path))) and not fs.rename(
        P(_meta_path(path)), P(old_meta)
    ):
        raise IOError(f"could not park the live meta at {old_meta}")
    if not fs.rename(P(_meta_path(tmp)), P(_meta_path(path))):
        raise IOError(
            f"could not install the staged meta; old meta parked at"
            f" {old_meta}"
        )
    fs.delete(P(old), True)
    fs.delete(P(old_meta), True)


def zorder_relayout(spark, path: str, min_excess: int = 1) -> bool:
    """The executable RE-PLAN verb that consumes
    :func:`layout_drift_report` — closing the OPTIMIZE loop the drift
    report only measured: when accumulated clustering decay (the sum
    of per-cell value-unit excesses) reaches ``min_excess``, recompute
    FRESH bounds over the WHOLE store (base ∪ every frozen-bounds
    append), rewrite the full layout against them to a staged sibling,
    and swap it in rename-first with a refreshed meta. Below the
    threshold the store is left byte-untouched and ``False`` returns.

    This is the reference's seam rule restated at the storage layer
    (ae.rs:33,74 — bounded look-back re-derivation instead of trusting
    stale state): appends trusted the frozen grid as long as drift
    stayed tolerable; past the threshold the grid itself is re-derived
    from the data. The rewrite is the same map-only assignment + one
    hash exchange as :func:`zorder_rewrite` — never a global sort —
    and the swap cost is a constant number of directory renames.
    Post-relayout, :func:`layout_drift_report` reports zero excess
    everywhere by construction (oracle-checked:
    ``zorder_relayout_check``)."""
    drift = layout_drift_report(spark, path)
    tot = drift.agg(
        F.sum(F.col("x_excess") + F.col("y_excess")).cast("long").alias("t")
    ).collect()[0]["t"]
    if (tot or 0) < min_excess:
        return False
    meta = spark.read.parquet(_meta_path(path)).collect()[0]
    full = spark.read.parquet(path).drop("file_id")
    tmp = f"{path}__relayout_tmp"
    zorder_rewrite(
        full,
        meta["x_col"],
        meta["y_col"],
        tmp,
        bits=int(meta["bits"]),
        file_bits=int(meta["file_bits"]),
    )
    _swap_store_rename_first(spark, path, tmp)
    return True


def zorder_relayout_nd(spark, path: str, min_excess: int = 1) -> bool:
    """:func:`zorder_relayout` for k-D (:func:`zorder_rewrite_nd`)
    stores: the drift trigger sums every dimension's excess from
    :func:`layout_drift_report_nd`, the fresh rewrite re-derives all k
    bounds over base ∪ appends, and the swap is the same rename-first
    sibling dance."""
    meta = spark.read.parquet(_meta_path(path)).collect()[0]
    cols = list(meta["cols"])
    drift = layout_drift_report_nd(spark, path)
    from functools import reduce
    from operator import add

    tot_col = reduce(add, [F.col(f"{c}_excess") for c in cols])
    tot = drift.agg(F.sum(tot_col).cast("long").alias("t")).collect()[0]["t"]
    if (tot or 0) < min_excess:
        return False
    full = spark.read.parquet(path).drop("file_id")
    tmp = f"{path}__relayout_tmp"
    zorder_rewrite_nd(
        full, cols, tmp,
        bits=int(meta["bits"]), file_bits=int(meta["file_bits"]),
    )
    _swap_store_rename_first(spark, path, tmp)
    return True


def write_zorder_meta_nd(
    df: DataFrame, cols: list[str], path: str, bits: int, file_bits: int
) -> None:
    """k-D layout contract (:func:`write_zorder_meta` for
    :func:`zorder_rewrite_nd` stores): one row of per-dimension frozen
    bounds as arrays, at the sibling ``{path}_meta``."""
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("long").alias(f"__{c}_lo"))
        aggs.append(F.max(c).cast("long").alias(f"__{c}_hi"))
    (
        df.agg(*aggs)
        .select(
            F.array(*[F.lit(c) for c in cols]).alias("cols"),
            F.array(*[F.col(f"__{c}_lo") for c in cols]).alias("los"),
            F.array(*[F.col(f"__{c}_hi") for c in cols]).alias("his"),
            F.lit(int(bits)).alias("bits"),
            F.lit(int(file_bits)).alias("file_bits"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_meta_path(path))
    )


def zorder_append_nd(batch: DataFrame, path: str) -> None:
    """:func:`zorder_append` for k-D stores: assign batch rows to the
    EXISTING hypercube grid from the persisted meta (frozen bounds,
    per-dimension edge clamping) and append one file per touched cell —
    resident files untouched. :func:`layout_maintenance_plan` /
    :func:`zorder_compact_cells` / :func:`parquet_footer_stats` are
    dimension-agnostic (they key on ``file_id``), so the whole
    OPTIMIZE loop works unchanged on top of this."""
    spark = batch.sparkSession
    meta = spark.read.parquet(_meta_path(path)).collect()[0]
    cols = list(meta["cols"])
    bits, fb = int(meta["bits"]), int(meta["file_bits"])
    top = (1 << bits) - 1
    scaled = []
    for j, c in enumerate(cols):
        s = _scaled(
            F.col(c).cast("long"),
            F.lit(int(meta["los"][j])),
            F.lit(int(meta["his"][j])),
            bits,
        )
        scaled.append(
            F.least(
                F.lit(top).cast("long"),
                F.greatest(F.lit(0).cast("long"), s),
            )
        )
    shift = len(cols) * (bits - fb)
    tagged = batch.withColumn(
        "file_id",
        F.shiftright(_interleave_nd(scaled, bits), shift).cast("long"),
    )
    (
        tagged.repartition(F.col("file_id"))
        .write.mode("append")
        .partitionBy("file_id")
        .parquet(path)
    )


def layout_drift_report_nd(spark, path: str) -> DataFrame:
    """:func:`layout_drift_report` for k-D (:func:`zorder_rewrite_nd`)
    stores: per hypercube cell, the value units each dimension's
    realized extents spill outside the cell's ideal grid box — zero on
    a fresh rewrite, positive exactly where :func:`zorder_append_nd`
    clamped out-of-range values. Same integer rectangle inversion as
    the 2-D form, with the cell id de-interleaved k ways (dim j's
    level-b bit sits at position ``k*b + (k-1-j)``, matching
    :func:`_interleave_nd`). Output: ``(file_id, n_rows,
    <c>_excess per dimension, within_plan)``; oracle-checked by
    ``zorder3_drift_check``."""
    meta = spark.read.parquet(_meta_path(path)).collect()[0]
    cols = list(meta["cols"])
    k = len(cols)
    bits, fb = int(meta["bits"]), int(meta["file_bits"])
    m = 1 << bits
    cu = 1 << (bits - fb)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).cast("long").alias(f"__{c}_mn"))
        aggs.append(F.max(c).cast("long").alias(f"__{c}_mx"))
    per_cell = (
        spark.read.parquet(path)
        .groupBy(F.col("file_id").cast("long").alias("file_id"))
        .agg(*aggs)
    )
    sel = [F.col("file_id"), F.col("n_rows")]
    within = F.lit(True)
    for j, c in enumerate(cols):
        cj = F.lit(0).cast("long")
        for b in range(fb):
            cj = cj + F.shiftleft(
                F.shiftright("file_id", k * b + (k - 1 - j)).bitwiseAND(
                    F.lit(1)
                ),
                b,
            )
        lo = int(meta["los"][j])
        r = int(meta["his"][j]) - lo + 1
        ilo = F.lit(lo) + F.floor(
            (cj * F.lit(cu) * F.lit(r) + F.lit(m - 1)) / F.lit(m)
        ).cast("long")
        ihi = (
            F.lit(lo)
            + F.floor(
                ((cj + 1) * F.lit(cu) * F.lit(r) + F.lit(m - 1)) / F.lit(m)
            ).cast("long")
            - 1
        )
        excess = (
            F.greatest(F.lit(0), ilo - F.col(f"__{c}_mn"))
            + F.greatest(F.lit(0), F.col(f"__{c}_mx") - ihi)
        ).cast("long")
        sel.append(excess.alias(f"{c}_excess"))
        within = within & (excess == 0)
    return per_cell.select(*sel, within.alias("within_plan"))
