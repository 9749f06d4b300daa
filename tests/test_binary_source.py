"""binaryFile-source ingestion + distributed chunking over real files —
the reference's actual input shape (a tar on disk, main.rs:17), here the
read-only parquet fixtures treated as opaque blobs."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_algorithms_spark.operators.distributed import parallel_chunk_blob
from cdc_algorithms_spark.queries import SPARK_QUERIES
from cdc_algorithms_spark.sources.registry import load_binary_files

from tests.conftest import SF_DIR


def test_binary_file_source_schema(spark):
    files = load_binary_files(spark, SF_DIR, "*.parquet")
    assert {"path", "length", "content"} <= set(files.columns)
    n = files.count()
    assert n == 10  # one per fixture table
    row = files.select("length", F.length("content").alias("l2")).first()
    assert row["length"] == row["l2"]


def test_chunk_real_binary_files_conserves_bytes(spark):
    files = load_binary_files(spark, SF_DIR, "*.parquet").select(
        F.xxhash64("path").alias("src_id"), "content", F.length("content").alias("n")
    )
    chunks = parallel_chunk_blob(files, "ae", 4096, segment_len=262144)
    got = chunks.groupBy("src_id").agg(F.sum("length").alias("total"))
    want = files.select("src_id", F.col("n").cast("long").alias("total"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # offsets are contiguous per blob
    bad = (
        chunks.withColumn(
            "prev_end",
            F.lag(F.col("offset") + F.col("length")).over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("src_id").orderBy("offset")
            ),
        )
        .where(F.col("prev_end").isNotNull() & (F.col("prev_end") != F.col("offset")))
        .count()
    )
    assert bad == 0


def test_binaryfile_query_registered(spark):
    res = SPARK_QUERIES["binaryfile_ae_dedup_stats"](spark, SF_DIR).collect()
    assert len(res) == 1
    assert res[0]["total_bytes"] > 0


def test_range_read_path_equals_whole_blob_path(spark):
    """Executor-side range reads must produce byte-identical chunks to
    the whole-blob pipeline (same files, same params)."""
    from cdc_algorithms_spark.operators.distributed import chunk_segments
    from cdc_algorithms_spark.sources.segmented_files import segment_file_ranges

    files = load_binary_files(spark, SF_DIR, "*.parquet").select(
        F.xxhash64(F.regexp_replace("path", "^file:", "")).alias("src_id"),
        "content",
    )
    via_blob = parallel_chunk_blob(files, "ae", 4096, segment_len=262144)
    segs = segment_file_ranges(
        spark, f"{SF_DIR}/*.parquet", segment_len=262144, overlap=4096 - 256
    )
    via_ranges = chunk_segments(segs, "ae", 4096)
    a = sorted(map(tuple, via_blob.select("src_id", "offset", "length", "hash").collect()))
    b = sorted(map(tuple, via_ranges.select("src_id", "offset", "length", "hash").collect()))
    assert a == b


def test_file_ranges_query_registered(spark):
    res = SPARK_QUERIES["file_ranges_ae_dedup_stats"](spark, SF_DIR).collect()
    assert len(res) == 1 and res[0]["total_bytes"] > 0


def test_python_datasource_equals_range_read_path(spark):
    """The custom DataSource route (format("file_segments")) must produce
    byte-identical dedup stats to the mapInPandas range-read route — same
    files, same segmentation, different source contract."""
    a = SPARK_QUERIES["datasource_ae_dedup_stats"](spark, SF_DIR).collect()
    b = SPARK_QUERIES["file_ranges_ae_dedup_stats"](spark, SF_DIR).collect()
    assert len(a) == len(b) == 1
    assert a[0].asDict() == b[0].asDict()


def test_python_datasource_partition_granularity(spark):
    """One InputPartition per (file, segment): the source parallelizes a
    single big file without any shuffle."""
    from cdc_algorithms_spark.sources.datasource import read_file_segments

    segs = read_file_segments(
        spark, f"{SF_DIR}/lineitem.parquet", segment_len=65536, overlap=0
    )
    import os

    size = os.path.getsize(f"{SF_DIR}/lineitem.parquet")
    expected = (size + 65535) // 65536
    assert segs.count() == expected
    assert segs.rdd.getNumPartitions() == expected


def test_segment_sources_expand_directory_datasets(spark, tmp_path):
    """A glob match that is a DIRECTORY (Spark-written dataset named
    *.parquet) must expand to its contained data files — chunking the
    directory-shaped dataset equals chunking its inner files directly,
    and commit markers/hidden files are ignored."""
    import os

    from cdc_algorithms_spark.operators.dedup import dedup_stats
    from cdc_algorithms_spark.operators.distributed import chunk_segments
    from cdc_algorithms_spark.sources.segmented_files import (
        expand_data_files,
        segment_file_ranges,
    )

    d = tmp_path / "data.parquet"
    d.mkdir()
    inner = d / "part-00000.bin"
    inner.write_bytes(os.urandom(200_000))
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".hidden").write_bytes(b"junk")

    assert expand_data_files(str(tmp_path / "*.parquet")) == [str(inner)]

    def stats(glob):
        segs = segment_file_ranges(spark, glob, segment_len=65536, overlap=4096)
        return chunk_segments(segs, "ae", 4096)

    via_dir = dedup_stats(stats(str(tmp_path / "*.parquet")), key_col="hash")
    via_file = dedup_stats(stats(str(inner)), key_col="hash")
    assert via_dir.collect() == via_file.collect()


def test_python_datasource_lazy_equals_materialized(spark):
    """Default (lazy) and materialize=True forms must chunk to identical
    stats: the lazy rows carry path+offsets for the consumer's range
    read, the materialized rows carry the payload bytes themselves."""
    from cdc_algorithms_spark.operators.dedup import dedup_stats
    from cdc_algorithms_spark.operators.distributed import chunk_segments
    from cdc_algorithms_spark.sources.datasource import read_file_segments

    kw = dict(segment_len=65536, overlap=4096 - 256)
    lazy = read_file_segments(
        spark, f"{SF_DIR}/orders.parquet", **kw
    )
    mat = read_file_segments(
        spark, f"{SF_DIR}/orders.parquet", materialize=True, **kw
    )
    assert "path" in lazy.columns and "payload" not in lazy.columns
    assert "payload" in mat.columns

    a = dedup_stats(
        chunk_segments(lazy, "ae", 4096), key_col="hash"
    ).collect()
    b = dedup_stats(
        chunk_segments(mat, "ae", 4096), key_col="hash"
    ).collect()
    assert len(a) == len(b) == 1
    assert a[0].asDict() == b[0].asDict()

    # grouped scheduling must not change results either
    import os

    n_segs = -(-os.path.getsize(f"{SF_DIR}/orders.parquet") // kw["segment_len"])
    grouped = read_file_segments(
        spark, f"{SF_DIR}/orders.parquet", num_partitions=4, **kw
    )
    assert grouped.rdd.getNumPartitions() == min(4, n_segs)
    c = dedup_stats(
        chunk_segments(grouped, "ae", 4096), key_col="hash"
    ).collect()
    assert c[0].asDict() == a[0].asDict()


def test_file_ranges_segment_table_needs_no_shuffle(spark):
    """The driver-built segment table is spread over tasks by slicing,
    not by a shuffle: no Exchange, min(n_segments, defaultParallelism)
    non-empty partitions holding equal segment counts (±1), and every
    (src_id, seg_idx) exactly once."""
    import os

    from cdc_algorithms_spark import plans as P
    from cdc_algorithms_spark.sources.segmented_files import segment_file_ranges

    dp = spark.sparkContext.defaultParallelism
    for name, seg_len in (("lineitem", 8192), ("orders", 16384)):
        path = f"{SF_DIR}/{name}.parquet"
        n_segs = -(-os.path.getsize(path) // seg_len)
        segs = segment_file_ranges(spark, path, segment_len=seg_len, overlap=256)
        assert P.exchange_count(segs) == 0
        per_part = [
            r["n"]
            for r in segs.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        assert len(per_part) == min(n_segs, dp)
        assert max(per_part) - min(per_part) <= 1
        keys = [(r["src_id"], r["seg_idx"]) for r in segs.collect()]
        assert len(keys) == len(set(keys)) == n_segs


def test_chunk_files_scan_cache_is_released(spark):
    """chunk_files persists its scan output for the returned plan; the
    scoped release handle must reclaim it — repeated chunk → stats →
    release cycles leave no persisted RDD behind, without clearCache()."""
    from cdc_algorithms_spark import api

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    api.release_probe_frames()
    before = persisted()
    for _ in range(3):
        chunks = api.chunk_files(
            spark, f"{SF_DIR}/orders.parquet", "ae", 4096, segment_len=16384
        )
        assert persisted() - before  # the eager scan cache
        assert api.dedup_stats(chunks, key_col="hash").collect()[0]["total_bytes"] > 0
        assert api.release_probe_frames() >= 1
        assert persisted() == before
