"""Custom PySpark DataSource (Spark 4 Python Data Source API) exposing
range-segmented file reads as a first-class ``spark.read.format(...)``.

Same 100 TB posture as sources/segmented_files.py (driver lists only
metadata; every executor range-reads its own ``[scan_start, right)``
slice — one whole blob never materializes anywhere, unlike the
reference's ``read_file``, chunker.rs:31-37), but expressed through the
engine-level source contract instead of a ``mapInPandas`` adapter:

* ``partitions()`` — one ``InputPartition`` per (file, segment), so
  Spark's scheduler sees the true split granularity and fans segments of
  one big file across the cluster with no ``repartition`` shuffle at all
  (the mapInPandas route gets its spread from slicing the driver-built
  meta rows into ``defaultParallelism`` partitions).
* ``read(partition)`` — runs in the executor; ``open``/``seek``/``read``
  locally, an object store's range-GET in production.

Usage::

    register_file_segments(spark)
    df = (spark.read.format("file_segments")
          .option("path", "/data/*.bin")
          .option("segment_len", 8 << 20)
          .option("overlap", 16128)
          .load())

The emitted schema matches operators/distributed.py::chunk_segments
(after the caller derives ``src_id``, see ``read_file_segments``).
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

# Lazy (default): rows carry the path + offsets; the consumer's scan
# task range-reads its own slice (same contract as
# sources/segmented_files.py — bytes are born in the worker that chunks
# them and never cross the JVM↔Python boundary as a column).
_SCHEMA_LAZY = (
    "path string, seg_idx long, left long, right long, "
    "blob_len long, scan_start long"
)
# option("materialize", "true"): rows carry the payload bytes — the
# integration surface for consumers that want spark.read to deliver
# segment bytes directly (costs two extra Arrow hops on the payload:
# Python source → JVM, then JVM → the consuming Python stage).
_SCHEMA_PAYLOAD = _SCHEMA_LAZY + ", payload binary"


class _SegmentPartition(InputPartition):
    def __init__(
        self, path: str, seg_idx: int, left: int, right: int,
        blob_len: int, scan_start: int,
    ) -> None:
        self.path = path
        self.seg_idx = seg_idx
        self.left = left
        self.right = right
        self.blob_len = blob_len
        self.scan_start = scan_start


class _SegmentGroupPartition(InputPartition):
    """Several segments scheduled as one task (option "num_partitions"):
    at production segment sizes (8 MiB+) one task per segment is the
    right granularity, but for many tiny segments — local mode, small
    fixtures — per-segment tasks are pure scheduler/worker overhead, so
    the reader can round-robin them into a fixed number of groups."""

    def __init__(self, segments: list[_SegmentPartition]) -> None:
        self.segments = segments


class _FileSegmentsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path_glob = options.get("path")
        if not self.path_glob:
            raise ValueError("file_segments source requires option 'path'")
        self.segment_len = int(options.get("segment_len", 8 << 20))
        self.overlap = int(options.get("overlap", 0))
        self.materialize = str(options.get("materialize", "false")).lower() == "true"
        n = options.get("num_partitions")
        self.num_partitions = int(n) if n is not None else None
        if self.segment_len <= 0 or self.overlap < 0:
            raise ValueError(
                f"bad segment_len={self.segment_len} overlap={self.overlap}"
            )

    def partitions(self) -> Sequence[InputPartition]:
        # driver-side: metadata only — paths, sizes, offsets. Directory
        # matches (Spark-written datasets named *.parquet) expand to
        # their contained data files.
        from cdc_algorithms_spark.sources.segmented_files import (
            expand_data_files,
        )

        parts: list[InputPartition] = []
        for path in expand_data_files(self.path_glob):
            size = os.path.getsize(path)
            for seg_idx, left in enumerate(range(0, size, self.segment_len)):
                parts.append(
                    _SegmentPartition(
                        path=path,
                        seg_idx=seg_idx,
                        left=left,
                        right=min(left + self.segment_len, size),
                        blob_len=size,
                        scan_start=max(left - self.overlap, 0),
                    )
                )
        if self.num_partitions is not None and self.num_partitions > 0:
            groups = [
                _SegmentGroupPartition(parts[i :: self.num_partitions])
                for i in range(min(self.num_partitions, len(parts)))
            ]
            return groups or [_SegmentGroupPartition([])]
        return parts

    def read(self, partition: InputPartition) -> Iterator:
        # executor-side. Emitted as Arrow RecordBatches — PySpark ships
        # them to the JVM zero-copy instead of pickling through the row
        # codec. Lazy mode emits metadata only (no file I/O here at all:
        # the consuming scan task range-reads its own slice) and packs a
        # whole segment group into ONE batch; materialize mode
        # range-reads each slice into a payload column, one batch per
        # segment so a group never holds more than one payload at once.
        import pyarrow as pa

        segs = (
            partition.segments
            if isinstance(partition, _SegmentGroupPartition)
            else [partition]
        )
        if not segs:
            return
        if not self.materialize:
            yield pa.record_batch(
                {
                    "path": [p.path for p in segs],
                    "seg_idx": pa.array([p.seg_idx for p in segs], type=pa.int64()),
                    "left": pa.array([p.left for p in segs], type=pa.int64()),
                    "right": pa.array([p.right for p in segs], type=pa.int64()),
                    "blob_len": pa.array(
                        [p.blob_len for p in segs], type=pa.int64()
                    ),
                    "scan_start": pa.array(
                        [p.scan_start for p in segs], type=pa.int64()
                    ),
                }
            )
            return
        for p in segs:
            with open(p.path, "rb") as f:
                f.seek(p.scan_start)
                payload = f.read(p.right - p.scan_start)
            yield pa.record_batch(
                {
                    "path": [p.path],
                    "seg_idx": pa.array([p.seg_idx], type=pa.int64()),
                    "left": pa.array([p.left], type=pa.int64()),
                    "right": pa.array([p.right], type=pa.int64()),
                    "blob_len": pa.array([p.blob_len], type=pa.int64()),
                    "scan_start": pa.array([p.scan_start], type=pa.int64()),
                    "payload": pa.array([payload], type=pa.binary()),
                }
            )


class FileSegmentsDataSource(DataSource):
    """``format("file_segments")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "file_segments"

    def schema(self) -> str:
        materialize = (
            str(self.options.get("materialize", "false")).lower() == "true"
        )
        return _SCHEMA_PAYLOAD if materialize else _SCHEMA_LAZY

    def reader(self, schema) -> DataSourceReader:
        return _FileSegmentsReader(self.options)


def register_file_segments(spark: SparkSession) -> None:
    """Idempotent registration of the format with this session."""
    spark.dataSource.register(FileSegmentsDataSource)


def read_file_segments(
    spark: SparkSession,
    path_glob: str,
    segment_len: int,
    overlap: int,
    materialize: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """format("file_segments") → the engine's standard segment table
    (adds the JVM-side ``src_id`` fingerprint; column order matches
    sources/segmented_files.py::SEGMENT_SCHEMA).

    Default is the LAZY contract: rows carry ``path`` and the consuming
    scan task (operators/distributed.py::chunk_segments) range-reads its
    own slice — the source contributes scheduler-native partition
    granularity (one InputPartition per segment, no repartition shuffle)
    while segment bytes are still born in the worker that chunks them.
    ``materialize=True`` delivers a ``payload`` column instead, at the
    cost of the payload crossing Python→JVM→Python.

    ``num_partitions`` groups segments round-robin into that many
    scheduler tasks (None = one task per segment, the right granularity
    for production-sized segments; set it ≈ the cluster's parallelism
    when segments are small relative to task overhead)."""
    register_file_segments(spark)
    reader = (
        spark.read.format("file_segments")
        .option("path", path_glob)
        .option("segment_len", str(segment_len))
        .option("overlap", str(overlap))
        .option("materialize", "true" if materialize else "false")
    )
    if num_partitions is not None:
        reader = reader.option("num_partitions", str(num_partitions))
    raw = reader.load()
    return raw.select(
        F.xxhash64("path").alias("src_id"),
        "seg_idx",
        "left",
        "right",
        "blob_len",
        "scan_start",
        "payload" if materialize else "path",
    )
