"""Range-read file source: segment huge files WITHOUT ever materializing
a whole blob anywhere.

``binaryFile`` (sources/registry.py) puts one whole file per row — fine
up to tens of MB, fatal for a 10 GB blob (one executor holds it all;
the reference has the same flaw via ``read_file``, chunker.rs:31-37).
This source is the 100 TB shape from SURVEY.md §4.3: the DRIVER only
lists paths and sizes (metadata); each EXECUTOR opens the file itself
and reads just its assigned ``[left - overlap, right)`` byte range, so
peak memory per task is ``segment_len + overlap`` regardless of file
size, and segments of one file fan out across the cluster.

Locally this uses plain ``open()``/``seek``; on a real cluster the same
row shape would be produced with the object store's range-GET (fsspec /
S3 Range headers) — only ``_read_range`` changes.

The output schema matches ``operators/distributed.py::segment_blob_df``,
so ``chunk_segments`` runs the identical cut-scan / seam-merge / hash
pipeline over it.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEGMENT_SCHEMA = (
    "src_id long, seg_idx long, left long, right long, "
    "blob_len long, scan_start long, payload binary"
)


def expand_data_files(path_glob: str) -> list[str]:
    """Glob matches expanded to regular data files.

    A match that is a DIRECTORY (the normal layout for Spark-written
    datasets — a dir literally named ``part.parquet``) contributes its
    contained regular files, skipping hidden files and ``_SUCCESS``-style
    commit markers. Zero-byte files are dropped (nothing to chunk).
    """
    out: list[str] = []
    for path in sorted(_glob.glob(path_glob)):
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                f = os.path.join(path, name)
                if (
                    os.path.isfile(f)
                    and not name.startswith((".", "_"))
                    and os.path.getsize(f) > 0
                ):
                    out.append(f)
        elif os.path.isfile(path) and os.path.getsize(path) > 0:
            out.append(path)
    return out


def segment_file_ranges(
    spark: SparkSession,
    path_glob: str,
    segment_len: int,
    overlap: int,
) -> DataFrame:
    """Driver-side metadata listing → a LAZY segment table, one row per
    (file, segment range): the rows carry ``path`` instead of
    ``payload``, and the consumer's scan task (``chunk_segments``) opens
    the file and reads its own ``[scan_start, right)`` slice in the same
    task that chunks it. Only paths/offsets leave the driver — bytes
    never do, and they never cross the JVM↔Python Arrow boundary an
    extra time. Deterministic ``src_id`` = xxhash64 of the path
    (computed in Spark for engine consistency with other sources).

    No shuffle: ``createDataFrame`` over the listing already cuts it
    into ``defaultParallelism`` contiguous slices with equal segment
    counts, so one file's ranges fan out across tasks — the same spread
    the ``file_segments`` DataSource plans natively.
    """
    if segment_len <= 0 or overlap < 0:
        raise ValueError(f"bad segment_len={segment_len} overlap={overlap}")
    rows = []
    for path in expand_data_files(path_glob):
        size = os.path.getsize(path)
        for seg_idx, left in enumerate(range(0, size, segment_len)):
            rows.append((path, seg_idx, left, min(left + segment_len, size), size))
    meta = spark.createDataFrame(
        rows, "path string, seg_idx long, left long, right long, blob_len long"
    )
    return meta.select(
        F.xxhash64("path").alias("src_id"),
        "seg_idx",
        "left",
        "right",
        "blob_len",
        F.greatest(F.col("left") - overlap, F.lit(0)).alias("scan_start"),
        "path",
    )
