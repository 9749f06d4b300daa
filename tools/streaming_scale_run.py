#!/usr/bin/env python
"""Streaming ingest pipeline at corpus scale (SCALING.md §17).

Pushes a generated corpus (same planted-clone design as
tools/corpus_scale_run.py) through the CONTINUOUS ingest loop
(streaming/ingest_pipeline.py: band-index probe → exact-verified pairs
→ greedy keep-first dedup → cross-batch compaction routing) in
id-ordered micro-batch stages, and checks the converged keep/manifest
arithmetic against the planted ground truth:

* every clone arrives with (or after) its decade base, so the keep rule
  must drop ~exactly the planted clones (minus the banding-recall tail),
* manifest byte totals must equal the kept docs' bytes per source,
* per-batch walls show the standing-pipeline cost profile (the point:
  batch work stays flat as the INDEX grows).

Usage::

    python tools/streaming_scale_run.py --docs 200000 --stages 4
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.corpus_scale_run import build_corpus_df  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--stages", type=int, default=4)
    ap.add_argument("--avg-tokens", type=int, default=700)
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--driver-mem", default="48g")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
        .config("spark.driver.memory", args.driver_mem)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_algorithms_spark.operators.storeio import read_epochs
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        MANIFEST_SCHEMA,
        ingest_pipeline_batch,
    )
    from cdc_algorithms_spark.operators.dedup_docs import (
        minhash_band_index,
        release_cached_frames,
    )

    report: dict = {"n_docs": args.docs, "stages": args.stages}
    corpus_dir = tempfile.mkdtemp(prefix="cdc_stream_corpus_")
    workdir = tempfile.mkdtemp(prefix="cdc_stream_work_")
    try:
        t0 = time.monotonic()
        build_corpus_df(
            spark, args.docs, args.avg_tokens, args.partitions
        ).write.mode("overwrite").parquet(corpus_dir)
        docs = spark.read.parquet(corpus_dir)
        report["corpus_gib"] = round(
            docs.agg(F.sum("n_chars")).first()[0] / 2**30, 2
        )
        report["gen_write_s"] = round(time.monotonic() - t0, 1)

        dirs = {
            n: os.path.join(workdir, n)
            for n in ("band_index", "docs", "pairs", "manifest")
        }
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        empty = docs.select("doc_id", "text").limit(0)
        minhash_band_index(empty, 3, 32, 8).write.parquet(
            dirs["band_index"] + "/seed"
        )
        empty.write.parquet(dirs["docs"] + "/seed")

        # id-ordered stages (the arrival contract) — called directly
        # batch-by-batch (the foreachBatch settle function IS the loop
        # body; the streaming runner around it is pinned in tests)
        per = args.docs // args.stages
        batch_walls = []
        for k in range(args.stages):
            lo, hi = k * per, (k + 1) * per if k < args.stages - 1 else args.docs
            batch = docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            t0 = time.monotonic()
            ingest_pipeline_batch(
                spark, batch, dirs["band_index"], dirs["docs"],
                dirs["pairs"], dirs["manifest"], k,
                n=3, num_hashes=32, bands=8, threshold=0.8,
                max_bucket=1000, target_bytes=1 << 20,
            )
            release_cached_frames()
            batch_walls.append(round(time.monotonic() - t0, 1))
        report["batch_walls_s"] = batch_walls

        pairs = spark.read.parquet(dirs["pairs"] + "/*")
        man = read_epochs(spark, dirs["manifest"], "seed", MANIFEST_SCHEMA)
        report["n_pairs"] = pairs.count()
        report["n_kept"] = man.count()
        report["n_dropped"] = args.docs - report["n_kept"]
        n_clones = docs.where(F.col("doc_id") % 10 >= 8).count()
        report["n_planted_clones"] = n_clones
        # every dropped doc must BE a planted clone (precision of the
        # keep rule is exact: drops need a verified pair)
        dropped_non_clone = (
            docs.join(man.select("doc_id"), "doc_id", "left_anti")
            .where(F.col("doc_id") % 10 < 8)
            .count()
        )
        report["dropped_non_clone"] = dropped_non_clone
        report["clone_drop_rate"] = round(
            report["n_dropped"] / max(1, n_clones), 4
        )
        # byte conservation per source: manifest totals == kept doc bytes
        mism = (
            man.groupBy("source").agg(F.sum("n_chars").alias("m"))
            .join(
                docs.join(man.select("doc_id"), "doc_id", "left_semi")
                .groupBy("source").agg(F.sum("n_chars").alias("d")),
                "source",
            )
            .where(F.col("m") != F.col("d"))
            .count()
        )
        report["byte_mismatch_sources"] = mism
        report["n_files_planned"] = (
            man.select("source", "file_seq").distinct().count()
        )
        print(json.dumps(report))
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
