#!/usr/bin/env python
"""Quarantine under bounded disorder at corpus scale (SCALING.md §21).

§17 measures the healthy ingest loop; the r07 arrival guard
(streaming/ingest_pipeline.py) is fixture-proven. This run gives the
guard the corpus-scale treatment: ~1% of each stage's documents are
PLANTED LATE (they arrive one stage after their id says they should,
i.e. at or below the carried watermark) in a ≥1M-doc drive of the
loop, and the report records

* per-batch walls with the guard on (expectation: FLAT — the watermark
  check is one ≤#batches-row read + a batch-local filter; disorder
  costs only its own quarantine write),
* quarantine accounting (expectation: exactly the planted late docs,
  violation-proportional — never corpus-sized),
* a full drain (requeue_quarantined → one more settled stage under
  fresh above-watermark ids; expectation: nothing re-quarantines), and
* the converged accounting: every document disposed exactly once
  (kept + dropped == n via lineage — requeued docs count under their
  ORIGINAL id), the clone drop rate matches §17's healthy-run level
  (clones are 2%-mutated, so the banding-recall tail applies
  identically), every dropped non-clone is a PLANTED-LATE base whose
  clone earned the keep by arriving first (the documented
  arrival-time-priority rule — late arrival loses the tiebreak), and
  manifest bytes never exceed source bytes.

Usage::

    python tools/ingest_disorder_scale_run.py --docs 1000000 --stages 5
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

LATE_MOD = 97       # ids with doc_id % 97 == 13 arrive one stage late
LATE_RESIDUE = 13   # (~1% of the corpus)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--stages", type=int, default=5)
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

    from cdc_algorithms_spark.operators.dedup_docs import (
        minhash_band_index,
        release_cached_frames,
    )
    from cdc_algorithms_spark.operators.storeio import read_epochs
    from cdc_algorithms_spark.streaming.ingest_pipeline import (
        MANIFEST_SCHEMA,
        ingest_pipeline_batch,
        requeue_quarantined,
    )

    report: dict = {
        "n_docs": args.docs,
        "stages": args.stages,
        "late_fraction": round(1.0 / LATE_MOD, 4),
    }
    corpus_dir = tempfile.mkdtemp(prefix="cdc_disorder_corpus_")
    workdir = tempfile.mkdtemp(prefix="cdc_disorder_work_")
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
            for n in ("band_index", "docs", "pairs", "manifest",
                      "watermark", "quarantine")
        }
        for d in dirs.values():
            os.makedirs(d, exist_ok=True)
        empty = docs.select("doc_id", "text").limit(0)
        minhash_band_index(empty, 3, 32, 8).write.parquet(
            dirs["band_index"] + "/seed"
        )
        empty.write.parquet(dirs["docs"] + "/seed")

        # arrival stage: id-ordered base schedule, except the planted
        # late ids slip one stage (never out of the final stage — a
        # last-stage doc has no later stage to be late in)
        per = args.docs // args.stages
        base_stage = F.least(
            F.lit(args.stages - 1), (F.col("doc_id") / per).cast("long")
        )
        is_late = (
            (F.col("doc_id") % LATE_MOD == LATE_RESIDUE)
            & (base_stage < args.stages - 1)
        )
        arrival = (base_stage + is_late.cast("long")).alias("__arr")
        staged = docs.select("doc_id", "text", "source", "n_chars", arrival)
        n_late_planted = staged.where(
            F.col("__arr") != base_stage
        ).count()
        report["late_planted"] = n_late_planted

        def settle(batch, bid):
            t0 = time.monotonic()
            ingest_pipeline_batch(
                spark, batch, dirs["band_index"], dirs["docs"],
                dirs["pairs"], dirs["manifest"], bid,
                n=3, num_hashes=32, bands=8, threshold=0.8,
                max_bucket=1000, target_bytes=1 << 20,
                wm_dir=dirs["watermark"],
                quarantine_dir=dirs["quarantine"],
                on_late="quarantine",
            )
            release_cached_frames()
            return round(time.monotonic() - t0, 1)

        walls = []
        for k in range(args.stages):
            batch = staged.where(F.col("__arr") == k).drop("__arr")
            walls.append(settle(batch, k))
        report["batch_walls_s"] = walls

        quar = spark.read.parquet(dirs["quarantine"] + "/*")
        report["n_quarantined"] = quar.count()
        report["quarantine_equals_planted"] = (
            report["n_quarantined"] == n_late_planted
        )

        # full drain: fresh above-watermark ids, one more settled stage
        requeued = requeue_quarantined(spark, workdir).persist()
        requeued.count()
        report["drain_wall_s"] = settle(
            requeued.select("doc_id", "text", "source", "n_chars"),
            args.stages,
        )
        quar_after = spark.read.parquet(dirs["quarantine"] + "/*")
        report["requeue_requarantined"] = quar_after.count() - report[
            "n_quarantined"
        ]

        # converged equivalence, on ORIGINAL identity via lineage —
        # accounting stays distributed (joins), never a driver collect
        man = read_epochs(spark, dirs["manifest"], "seed", MANIFEST_SCHEMA)
        lineage_df = requeued.select(
            F.col("doc_id").alias("fresh_id"), "orig_doc_id"
        )
        kept_orig = (
            man.select("doc_id")
            .join(lineage_df, man["doc_id"] == lineage_df["fresh_id"], "left")
            .select(
                F.coalesce("orig_doc_id", "doc_id").alias("orig_id")
            )
        )
        kept_orig = kept_orig.persist()
        n_kept = kept_orig.count()
        report["n_kept"] = n_kept
        report["n_dropped"] = args.docs - n_kept
        n_clones = docs.where(F.col("doc_id") % 10 >= 8).count()
        report["n_planted_clones"] = n_clones
        report["clone_drop_rate"] = round(
            report["n_dropped"] / max(1, n_clones), 4
        )
        report["kept_ids_distinct"] = (
            kept_orig.distinct().count() == n_kept
        )
        # a dropped NON-clone is only legitimate as a planted-late base
        # that lost the arrival-order tiebreak to its own (kept) clone
        dropped = docs.select("doc_id").join(
            kept_orig, docs["doc_id"] == kept_orig["orig_id"], "left_anti"
        )
        report["dropped_non_clone"] = dropped.where(
            F.col("doc_id") % 10 < 8
        ).count()
        report["dropped_non_clone_not_late"] = dropped.where(
            (F.col("doc_id") % 10 < 8)
            & ~(F.col("doc_id") % LATE_MOD == LATE_RESIDUE)
        ).count()
        # byte conservation per source (manifest rows carry n_chars)
        mism = (
            man.groupBy("source").agg(F.sum("n_chars").alias("m"))
            .join(
                docs.groupBy("source").agg(F.sum("n_chars").alias("d")),
                "source",
            )
            .where(F.col("m") > F.col("d"))
            .count()
        )
        report["manifest_bytes_over_source_bytes"] = mism
        print(json.dumps(report))
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
