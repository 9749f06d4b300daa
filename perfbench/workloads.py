"""The benchmark workloads, each a closed loop with one caller.
``bulk_chunk_dedup`` and ``incremental_epochs`` are in BENCHMARK.json;
``near_dup_docs`` runs by name, and one pass of it ends the traced run
of ``incremental_epochs`` (see perfbench/DESIGN.md, "Workloads").

A workload owns its generated inputs and its reference results. The
runner (``perfbench/run.py``) drives it:

    generate -> setup (per session start) -> warmup -> run_pass ... -> finish

The warm-up runs the pass's code on a slice of the input, so the first
timed pass does not pay first-use costs (Python worker imports, JIT).

``run_pass`` is the timed unit (one pass, or one epoch); it returns what
``check`` needs, and ``check`` runs outside the timed region. Every call
into the program goes through its public functions (``api``,
``sources.segmented_files``, ``operators.*``, ``streaming.sync``), each
wrapped in a ``Tracer`` span that is a no-op in untraced runs.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen

MiB = 1 << 20


def _write_docs(rows: list[tuple[int, str]], directory: str, n_files: int) -> None:
    os.makedirs(directory, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(0, len(rows), step):
        part = rows[i: i + step]
        table = pa.table({
            "doc_id": pa.array([r[0] for r in part], pa.int64()),
            "text": pa.array([r[1] for r in part], pa.string()),
        })
        pq.write_table(table, os.path.join(directory, f"part_{i // step:03d}.parquet"))


class Workload:
    name = ""
    input_mb = 0.0  # input MiB one pass (or epoch) processes
    layers: tuple[str, ...] = ()
    full_pass = ""  # the span covering a whole pass: tracing_overhead_s

    def __init__(self, work: str, cpus: int):
        self.work = work
        self.cpus = cpus
        self.singles: dict[str, float] = {}

    def generate(self, seed: int) -> dict:
        raise NotImplementedError

    def setup(self, spark, tracer) -> None:
        """Per-session set-up beyond the session itself."""

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer, i: int):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def finish(self, spark, tracer) -> list[str] | None:
        """Timed end-of-loop work; returns its check problems, or None
        when the workload has none."""
        return None

    def traced_extras(self, spark, tracer) -> list[str] | None:
        """Work done once at the end of the traced run; returns its check
        problems, or None when it has nothing to check."""
        return None


# --- bulk_chunk_dedup ---------------------------------------------------------

class BulkChunkDedup(Workload):
    name = "bulk_chunk_dedup"
    algos = ("ae", "fastcdc")
    expected_size = 16384
    segment_len = 4 << 20
    layers = ("sources.segment_file_ranges", "distributed.chunk_segments",
              "dedup.dedup_stats")
    full_pass = "dedup.dedup_stats"

    def generate(self, seed: int) -> dict:
        files, truth = gen.bulk_files(seed)
        d = os.path.join(self.work, "bulk")
        shutil.rmtree(d, ignore_errors=True)
        gen.write_files(files, d)
        self.glob = os.path.join(d, "*.bin")
        self.warm_glob = os.path.join(d, "part_000.bin")
        self.input_mb = len(self.algos) * gen.BULK_TOTAL / MiB
        self.expect = {}
        for algo in self.algos:
            self.expect[algo] = checks.bulk_reference(
                files, algo, self.expected_size, self.segment_len)
            self.singles[f"chunkers.{algo}_mb_per_s"] = checks.kernel_mb_per_s(
                files, algo, self.expected_size)
        return {"input_digest": gen.digest(*files), "dup_share": truth["dup_share"],
                "expect": self.expect}

    def _chunks(self, spark, path_glob: str):
        """The chunk tables of both algorithms, as one frame."""
        from cdc_algorithms_spark import api

        chunks = None
        for algo in self.algos:
            c = api.chunk_files(spark, path_glob, algo=algo,
                                expected_size=self.expected_size,
                                segment_len=self.segment_len)
            chunks = c if chunks is None else chunks.unionByName(c)
        return chunks

    def _stats(self, spark, path_glob: str):
        from cdc_algorithms_spark import api

        return api.dedup_stats(self._chunks(spark, path_glob), key_col="hash").collect()

    def warmup(self, spark) -> None:
        # one file: the same code paths as a pass; under load it costs
        # about as much as a first whole pass, since first use dominates
        self._stats(spark, self.warm_glob)

    def run_pass(self, spark, tracer, i: int):
        if tracer.sc is not None:
            self._layer_prefixes(spark, tracer)
        with tracer.span("dedup.dedup_stats", prefix="distributed.chunk_segments"):
            rows = self._stats(spark, self.glob)
        return rows

    def _layer_prefixes(self, spark, tracer) -> None:
        """Traced only: time the pipeline cut after each earlier layer."""
        from pyspark.sql import functions as F

        from cdc_algorithms_spark.chunkers.params import make_params
        from cdc_algorithms_spark.operators.distributed import _merge_spacing
        from cdc_algorithms_spark.sources.segmented_files import segment_file_ranges

        from perfbench.sessions import release

        for algo in self.algos:
            with tracer.span("sources.segment_file_ranges"):
                overlap = _merge_spacing(make_params(algo, self.expected_size, 0))
                segment_file_ranges(spark, self.glob, self.segment_len, overlap).count()
            release(spark)
        # both algorithms in one action, as the pass runs them: timed one
        # algorithm at a time, the two would not overlap and their sum
        # would exceed the whole pass
        with tracer.span("distributed.chunk_segments",
                         prefix="sources.segment_file_ranges"):
            self._chunks(spark, self.glob).agg(
                F.count("*"), F.sum("length"), F.bit_xor("hash")).collect()
        release(spark)

    def check(self, rows) -> list[str]:
        got = {r["algo"]: r for r in rows}
        problems = []
        for algo in self.algos:
            label = f"parallel_{algo}{self.expected_size}"
            if label not in got:
                problems.append(f"{label}: no dedup_stats row")
                continue
            for k, v in self.expect[algo].items():
                if got[label][k] != v:
                    problems.append(f"{label}.{k} = {got[label][k]}, reference {v}")
        self.singles["distributed.chunks"] = float(
            sum(r["n_chunks"] for r in rows)
        )
        return problems


# --- near_dup_docs -------------------------------------------------------------

class NearDupDocs(Workload):
    name = "near_dup_docs"
    threshold = 0.8
    must_find_at = 0.95  # planted pairs this similar are found by any banding
    layers = ("dedup_docs.minhash_lsh_pairs", "dedup_docs.connected_components")
    full_pass = "dedup_docs.connected_components"

    def generate(self, seed: int) -> dict:
        rows, truth = gen.near_dup_corpus(seed)
        d = os.path.join(self.work, "docs")
        shutil.rmtree(d, ignore_errors=True)
        _write_docs(rows, d, 2 * self.cpus)
        self.path = d
        self.input_mb = sum(len(t) for _, t in rows) / MiB
        self.sets = {i: checks.shingles(t) for i, t in rows}
        groups = truth["clusters"] + [
            c[k: k + 2] for c in truth["chains"] for k in range(len(c) - 1)
        ]
        self.must_find = checks.planted_pairs(groups, self.sets, self.must_find_at)
        blob = "\n".join(t for _, t in rows).encode()
        self.singles["chunkers.ae_mb_per_s"] = checks.kernel_mb_per_s([blob], "ae", 16384)
        self.singles["chunkers.fastcdc_mb_per_s"] = checks.kernel_mb_per_s([blob], "fastcdc", 16384)
        return {"input_digest": gen.digest(rows), "docs": len(rows),
                "planted_clusters": len(truth["clusters"]),
                "planted_chains": len(truth["chains"]),
                "required_pairs": len(self.must_find)}

    def _groups(self, spark, path: str):
        from cdc_algorithms_spark import api

        docs = spark.read.parquet(path)
        pairs = api.near_dup_pairs(docs, method="minhash", threshold=self.threshold)
        return pairs, api.dedup_groups(pairs).collect()

    def warmup(self, spark) -> None:
        # one of the parquet parts: the same code paths, a fraction of a pass
        self._groups(spark, os.path.join(self.path, "part_000.parquet"))

    def run_pass(self, spark, tracer, i: int):
        from cdc_algorithms_spark import api
        from cdc_algorithms_spark.operators.dedup_docs import connected_components

        from perfbench.sessions import release

        if tracer.sc is not None:
            with tracer.span("dedup_docs.minhash_lsh_pairs"):
                api.near_dup_pairs(
                    spark.read.parquet(self.path), method="minhash",
                    threshold=self.threshold,
                ).count()
            release(spark)
        with tracer.span("dedup_docs.connected_components",
                         prefix="dedup_docs.minhash_lsh_pairs"):
            pairs, groups = self._groups(spark, self.path)
        self.singles["dedup_docs.cc_rounds"] = float(connected_components.last_rounds)
        return pairs, groups

    def check(self, result) -> list[str]:
        pairs_df, group_rows = result
        pairs = [(r["id_a"], r["id_b"]) for r in pairs_df.collect()]
        problems = checks.check_pairs(pairs, self.sets, self.threshold, self.must_find)
        want = checks.components(pairs)
        got = {r["doc_id"]: r["component_id"] for r in group_rows}
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:3]
            problems.append(f"components differ from union-find, e.g. {bad}")
        self.singles["dedup_docs.verified_pairs"] = float(len(pairs))
        return problems

    def traced_extras(self, spark, tracer) -> None:
        """Candidate pairs, counted outside the spans."""
        from pyspark.sql import functions as F

        from cdc_algorithms_spark.operators.dedup_docs import minhash_band_index

        buckets = (
            minhash_band_index(spark.read.parquet(self.path))
            .groupBy("band", "band_hash").count()
        )
        cand = buckets.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
        self.singles["dedup_docs.candidate_pairs"] = float(cand or 0)
        verified = self.singles.get("dedup_docs.verified_pairs", 0.0)
        self.singles["dedup_docs.verify_yield"] = verified / cand if cand else 0.0


# --- incremental_epochs -------------------------------------------------------

class IncrementalEpochs(Workload):
    name = "incremental_epochs"
    threshold = 0.8
    chunk_algo = "fastcdc"
    chunk_size = 64
    layers = ("dedup_docs.build_index", "dedup_docs.probe_index",
              "dedup_docs.extend_index", "sync.sync_batch", "storeio.compact",
              *NearDupDocs.layers)
    full_pass = ("dedup_docs.probe_index", "dedup_docs.extend_index", "sync.sync_batch")

    def generate(self, seed: int) -> dict:
        self.seed = seed
        corpus, batches, truth = gen.incremental_inputs(seed)
        root = os.path.join(self.work, "incr_in")
        shutil.rmtree(root, ignore_errors=True)
        _write_docs(corpus, os.path.join(root, "corpus"), 2 * self.cpus)
        self.batch_paths = []
        for e, batch in enumerate(batches):
            p = os.path.join(root, f"batch_{e:03d}")
            _write_docs(batch, p, 1)
            self.batch_paths.append(p)
        self.corpus_path = os.path.join(root, "corpus")
        self.corpus, self.batches, self.sources = corpus, batches, truth["sources"]
        self.input_mb = sum(len(t) for b in batches for _, t in b) / len(batches) / MiB
        self.sets = {i: checks.shingles(t) for i, t in corpus}
        for batch in batches:
            self.sets.update((i, checks.shingles(t)) for i, t in batch)
        blob = "\n".join(t for b in batches for _, t in b).encode()
        for algo in ("ae", "fastcdc"):
            self.singles[f"chunkers.{algo}_mb_per_s"] = checks.kernel_mb_per_s(
                [blob], algo, 16384)
        return {"input_digest": gen.digest(corpus, *batches),
                "corpus_docs": len(corpus), "batch_docs": len(batches[0]),
                "edit_share": truth["edit_share"]}

    def _paths(self, tag: str) -> None:
        base = os.path.join(self.work, f"incr_{tag}")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        self.index = os.path.join(base, "index")
        self.store = os.path.join(base, "store")
        self.metrics = os.path.join(base, "metrics")

    def setup(self, spark, tracer) -> None:
        from pyspark.sql import functions as F

        from cdc_algorithms_spark import api

        self._paths("traced" if tracer.sc is not None else "run")
        corpus = spark.read.parquet(self.corpus_path)
        with tracer.span("dedup_docs.build_index"):
            api.build_near_dup_index(corpus, self.index, threshold=self.threshold)
        # the chunk store in the seed + batch_<id> layout of streaming/sync.py
        (
            api.chunk(corpus, algo=self.chunk_algo, expected_size=self.chunk_size)
            .select("chunk_text").distinct()
            .select("chunk_text", F.lit("old").alias("origin"),
                    F.lit(-1).cast("long").alias("batch_id"))
            .write.mode("overwrite").parquet(os.path.join(self.store, "seed"))
        )
        self.ref = checks.SyncReference(self.chunk_algo, self.chunk_size)
        self.ref.seed(self.corpus)
        self.live = set(range(len(self.corpus)))
        self.epoch = 0

    def warmup(self, spark) -> None:
        from cdc_algorithms_spark import api

        # read-only: probe the last batch, which the loop never reaches
        # (set-up has already run the chunker when it seeded the store)
        batch = spark.read.parquet(self.batch_paths[-1])
        api.probe_near_dup_index(spark, self.index, batch, threshold=self.threshold).collect()
        api.release_probe_frames()

    def run_pass(self, spark, tracer, i: int):
        from pyspark.sql import functions as F

        from cdc_algorithms_spark import api
        from cdc_algorithms_spark.streaming import sync

        e = self.epoch
        if e >= len(self.batch_paths) - 1:
            raise RuntimeError("ran out of generated batches; raise gen.INCR_MAX_EPOCHS")
        self.epoch += 1
        batch = spark.read.parquet(self.batch_paths[e])
        with tracer.span("dedup_docs.probe_index"):
            pairs = api.probe_near_dup_index(
                spark, self.index, batch, threshold=self.threshold
            ).collect()
            api.release_probe_frames()
        with tracer.span("dedup_docs.extend_index"):
            api.extend_near_dup_index(spark, self.index, batch, epoch=e,
                                      threshold=self.threshold)
        if tracer.sc is not None:
            with tracer.span("chunking.cdc_chunks"):
                api.chunk(batch, algo=self.chunk_algo, expected_size=self.chunk_size) \
                    .agg(F.count("*"), F.sum("length")).collect()
        with tracer.span("sync.sync_batch", prefix="chunking.cdc_chunks"):
            chunks = api.chunk(batch, algo=self.chunk_algo, expected_size=self.chunk_size)
            sync.sync_batch(spark, chunks, self.store, self.metrics, batch_id=e)
        return e, pairs

    def check(self, result) -> list[str]:
        e, pair_rows = result
        batch = self.batches[e]
        batch_ids = {i for i, _ in batch}
        pairs = [(r["id_a"], r["id_b"]) for r in pair_rows]
        must = set()
        for i in batch_ids:
            src = self.sources.get(i)
            if src is not None and checks.jaccard(self.sets[i], self.sets[src]) >= self.threshold + checks.TOL:
                must.add((min(i, src), max(i, src)))
        problems = checks.check_pairs(pairs, self.sets, self.threshold, must)
        known = self.live | batch_ids
        for a, b in pairs:
            if not ({a, b} & batch_ids and {a, b} <= known):
                problems.append(f"pair ({a},{b}) does not touch batch {e} or is unknown")
        self.live |= batch_ids
        want = self.ref.settle(batch)
        got = pq.read_table(os.path.join(self.metrics, f"batch_{e}")).to_pylist()
        if len(got) != 1:
            problems.append(f"sync metrics for batch {e}: {len(got)} rows")
        else:
            for k, v in want.items():
                if got[0][k] != v:
                    problems.append(f"sync batch {e} {k} = {got[0][k]}, reference {v}")
        return problems

    def store_counts(self) -> None:
        """Live epochs, files and bytes of both stores, read from disk."""
        def folded(d):
            try:
                with open(os.path.join(d, "_folded_epochs.json")) as f:
                    return set(json.load(f)["folded"])
            except FileNotFoundError:
                return set()

        sets_delta = os.path.join(self.index, "sets_delta")
        live = [n for n in os.listdir(sets_delta) if n not in folded(
            os.path.join(self.index, "sets"))] if os.path.isdir(sets_delta) else []
        live += [n for n in os.listdir(self.store)
                 if n.startswith("batch_") and n not in folded(self.store)]
        files = nbytes = 0
        for d in (self.index, self.store):
            for dirpath, _, names in os.walk(d):
                for n in names:
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        self.singles.update({"store.live_epochs": float(len(live)),
                             "store.files": float(files), "store.bytes": float(nbytes)})

    def finish(self, spark, tracer) -> list[str]:
        from cdc_algorithms_spark import api

        self.store_counts()
        with tracer.span("storeio.compact"):
            api.compact_near_dup_index(spark, self.index)
            api.compact_stream_store(spark, self.store)
        stored = set()
        for path in glob.glob(os.path.join(self.store, "seed", "*.parquet")):
            stored.update(s.encode() for s in pq.read_table(path).column("chunk_text").to_pylist())
        if stored != self.ref.store:
            return [f"compacted store holds {len(stored)} chunks, reference {len(self.ref.store)}"]
        return []

    def traced_extras(self, spark, tracer) -> list[str]:
        """One checked ``near_dup_docs`` pass from the same seed, so the
        ``minhash_lsh_pairs`` and ``connected_components`` layers have
        figures: that workload is not in BENCHMARK.json (its runs did
        not fit the time budget), and these are the document layers it
        measured."""
        from perfbench.sessions import release

        nd = NearDupDocs(self.work, self.cpus)
        nd.generate(self.seed)
        nd.warmup(spark)
        release(spark)
        tracer.pass_idx = 0
        problems = nd.check(nd.run_pass(spark, tracer, 0))
        release(spark)
        nd.traced_extras(spark, tracer)
        self.singles.update((k, v) for k, v in nd.singles.items()
                            if k.startswith("dedup_docs."))
        return problems


WORKLOADS = {w.name: w for w in (BulkChunkDedup, NearDupDocs, IncrementalEpochs)}
