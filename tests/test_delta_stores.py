"""The five epoch stores — Jaccard index, BM25 text index, DSIR count
store, PQ codes, and the streaming sync chunk store — driven through
one shared sequence.

Pins, per store: an EMPTY extend epoch (a micro-batch with no rows
still writes its epoch directory, with no data file to infer a schema
from) leaves the store probe-able and compactable; probes equal a
one-shot build before and after compaction; a replay of a folded epoch
is dead. A second test pins the on-disk layout (directory names,
partition columns, marker files). Stores in the retired layouts
(``epoch_<n>`` deltas, ``batch_<id>`` generations beside ``seed``) are
refused on read, extend and compaction.
"""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from cdc_algorithms_spark import api
from cdc_algorithms_spark.operators import dedup_docs as J
from cdc_algorithms_spark.operators import retrieval as R
from cdc_algorithms_spark.operators import selection as S
from cdc_algorithms_spark.operators import similarity as Q
from cdc_algorithms_spark.operators.chunking import fixed_chunks
from cdc_algorithms_spark.operators.storeio import live_epochs, read_live
from cdc_algorithms_spark.streaming.sync import sync_batch
from tests.conftest import SF_DIR

N, T = 3, 0.8
QUERIES = [(1, "spark window agg"), (2, "customer stream query")]


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _rows(df):
    return sorted(map(tuple, df.collect()))


class _Jaccard:
    kinds = ("sets", "prefix")

    @staticmethod
    def corpus(spark):
        return _docs(spark).select("doc_id", "text")

    @staticmethod
    def write(spark, seed, path):
        index = J.jaccard_prefix_index(seed, n=N, threshold=T)
        J.write_jaccard_index(index, path)
        index[1].unpersist()

    @staticmethod
    def extend(spark, path, batch, epoch):
        J.extend_jaccard_index(spark, path, batch, epoch, n=N, threshold=T)

    @staticmethod
    def compact(spark, path):
        J.compact_jaccard_index(spark, path)

    @staticmethod
    def answer(spark, path):
        batch = _Jaccard.corpus(spark).where(F.col("doc_id") % 3 == 0)
        return _rows(
            J.incremental_jaccard_pairs_indexed(
                J.read_jaccard_index_live(spark, path), batch, n=N, threshold=T
            )
        )

    @staticmethod
    def oneshot(spark, seed, ext, path):
        batch = _Jaccard.corpus(spark).where(F.col("doc_id") % 3 == 0)
        return _rows(
            J.incremental_jaccard_pairs(
                seed.unionByName(ext), batch, n=N, threshold=T
            )
        )


class _Text:
    kinds = ("postings", "meta")

    @staticmethod
    def corpus(spark):
        return _docs(spark)

    @staticmethod
    def write(spark, seed, path):
        R.write_text_index(seed, path)

    @staticmethod
    def extend(spark, path, batch, epoch):
        R.extend_text_index(spark, path, batch, epoch)

    @staticmethod
    def compact(spark, path):
        R.compact_text_index(spark, path)

    @staticmethod
    def answer(spark, path):
        qt = R.query_terms(spark, QUERIES)
        return _rows(R.bm25_topk_indexed(spark, path, qt, k=10))

    @staticmethod
    def oneshot(spark, seed, ext, path):
        R.write_text_index(seed.unionByName(ext), path)
        return _Text.answer(spark, path)


class _Dsir:
    kinds = ("counts", "meta")

    @staticmethod
    def corpus(spark):
        return _docs(spark)

    @staticmethod
    def write(spark, seed, path):
        S.write_dsir_counts(seed, F.col("lang") == "en", path)

    @staticmethod
    def extend(spark, path, batch, epoch):
        S.extend_dsir_counts(spark, path, batch, F.col("lang") == "en", epoch)

    @staticmethod
    def compact(spark, path):
        S.compact_dsir_counts(spark, path)

    @staticmethod
    def answer(spark, path):
        return _rows(S.dsir_weights_indexed(spark, path, _docs(spark)))

    @staticmethod
    def oneshot(spark, seed, ext, path):
        S.write_dsir_counts(seed.unionByName(ext), F.col("lang") == "en", path)
        return _Dsir.answer(spark, path)


class _Pq:
    kinds = ("codes",)

    @staticmethod
    def corpus(spark):
        return _emb(spark).select(F.col("vec_id"), "embedding")

    @staticmethod
    def write(spark, seed, path):
        Q.write_pq_index(seed, path)

    @staticmethod
    def extend(spark, path, batch, epoch):
        Q.extend_pq_index(spark, path, batch, epoch)

    @staticmethod
    def compact(spark, path):
        Q.compact_pq_index(spark, path)

    @staticmethod
    def answer(spark, path):
        idx = Q.read_pq_index(spark, path)
        queries = _emb(spark).where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        probe = Q.pq_topk_indexed(
            queries, idx, _emb(spark), k=5, nprobe=6, rerank=6
        )
        # the drift report reads every stats epoch, empty ones included
        drift = Q.pq_drift_report(spark, path).agg(
            F.sum("n_seed"), F.sum("n_new")
        )
        return _rows(probe), _rows(idx.codes), _rows(drift)

    @staticmethod
    def oneshot(spark, seed, ext, path):
        # the model trains on the seed alone, so the one-shot twin is
        # the same seed extended by one epoch holding every batch row
        Q.write_pq_index(seed, path)
        Q.extend_pq_index(spark, path, ext, 0)
        return _Pq.answer(spark, path)


class _Sync:
    kinds = ("seed",)

    @staticmethod
    def corpus(spark):
        return _docs(spark).select("doc_id", "text")

    @staticmethod
    def write(spark, seed, path):
        fixed_chunks(seed, 64).select("chunk_text").distinct().select(
            "chunk_text",
            F.lit("old").alias("origin"),
            F.lit(-1).cast("long").alias("batch_id"),
        ).write.mode("overwrite").parquet(f"{path}/seed")

    @staticmethod
    def extend(spark, path, batch, epoch):
        sync_batch(spark, fixed_chunks(batch, 64), path, f"{path}_metrics", epoch)

    @staticmethod
    def compact(spark, path):
        api.compact_stream_store(spark, path)

    @staticmethod
    def answer(spark, path):
        return _rows(read_live(spark, path, "seed").select("chunk_text", "origin"))

    @staticmethod
    def oneshot(spark, seed, ext, path):
        _Sync.write(spark, seed, path)
        _Sync.extend(spark, path, ext, 0)
        return _Sync.answer(spark, path)


STORES = {
    "jaccard": _Jaccard, "text": _Text, "dsir": _Dsir, "pq": _Pq, "sync": _Sync,
}


def _live(spark, store, path):
    return [e for kind in store.kinds for e in live_epochs(spark, path, kind)]


@pytest.mark.parametrize("name", sorted(STORES))
def test_empty_epoch_keeps_store_probeable_and_compactable(
    spark, tmp_path, name
):
    store = STORES[name]
    corpus = store.corpus(spark)
    key = corpus.columns[0]
    seed = corpus.where(F.col(key) % 3 == 1)
    ext = corpus.where(F.col(key) % 3 == 2)
    path = str(tmp_path / name)
    store.write(spark, seed, path)
    store.extend(spark, path, corpus.where(F.lit(False)), 1)
    store.extend(spark, path, ext, 2)
    want = store.oneshot(spark, seed, ext, str(tmp_path / "oneshot"))

    assert len(_live(spark, store, path)) == 2 * len(store.kinds)
    assert store.answer(spark, path) == want
    store.compact(spark, path)
    assert _live(spark, store, path) == []
    assert store.answer(spark, path) == want
    # at-least-once replay of an epoch the compaction folded: its
    # directory reappears but stays dead
    store.extend(spark, path, ext, 2)
    assert _live(spark, store, path) == []
    assert store.answer(spark, path) == want
    store.compact(spark, path)
    assert store.answer(spark, path) == want


def _tree(root):
    """Every directory and every ``_``-prefixed marker file under
    ``root``, relative, with partition values collapsed to ``=*`` (the
    values depend on hashing; the column names are the format)."""
    out = set()
    for d, dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        for name in dirs:
            out.add(os.path.join(rel, name) + "/")
        for name in files:
            if name.startswith("_") and not name.endswith(".crc"):
                out.add(os.path.join(rel, name))
    return sorted({re.sub(r"=[^/]+", "=*", p.removeprefix("./")) for p in out})


# The one epoch-store layout: base + three extend epochs, with a
# compaction after the second. Every kind's epochs are ``epoch=<n>``
# partitions of one ``{kind}_delta`` relation; the base keeps its
# manifest of folded epochs.
_LAYOUT = {
    "jaccard": [
        "_index_meta.json",
        "df/",
        "df/_SUCCESS",
        "df/sh_bucket=*/",
        "prefix/",
        "prefix/_SUCCESS",
        "prefix/_folded_epochs.json",
        "prefix/sh_bucket=*/",
        "prefix_delta/",
        "prefix_delta/epoch=*/",
        "prefix_delta/epoch=*/_SUCCESS",
        "prefix_delta/epoch=*/sh_bucket=*/",
        "sets/",
        "sets/_SUCCESS",
        "sets/_folded_epochs.json",
        "sets/id_bucket=*/",
        "sets_delta/",
        "sets_delta/epoch=*/",
        "sets_delta/epoch=*/_SUCCESS",
        "sets_delta/epoch=*/id_bucket=*/",
    ],
    "text": [
        "_store_meta.json",
        "meta/",
        "meta/_SUCCESS",
        "meta/_folded_epochs.json",
        "meta_delta/",
        "meta_delta/epoch=*/",
        "meta_delta/epoch=*/_SUCCESS",
        "postings/",
        "postings/_SUCCESS",
        "postings/_folded_epochs.json",
        "postings/bucket=*/",
        "postings_delta/",
        "postings_delta/epoch=*/",
        "postings_delta/epoch=*/_SUCCESS",
        "postings_delta/epoch=*/bucket=*/",
    ],
    "dsir": [
        "_store_meta.json",
        "counts/",
        "counts/_SUCCESS",
        "counts/_folded_epochs.json",
        "counts/bucket=*/",
        "counts_delta/",
        "counts_delta/epoch=*/",
        "counts_delta/epoch=*/_SUCCESS",
        "counts_delta/epoch=*/bucket=*/",
        "meta/",
        "meta/_SUCCESS",
        "meta/_folded_epochs.json",
        "meta_delta/",
        "meta_delta/epoch=*/",
        "meta_delta/epoch=*/_SUCCESS",
    ],
    "pq": [
        "codes/",
        "codes/_SUCCESS",
        "codes/_folded_epochs.json",
        "codes/cell=*/",
        "codes_delta/",
        "codes_delta/epoch=*/",
        "codes_delta/epoch=*/_SUCCESS",
        "codes_delta/epoch=*/cell=*/",
        "model/",
        "model/_SUCCESS",
        "stats/",
        "stats/_SUCCESS",
        "stats_delta/",
        "stats_delta/epoch=*/",
        "stats_delta/epoch=*/_SUCCESS",
    ],
    "sync": [
        "seed/",
        "seed/_SUCCESS",
        "seed/_folded_epochs.json",
        "seed_delta/",
        "seed_delta/epoch=*/",
        "seed_delta/epoch=*/_SUCCESS",
    ],
}


@pytest.mark.parametrize("name", sorted(STORES))
def test_store_layout_is_unchanged(spark, tmp_path, name):
    store = STORES[name]
    corpus = store.corpus(spark)
    key = corpus.columns[0]
    path = str(tmp_path / name)
    store.write(spark, corpus.where(F.col(key) % 4 == 0), path)
    store.extend(spark, path, corpus.where(F.col(key) % 4 == 1), 0)
    store.extend(spark, path, corpus.where(F.col(key) % 4 == 2), 1)
    store.compact(spark, path)
    store.extend(spark, path, corpus.where(F.col(key) % 4 == 3), 2)
    assert _tree(path) == _LAYOUT[name]


def test_retired_epoch_underscore_layout_is_refused(spark, tmp_path):
    """A ``*_delta`` store whose epochs sit in ``epoch_<n>`` directories
    (the layout before one ``epoch=``-partitioned delta relation) is
    refused with the path named — on read, extend and compaction —
    instead of silently reading as the base alone."""
    store = _Jaccard
    corpus = store.corpus(spark)
    path = str(tmp_path / "jaccard")
    store.write(spark, corpus.where(F.col("doc_id") % 3 == 1), path)
    store.extend(spark, path, corpus.where(F.col("doc_id") % 3 == 2), 1)
    for kind in store.kinds:
        os.rename(f"{path}/{kind}_delta/epoch=1", f"{path}/{kind}_delta/epoch_1")
    retired = re.escape(f"{path}/sets_delta/epoch_1")
    with pytest.raises(ValueError, match=retired):
        store.answer(spark, path)
    with pytest.raises(ValueError, match=retired):
        store.extend(spark, path, corpus.where(F.col("doc_id") % 3 == 0), 2)
    with pytest.raises(ValueError, match=retired):
        store.compact(spark, path)
    assert not os.path.exists(f"{path}/sets_delta/epoch=2")


def test_retired_batch_generation_layout_is_refused(spark, tmp_path):
    """A streaming store with ``batch_<id>`` generations beside its
    ``seed`` (the layout before the seed became the base of an epoch
    store) is refused with the path named — on read, extend and
    compaction."""
    store = _Sync
    corpus = store.corpus(spark)
    path = str(tmp_path / "sync")
    store.write(spark, corpus.where(F.col("doc_id") % 3 == 1), path)
    spark.read.parquet(f"{path}/seed").limit(3).write.parquet(f"{path}/batch_0")
    retired = re.escape(f"{path}/batch_0")
    with pytest.raises(ValueError, match=retired):
        store.answer(spark, path)
    with pytest.raises(ValueError, match=retired):
        store.extend(spark, path, corpus.where(F.col("doc_id") % 3 == 2), 1)
    with pytest.raises(ValueError, match=retired):
        store.compact(spark, path)
    assert not os.path.exists(f"{path}/seed_delta")
