"""Generator and trace-arithmetic checks for the benchmark.

    python3 -m pytest perfbench/tests -q

No Spark session: these pin what the benchmark feeds the program and
how it turns spans into per-layer numbers.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen, trace  # noqa: E402


@pytest.fixture(scope="module")
def bulk():
    return gen.bulk_files(7)


@pytest.fixture(scope="module")
def docs():
    return gen.near_dup_corpus(7)


@pytest.fixture(scope="module")
def incr():
    return gen.incremental_inputs(7)


def test_same_seed_same_bytes(bulk, docs, incr):
    files, _ = gen.bulk_files(7)
    assert gen.digest(*files) == gen.digest(*bulk[0])
    assert gen.near_dup_corpus(7)[0] == docs[0]
    corpus, batches, _ = gen.incremental_inputs(7)
    assert gen.digest(corpus, *batches) == gen.digest(incr[0], *incr[1])


def test_other_seed_other_bytes(bulk, docs, incr):
    assert gen.digest(*gen.bulk_files(8)[0]) != gen.digest(*bulk[0])
    assert gen.digest(gen.near_dup_corpus(8)[0]) != gen.digest(docs[0])
    corpus, batches, _ = gen.incremental_inputs(8)
    assert gen.digest(corpus, *batches) != gen.digest(incr[0], *incr[1])


def test_bulk_truth_matches_files(bulk):
    files, truth = bulk
    assert len(files) == gen.BULK_FILES
    assert sum(map(len, files)) == gen.BULK_TOTAL == truth["total_bytes"]
    seen, dup = set(), 0
    for fi, pos, r in truth["placements"]:
        n = truth["region_lens"][r]
        region = files[fi][pos: pos + n]
        assert hashlib.sha256(region).hexdigest() == truth["region_digests"][r]
        if r in seen:
            dup += n
        seen.add(r)
    assert dup == truth["dup_bytes"]
    assert truth["dup_share"] == dup / gen.BULK_TOTAL
    assert abs(truth["dup_share"] - gen.BULK_DUP_TARGET) < 0.02
    # copies sit at shifted offsets, not on a common alignment
    assert len({pos % 4096 for _, pos, _ in truth["placements"]}) > 10


def test_near_dup_truth_matches_docs(docs):
    rows, truth = docs
    assert len(rows) == gen.NEAR_DUP_DOCS
    assert [i for i, _ in rows] == list(range(len(rows)))
    sets = {i: checks.shingles(t) for i, t in rows}
    planted = [i for c in truth["clusters"] + truth["chains"] for i in c]
    assert len(planted) == len(set(planted))
    sizes = sorted(len(c) for c in truth["clusters"])
    assert sizes[0] == 2 and sizes[-1] >= 10  # skewed cluster sizes
    to_base = [checks.jaccard(sets[c[0]], sets[d]) for c in truth["clusters"] for d in c[1:]]
    assert min(to_base) > 0.6 and max(to_base) < 1.0
    # most variants clear the 0.8 threshold, some fall below it
    assert 0.5 < sum(j >= 0.8 for j in to_base) / len(to_base) < 1.0
    for c in truth["chains"]:
        links = [checks.jaccard(sets[a], sets[b]) for a, b in zip(c, c[1:])]
        assert min(links) > 0.8
        # the ends are too far apart to pair directly: CC needs several rounds
        assert checks.jaccard(sets[c[0]], sets[c[-1]]) < 0.8


def test_incremental_truth_matches_batches(incr):
    corpus, batches, truth = incr
    assert len(corpus) == gen.INCR_CORPUS_DOCS
    corpus_ids = {i for i, _ in corpus}
    all_ids = set(corpus_ids)
    texts = dict(corpus)
    sims = []
    for batch in batches:
        ids = {i for i, _ in batch}
        assert len(ids) == gen.INCR_BATCH_DOCS and not ids & all_ids
        all_ids |= ids
        edited = [i for i in ids if i in truth["sources"]]
        assert len(edited) / len(batch) == truth["edit_share"]
        for i, text in batch:
            src = truth["sources"].get(i)
            if src is not None:
                assert src in corpus_ids
                sims.append(checks.jaccard(
                    checks.shingles(text), checks.shingles(texts[src])))
    assert min(sims) > 0.6 and max(sims) < 1.0
    assert sum(j >= 0.8 for j in sims) / len(sims) > 0.5
    # half the edits are inserts, which shift the text after them
    lens = [len(t.split()) - len(texts[truth["sources"][i]].split())
            for i, t in batches[0] if i in truth["sources"]]
    assert sum(d > 0 for d in lens) == len(lens) // 2


def test_segmented_cuts_single_segment_is_sequential(bulk):
    from cdc_algorithms_spark.chunkers import fast
    from cdc_algorithms_spark.chunkers.params import make_params

    data = bulk[0][0][: 3 << 20]
    for algo, cuts in (("ae", fast.ae_cuts), ("fastcdc", fast.fastcdc_cuts)):
        p = make_params(algo, 16384, 0)
        assert checks.segmented_cuts(data, algo, p, len(data)) == cuts(data, p)


def test_layer_metrics_self_time_and_attribution():
    spans = [
        {"name": "a", "pass": 0, "prefix": None, "start": 0.0, "end": 1.0, "group": "g0"},
        {"name": "b", "pass": 0, "prefix": "a", "start": 1.0, "end": 4.0, "group": "g1"},
        {"name": "b", "pass": 1, "prefix": "a", "start": 5.0, "end": 6.0, "group": "g2"},
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 4000, "Executor CPU Time": 3 * 10**9,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
    ]
    trace.attribute(spans, events)
    m = trace.layer_metrics(spans, ["a", "b"], cores=2)
    assert spans[1]["driver_s"] == pytest.approx(1.0)
    assert spans[1]["jobs"] == 1 and spans[1]["tasks"] == 1
    # pass 0: b = 3 s, its prefix a = 1 s -> self 2 s; pass 1 has no prefix
    assert m["b.self_s"] == pytest.approx((2.0 + 1.0) / 2)
    assert m["b.executor_cpu_s"] == pytest.approx(1.5)
    assert m["b.shuffle_write_bytes"] == pytest.approx(50)
    assert m["a.jobs"] == 0
