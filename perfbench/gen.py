"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, and each returns the ground truth it planted so
the runner (and ``perfbench/tests``) can check results against it. The
program under test only ever sees the generated files and rows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

MiB = 1 << 20

# --- bulk_chunk_dedup: binary files with planted duplicate regions ---------

BULK_FILES = 8
BULK_TOTAL = 256 * MiB
BULK_DUP_TARGET = 0.5


def bulk_files(seed: int) -> tuple[list[bytes], dict]:
    """``BULK_FILES`` random binary files of equal size, ``BULK_TOTAL``
    bytes in all.

    A pool of shared regions (64 KiB - 1 MiB, Zipf-skewed popularity) is
    pasted between runs of fresh random bytes, so copies land at shifted,
    unaligned offsets in many files. A region's first placement is
    original content; every later placement is a planted duplicate. The
    controller places a copy whenever the duplicate share so far is below
    ``BULK_DUP_TARGET``, so the exact share lands close to it; the truth
    records it together with every placement ``(file, offset, region)``.
    """
    rng = np.random.default_rng([seed, 1])
    size = BULK_TOTAL // BULK_FILES
    n_regions = 96
    regions = [
        rng.integers(0, 256, int(rng.integers(64 << 10, 1 << 20)), dtype=np.uint8)
        .tobytes()
        for _ in range(n_regions)
    ]
    pop = 1.0 / np.arange(1, n_regions + 1) ** 1.1
    pop /= pop.sum()
    seen: set[int] = set()
    placements: list[tuple[int, int, int]] = []
    dup_bytes = written = 0
    files: list[bytes] = []
    for fi in range(BULK_FILES):
        parts: list[bytes] = []
        pos = 0
        while pos < size:
            room = size - pos
            r = int(rng.choice(n_regions, p=pop))
            if (
                dup_bytes < BULK_DUP_TARGET * (written + 1)
                and len(regions[r]) <= room
            ):
                piece = regions[r]
                placements.append((fi, pos, r))
                if r in seen:
                    dup_bytes += len(piece)
                seen.add(r)
            else:
                n = min(room, int(rng.integers(16 << 10, 512 << 10)))
                piece = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
            parts.append(piece)
            pos += len(piece)
            written += len(piece)
        files.append(b"".join(parts))
    truth = {
        "total_bytes": BULK_TOTAL,
        "dup_bytes": dup_bytes,
        "dup_share": dup_bytes / BULK_TOTAL,
        "placements": placements,
        "region_lens": [len(r) for r in regions],
        "region_digests": [hashlib.sha256(r).hexdigest() for r in regions],
    }
    return files, truth


def write_files(files: list[bytes], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for i, data in enumerate(files):
        with open(os.path.join(directory, f"part_{i:03d}.bin"), "wb") as f:
            f.write(data)


# --- text corpora -------------------------------------------------------------

VOCAB = 6000
NEAR_DUP_DOCS = 4000
# the same skewed cluster sizes for every seed (~a third of the docs),
# so seeds differ in content, not in how much work the pair graph makes
CLUSTER_SIZES = [max(2, int(60 / (k + 1) ** 0.8)) for k in range(520)]
CHAIN_LINKS = 4


def _vocab(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < VOCAB:
        out.add("".join(rng.choice(letters, int(rng.integers(3, 10)))))
    return sorted(out)


def _random_doc(rng, vocab, p) -> list[str]:
    return [vocab[i] for i in rng.choice(len(vocab), int(rng.integers(80, 160)), p=p)]


def _substitute(rng, words, vocab, n_edits: int) -> list[str]:
    out = list(words)
    for i in rng.choice(len(out), n_edits, replace=False):
        out[int(i)] = vocab[int(rng.integers(len(vocab)))]
    return out


def _insert(rng, words, vocab, n_words: int) -> list[str]:
    at = int(rng.integers(1, len(words)))
    extra = [vocab[int(rng.integers(len(vocab)))] for _ in range(n_words)]
    return words[:at] + extra + words[at:]


def _zipf(n: int, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def near_dup_corpus(seed: int, n_docs: int = NEAR_DUP_DOCS) -> tuple[list[tuple[int, str]], dict]:
    """``n_docs`` whitespace-tokenized ASCII documents.

    About a third of the documents sit in planted near-duplicate
    clusters: a base document plus variants with 1-4 word substitutions,
    cluster sizes ``CLUSTER_SIZES`` (a few large, many pairs). Eight
    edit chains (each link two substitutions away from the previous one,
    so the ends fall below any useful threshold) make connected
    components take several rounds. Remaining documents are independent.
    The truth lists every cluster and chain as doc-id lists.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    p = _zipf(VOCAB)
    docs: list[list[str]] = []
    clusters: list[list[int]] = []
    chains: list[list[int]] = []
    for size in CLUSTER_SIZES:
        base = _random_doc(rng, vocab, p)
        ids = [len(docs)]
        docs.append(base)
        for _ in range(size - 1):
            ids.append(len(docs))
            docs.append(_substitute(rng, base, vocab, int(rng.integers(1, 5))))
        clusters.append(ids)
    for _ in range(8):
        cur = _random_doc(rng, vocab, p)
        ids = [len(docs)]
        docs.append(cur)
        for _ in range(CHAIN_LINKS):
            cur = _substitute(rng, cur, vocab, 2)
            ids.append(len(docs))
            docs.append(cur)
        chains.append(ids)
    while len(docs) < n_docs:
        docs.append(_random_doc(rng, vocab, p))
    # shuffle ids so planted groups are not contiguous id ranges
    perm = rng.permutation(len(docs))
    rows = [(int(perm[i]), " ".join(w)) for i, w in enumerate(docs)]
    rows.sort()
    truth = {
        "clusters": [[int(perm[i]) for i in c] for c in clusters],
        "chains": [[int(perm[i]) for i in c] for c in chains],
    }
    return rows, truth


INCR_CORPUS_DOCS = 500
INCR_BATCH_DOCS = 100
INCR_EDIT_SHARE = 0.5
INCR_MAX_EPOCHS = 16


def incremental_inputs(seed: int) -> tuple[list[tuple[int, str]], list[list[tuple[int, str]]], dict]:
    """A corpus for the near-dup index and chunk store, plus
    ``INCR_MAX_EPOCHS`` batches of ``INCR_BATCH_DOCS`` documents.

    Each batch is exactly ``INCR_EDIT_SHARE`` edited copies of corpus
    documents (half by word substitution, half by an insert of 2-6 words
    that shifts the rest of the text) and new random documents
    otherwise. Batch ids continue after the corpus, disjoint across
    epochs. The truth maps every edited copy to its source id.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    p = _zipf(VOCAB)
    corpus_words = [_random_doc(rng, vocab, p) for _ in range(INCR_CORPUS_DOCS)]
    corpus = [(i, " ".join(w)) for i, w in enumerate(corpus_words)]
    batches: list[list[tuple[int, str]]] = []
    sources: dict[int, int] = {}
    next_id = INCR_CORPUS_DOCS
    n_edit = int(INCR_BATCH_DOCS * INCR_EDIT_SHARE)
    for _ in range(INCR_MAX_EPOCHS):
        batch = []
        for k in range(INCR_BATCH_DOCS):
            if k < n_edit:
                src = int(rng.integers(INCR_CORPUS_DOCS))
                if k % 2:
                    words = _insert(rng, corpus_words[src], vocab, int(rng.integers(2, 7)))
                else:
                    words = _substitute(rng, corpus_words[src], vocab, int(rng.integers(1, 4)))
                sources[next_id] = src
            else:
                words = _random_doc(rng, vocab, p)
            batch.append((next_id, " ".join(words)))
            next_id += 1
        batches.append(batch)
    truth = {"sources": sources, "edit_share": INCR_EDIT_SHARE}
    return corpus, batches, truth


def digest(*parts) -> str:
    """sha256 over generated inputs (bytes, or lists of (id, text) rows),
    recorded by the runner so a later comparison can prove it saw the
    same inputs."""
    h = hashlib.sha256()
    for part in parts:
        if isinstance(part, (bytes, bytearray)):
            h.update(part)
        else:
            for row in part:
                if isinstance(row, (bytes, bytearray)):
                    h.update(row)
                else:
                    h.update(repr(row).encode())
    return h.hexdigest()
