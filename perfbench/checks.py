"""Driver-side reference computations the runner checks Spark against.

All of them run outside the timed region. They use the package's own
single-threaded kernels (``chunkers.fast``) and plain Python sets, so a
wrong distributed result (a bad seam merge, a lost pair, a double-counted
transfer) shows up as a mismatch, not as a number.
"""

from __future__ import annotations

import hashlib
import time

from cdc_algorithms_spark.chunkers import fast
from cdc_algorithms_spark.chunkers.params import make_params

_CUTS = {"ae": fast.ae_cuts, "fastcdc": fast.fastcdc_cuts}
_BOUNDS = {"ae": fast.ae_bounds, "fastcdc": fast.fastcdc_bounds}
TOL = 1e-6  # reported Jaccard values are rounded to 6 digits


def cut_chunks(data: bytes, cuts: list[int]) -> list[bytes]:
    prev, out = -1, []
    for c in cuts:
        out.append(data[prev + 1: c + 1])
        prev = c
    return out


def segmented_cuts(data: bytes, algo: str, params, segment_len: int) -> list[int]:
    """The cut positions of ``api.chunk_files`` over one file, computed
    sequentially: every segment ``[left, right)`` is scanned from
    ``left - spacing`` with the kernel's ``*_bounds``, each keeps the
    cuts it owns, and one pass over all owned cuts applies the accept
    rule (a cut is kept when it is at least ``spacing`` past the last
    kept cut, or ends the file). This is the reference's parallel rule,
    which differs from a whole-file sequential scan near segment seams."""
    from cdc_algorithms_spark.operators.distributed import _merge_spacing

    spacing = _merge_spacing(params)
    bounds = _BOUNDS[algo]
    n = len(data)
    owned: set[int] = {n - 1}
    for left in range(0, n, segment_len):
        right = min(left + segment_len, n)
        start = max(left - spacing, 0)
        owned.update(
            start + rel for rel in bounds(data[start:right], params)
            if left <= start + rel < right
        )
    out, last = [], -1
    for cut in sorted(owned):
        if cut == n - 1 or cut - last >= spacing:
            out.append(cut)
            last = cut
    return out


def bulk_reference(
    files: list[bytes], algo: str, expected_size: int, segment_len: int
) -> dict:
    """``dedup_stats(key_col="hash")`` of ``api.chunk_files`` over the
    files, computed in this process and keyed by the same 8-byte blake2b
    the chunk table uses."""
    params = make_params(algo, expected_size, 0)
    seen: set[bytes] = set()
    total = unique = n = 0
    for data in files:
        for chunk in cut_chunks(data, segmented_cuts(data, algo, params, segment_len)):
            n += 1
            total += len(chunk)
            key = hashlib.blake2b(chunk, digest_size=8).digest()
            if key not in seen:
                seen.add(key)
                unique += len(chunk)
    return {"total_bytes": total, "unique_bytes": unique,
            "n_chunks": n, "n_unique": len(seen)}


def kernel_mb_per_s(blobs: list[bytes], algo: str, expected_size: int) -> float:
    """Single-threaded ``chunkers.fast.*_cuts`` speed over whole blobs."""
    params = make_params(algo, expected_size, 0)
    t0 = time.perf_counter()
    for data in blobs:
        _CUTS[algo](data, params)
    return sum(map(len, blobs)) / (1 << 20) / (time.perf_counter() - t0)


def shingles(text: str, n: int = 3) -> frozenset[str]:
    """Word n-gram set, as ``functions.text.shingles_of_words`` builds it."""
    ws = text.split()
    if len(ws) <= n:
        return frozenset([" ".join(ws)])
    return frozenset(" ".join(ws[i: i + n]) for i in range(len(ws) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def check_pairs(
    pairs: list[tuple[int, int]],
    sets: dict[int, frozenset],
    threshold: float,
    must_find: set[tuple[int, int]],
) -> list[str]:
    """Problems with a reported pair list: a pair below the threshold on
    exact recomputation, or a required pair missing."""
    problems = []
    got = set()
    for a, b in pairs:
        a, b = min(a, b), max(a, b)
        got.add((a, b))
        j = jaccard(sets[a], sets[b])
        if j < threshold - TOL:
            problems.append(f"pair ({a},{b}) has jaccard {j:.4f} < {threshold}")
    missing = must_find - got
    if missing:
        problems.append(f"{len(missing)} required pairs missing, e.g. {sorted(missing)[:3]}")
    return problems


def planted_pairs(groups: list[list[int]], sets: dict[int, frozenset], at_least: float) -> set[tuple[int, int]]:
    """Pairs inside planted groups whose exact Jaccard is ``at_least``."""
    out = set()
    for ids in groups:
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if jaccard(sets[a], sets[b]) >= at_least:
                    out.add((min(a, b), max(a, b)))
    return out


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find over the pair graph: node -> smallest id in its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class SyncReference:
    """The chunk store as a set of chunk texts: ``settle`` returns the
    bytes ``sync.sync_batch`` must report as transferred for a batch, and
    adds the batch's chunks to the store."""

    def __init__(self, algo: str, expected_size: int):
        self.algo = algo
        self.params = make_params(algo, expected_size, 0)
        self.store: set[bytes] = set()

    def chunks(self, rows: list[tuple[int, str]]) -> list[bytes]:
        out = []
        for _, text in rows:
            data = text.encode()
            out.extend(cut_chunks(data, _CUTS[self.algo](data, self.params)))
        return out

    def seed(self, rows: list[tuple[int, str]]) -> None:
        self.store.update(self.chunks(rows))

    def settle(self, rows: list[tuple[int, str]]) -> dict:
        chunks = self.chunks(rows)
        fresh = set(chunks) - self.store
        self.store.update(fresh)
        return {"total_bytes": sum(map(len, chunks)),
                "transfer_bytes": sum(map(len, fresh))}
