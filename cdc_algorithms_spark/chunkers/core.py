"""Pure-Python chunk-boundary algorithms with exact reference semantics.

These are the executable specification: byte-for-byte re-derivations of
the reference's sequential ``next_chunk`` state machines (NOT ports of
its buffered-IO plumbing — Spark hands the UDF whole values, so the
4096-byte staging buffer and carry-over logic disappear; SURVEY.md §3 E2).

All functions return the list of **inclusive end offsets** of each chunk.
With ``final=True`` (the default) the last offset is always
``len(data) - 1`` (the reference flushes the remainder as a final chunk
on EOF); ``final=False`` returns only the genuine content-defined cuts,
the segment-scan semantics of ``fast.*_bounds``. Chunk ``k`` spans
``(cuts[k-1]+1 .. cuts[k])``.

The compiled kernels behind :mod:`cdc_algorithms_spark.chunkers.fast`
are property-tested to agree with these exactly for both ``final``
values, and these loops are what ``fast`` runs when no C compiler is
available.
"""

from __future__ import annotations

from cdc_algorithms_spark.chunkers.params import AeParams, FastCdcParams, RabinParams

_U32 = (1 << 32) - 1
_U64 = (1 << 64) - 1

XXH64_SEED = 42  # Spark's xxhash64 seed: chunk ids equal F.xxhash64
_XXH_P1 = 11400714785074694791
_XXH_P2 = 14029467366897019727
_XXH_P3 = 1609587929392839161
_XXH_P4 = 9650029242287828579
_XXH_P5 = 2870177450012600261


def fixed_cuts(n: int, chunk_size: int) -> list[int]:
    """Fixed-size boundaries (fixed.rs:20-52): every chunk_size bytes."""
    if n <= 0:
        return []
    cuts = list(range(chunk_size - 1, n, chunk_size))
    if not cuts or cuts[-1] != n - 1:
        cuts.append(n - 1)
    return cuts


def ae_cuts_py(data: bytes, p: AeParams, final: bool = True) -> list[int]:
    """AE — asymmetric extremum (ae.rs:95-149, paper cited ae.rs:14).

    Per chunk: track the running max byte (strict increases move
    ``max_pos``); cut when the scan reaches ``max_pos + window_size``
    without a new max. No min/max clamps, no hashing (ae.rs has neither).
    """
    n = len(data)
    cuts: list[int] = []
    s = 0
    while s < n:
        max_val = 0
        max_pos = 0  # chunk-relative, matches local_pos bookkeeping ae.rs:101-103
        cut = -1
        for local in range(n - s):
            cur = data[s + local]
            if cur > max_val:
                max_val = cur
                max_pos = local
            elif local == max_pos + p.window_size:
                cut = s + local
                break
        if cut < 0:
            break  # EOF: remainder is the final chunk
        cuts.append(cut)
        s = cut + 1
    if final and n > 0 and (not cuts or cuts[-1] != n - 1):
        cuts.append(n - 1)
    return cuts


def rabin_cuts_py(
    data: bytes, p: RabinParams, final: bool = True
) -> list[int]:
    """Rabin rolling fingerprint mod 2^32 (rabin.rs:131-216).

    Per chunk: ``h = h·α + byte``; once ``local_pos >= window_size`` the
    outgoing byte is removed via the pow table (rabin.rs:177-182), giving a
    sliding window hash; cut when ``local_pos >= min_size`` and
    ``(h ^ seed) & mask == 0`` (rabin.rs:185). Force-cut when
    ``local_pos >= max_size`` — checked *before* the hash update
    (rabin.rs:157), so a force-cut chunk is ``max_size + 1`` bytes.
    """
    n = len(data)
    pow_table = p.pow_table
    cuts: list[int] = []
    s = 0
    while s < n:
        h = 0
        window: list[int] = []
        wi = 0  # pop index (reference uses VecDeque, rabin.rs:139)
        cut = -1
        for local in range(n - s):
            cur = data[s + local]
            if local >= p.max_size:
                cut = s + local
                break
            h = (h * p.alpha + cur) & _U32
            if local >= p.window_size:
                front = window[wi]
                wi += 1
                h = (h - int(pow_table[front])) & _U32
                if local >= p.min_size and ((h ^ p.seed) & p.mask) == 0:
                    cut = s + local
                    break
            window.append(cur)
        if cut < 0:
            break
        cuts.append(cut)
        s = cut + 1
    if final and n > 0 and (not cuts or cuts[-1] != n - 1):
        cuts.append(n - 1)
    return cuts


def fastcdc_cuts_py(
    data: bytes, p: FastCdcParams, final: bool = True
) -> list[int]:
    """FastCDC with normalized chunking (fastcdc.rs:77-134, paper at :5).

    Per chunk: Gear hash ``h = (h << 1) + gear[byte]`` accumulates only
    once ``local_pos >= min_size`` (fastcdc.rs:99-100); cut on the harder
    short mask below ``expected_size``, the easier long mask at/above it,
    or unconditionally at ``max_size`` (fastcdc.rs:102-106).
    """
    n = len(data)
    gear = p.gear
    cuts: list[int] = []
    s = 0
    while s < n:
        h = 0
        cut = -1
        for local in range(n - s):
            if local >= p.min_size:
                h = ((h << 1) + gear[data[s + local]]) & _U64
                if (
                    (local < p.expected_size and (h & p.short_mask) == 0)
                    or (local >= p.expected_size and (h & p.long_mask) == 0)
                    or local >= p.max_size
                ):
                    cut = s + local
                    break
        if cut < 0:
            break
        cuts.append(cut)
        s = cut + 1
    if final and n > 0 and (not cuts or cuts[-1] != n - 1):
        cuts.append(n - 1)
    return cuts


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64


def xxh64_py(data: bytes) -> int:
    """XXH64 (the xxHash spec, = Spark's ``XXH64.hashUnsafeBytes``) as a
    signed 64-bit int — the value ``F.xxhash64`` gives the same bytes.
    The reference for the compiled ``xxh64`` in :mod:`.native`."""
    seed = XXH64_SEED
    n = len(data)
    p = 0
    if n >= 32:
        v = [
            (seed + _XXH_P1 + _XXH_P2) & _U64,
            (seed + _XXH_P2) & _U64,
            seed & _U64,
            (seed - _XXH_P1) & _U64,
        ]
        while p + 32 <= n:
            for i in range(4):
                lane = int.from_bytes(data[p + 8 * i : p + 8 * i + 8], "little")
                v[i] = _xxh_round(v[i], lane)
            p += 32
        h = (
            _rotl64(v[0], 1) + _rotl64(v[1], 7)
            + _rotl64(v[2], 12) + _rotl64(v[3], 18)
        ) & _U64
        for lane in v:
            h = ((h ^ _xxh_round(0, lane)) * _XXH_P1 + _XXH_P4) & _U64
    else:
        h = (seed + _XXH_P5) & _U64
    h = (h + n) & _U64
    while p + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[p : p + 8], "little"))
        h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _U64
        p += 8
    if p + 4 <= n:
        h ^= (int.from_bytes(data[p : p + 4], "little") * _XXH_P1) & _U64
        h = (_rotl64(h, 23) * _XXH_P2 + _XXH_P3) & _U64
        p += 4
    while p < n:
        h ^= (data[p] * _XXH_P5) & _U64
        h = (_rotl64(h, 11) * _XXH_P1) & _U64
        p += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH_P3) & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h
