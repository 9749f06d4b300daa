"""Chunk-boundary entry points: the compiled scan kernel, reference fallback.

Every function runs the compiled scan in :mod:`.native` and, when no C
compiler is available (``native`` logs one warning per process), the
byte loops in :mod:`.core` — the executable specification the kernels
are property-tested against, byte for byte and for both cut variants:

* ``*_cuts`` — all cuts, closed by the final ``len(data) - 1`` boundary
  (the reference flushes the remainder as a chunk on EOF).
* ``*_bounds`` — genuine content-defined cuts only, the per-segment body
  of the distributed chunker (role of the reference's ``get_bounds``,
  ae.rs:31-53, rabin.rs:61-90; the reference has no FastCDC parallel
  path, so ``fastcdc_bounds`` extends the same scheme). Rabin keeps
  next_chunk's min/max clamps rather than get_bounds' ``last_pos = i - 1``
  off-by-one (rabin.rs:80) and missing max-size force cut.
* ``*_bounds_hashed`` — the ``*_bounds`` cuts as an int64 array plus the
  chunk identity of every span between consecutive cuts: XXH64 at
  Spark's seed, so it equals ``F.xxhash64`` of the same bytes (the
  reference's DefaultHasher role, ae.rs:75-78).
"""

from __future__ import annotations

import numpy as np

from cdc_algorithms_spark.chunkers import core, native
from cdc_algorithms_spark.chunkers.params import AeParams, FastCdcParams, RabinParams


def _u8(data) -> np.ndarray:
    if isinstance(data, np.ndarray):
        return data.astype(np.uint8, copy=False)
    return np.frombuffer(data, dtype=np.uint8)


def _scan(native_fn, ref_fn, data, p, final: bool) -> list[int]:
    arr = _u8(data)
    cuts = native_fn(arr, p, final)
    return cuts if cuts is not None else ref_fn(arr.tobytes(), p, final)


def _scan_hashed(algo: str, ref_fn, data, p) -> tuple[np.ndarray, np.ndarray]:
    arr = _u8(data)
    got = native.bounds_hashed_native(algo, arr, p)
    if got is not None:
        return got
    raw = arr.tobytes()
    cuts = ref_fn(raw, p, False)
    hashes = [core.xxh64_py(raw[a + 1 : b + 1]) for a, b in zip(cuts, cuts[1:])]
    return np.asarray(cuts, dtype=np.int64), np.asarray(hashes, dtype=np.int64)


def ae_cuts(data, p: AeParams) -> list[int]:
    return _scan(native.ae_scan_native, core.ae_cuts_py, data, p, True)


def ae_bounds(data, p: AeParams) -> list[int]:
    return _scan(native.ae_scan_native, core.ae_cuts_py, data, p, False)


def rabin_cuts(data, p: RabinParams) -> list[int]:
    return _scan(native.rabin_scan_native, core.rabin_cuts_py, data, p, True)


def rabin_bounds(data, p: RabinParams) -> list[int]:
    return _scan(native.rabin_scan_native, core.rabin_cuts_py, data, p, False)


def fastcdc_cuts(data, p: FastCdcParams) -> list[int]:
    return _scan(native.fastcdc_scan_native, core.fastcdc_cuts_py, data, p, True)


def fastcdc_bounds(data, p: FastCdcParams) -> list[int]:
    return _scan(native.fastcdc_scan_native, core.fastcdc_cuts_py, data, p, False)


def ae_bounds_hashed(data, p: AeParams) -> tuple[np.ndarray, np.ndarray]:
    return _scan_hashed("ae", core.ae_cuts_py, data, p)


def rabin_bounds_hashed(data, p: RabinParams) -> tuple[np.ndarray, np.ndarray]:
    return _scan_hashed("rabin", core.rabin_cuts_py, data, p)


def fastcdc_bounds_hashed(data, p: FastCdcParams) -> tuple[np.ndarray, np.ndarray]:
    return _scan_hashed("fastcdc", core.fastcdc_cuts_py, data, p)
