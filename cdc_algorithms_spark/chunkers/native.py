"""Compiled chunk-boundary scan kernels (ctypes + system cc).

The AE, Rabin and FastCDC state machines are sequential per byte, so
they are restated here as three C loops (throughput floors pinned in
tests/test_throughput.py). The source lives in this module: it is
compiled at first use and the shared object is cached per source-hash
under ``$TMPDIR/cdc_spark_native``. Each ``*_scan_native`` returns
``None`` when the kernel cannot be built (no compiler, sandboxed temp
dir, exotic platform); :mod:`.fast` then runs the reference loops in
:mod:`.core`, and this module logs one warning per process carrying the
compiler error, since that fallback is a few MB/s.

The same source carries XXH64, Spark's ``xxhash64``, the one 64-bit
chunk identity of the engine: ``bounds_hashed_native`` returns a
segment's cuts and the hash of every span between them in one call, so
no per-chunk Python loop sits on the scan path. Equality with
:func:`.core.xxh64_py` is pinned in tests/test_property_chunkers.py,
with ``F.xxhash64`` in tests/test_distributed.py.

Cluster posture: every executor host compiles its own cached copy on
first import — nothing is shipped, no build step exists, heterogeneous
nodes each get their own binary. Equality with :mod:`.core` is pinned
by the golden-cut fixtures and a property test over both ``final``
values (tests/test_property_chunkers.py).
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import tempfile

import numpy as np

from cdc_algorithms_spark.chunkers.core import XXH64_SEED

_C_SRC = r"""
#include <stdint.h>

/* The Rabin word loads and XXH64's lanes read bytes little-endian; a
   big-endian host fails this compile and runs the reference loops. */
#if defined(__BYTE_ORDER__) && __BYTE_ORDER__ == __ORDER_BIG_ENDIAN__
#error "the chunk kernels assume a little-endian host"
#endif

long fastcdc_scan(const uint8_t *data, long n, const uint64_t *gear,
                  long min_size, long expected_size, long max_size,
                  uint64_t short_mask, uint64_t long_mask,
                  int final_cut, long *out) {
    long ncuts = 0;
    long s = 0;
    while (s < n) {
        long cut = -1;
        uint64_t h = 0;
        long limit = n - s;
        for (long local = min_size; local < limit; local++) {
            h = (h << 1) + gear[data[s + local]];
            if ((local < expected_size ? (h & short_mask)
                                       : (h & long_mask)) == 0 ||
                local >= max_size) {
                cut = s + local;
                break;
            }
        }
        if (cut < 0)
            break;
        out[ncuts++] = cut;
        s = cut + 1;
    }
    if (final_cut && n > 0 && (ncuts == 0 || out[ncuts - 1] != n - 1))
        out[ncuts++] = n - 1;
    return ncuts;
}

/* AE (ae.rs:95-149): cut when the running max stays unbeaten for
   window_size bytes. Strict-greater updates, max_val starts at 0. */
long ae_scan(const uint8_t *data, long n, long window_size,
             int final_cut, long *out) {
    long ncuts = 0;
    long s = 0;
    while (s < n) {
        long cut = -1;
        uint8_t max_val = 0;
        long max_pos = 0;
        long limit = n - s;
        for (long local = 0; local < limit; local++) {
            uint8_t cur = data[s + local];
            if (cur > max_val) {
                max_val = cur;
                max_pos = local;
            } else if (local == max_pos + window_size) {
                cut = s + local;
                break;
            }
        }
        if (cut < 0)
            break;
        out[ncuts++] = cut;
        s = cut + 1;
    }
    if (final_cut && n > 0 && (ncuts == 0 || out[ncuts - 1] != n - 1))
        out[ncuts++] = n - 1;
    return ncuts;
}

/* Rabin (rabin.rs:131-216): h = h*alpha + byte mod 2^32; once
   local >= window_size the leaving byte is removed via
   pow_table[b] = b * alpha^window_size; cut when local >= min_size and
   (h ^ seed) & mask == 0; force-cut checked BEFORE the hash update at
   local >= max_size (a force-cut chunk is max_size + 1 bytes). The
   window contents are just the trailing bytes of data, so no ring
   buffer is needed.

   Implementation (r06, bit-identical to the reference byte loop —
   golden-cut- and property-pinned): the per-byte loop is phase-split
   (warm-up before the window fills / before min_size: no leave
   subtraction, no mask test — no per-byte branches at all), and the
   hot cuttable phase advances FOUR bytes per iteration. The rolling
   identity composes, for step j in 1..4:

       h_j = h*a^j + sum_{i=1..j} c_i*a^(j-i) - sum_{i=1..j} l_i*a^(w+j-i)

   so h4's dependency chain is ONE 32-bit multiply (by the constant
   a^4, carried into the next iteration) plus independent table adds —
   the c_i*a^k and l_i*a^(w+k) terms come from the 256-entry
   mul_a{,2,3} / pow_w{1,2,3} tables built per call — and h1..h3
   (needed because the FIRST passing position wins) compute off the
   critical chain. Quartering the chained multiplies is what takes the
   scan from ~0.74 to ~0.9+ GB/s on this box (load/uop bound past
   that, not multiply bound). */
long rabin_scan(const uint8_t *data, long n, const uint32_t *pow_table,
                uint32_t alpha, uint32_t seed, uint32_t mask,
                long min_size, long max_size, long window_size,
                int final_cut, long *out) {
    uint32_t mul_a[256], mul_a2[256], mul_a3[256];
    uint32_t pow_w1[256], pow_w2[256], pow_w3[256];
    uint32_t alpha2 = alpha * alpha;
    uint32_t alpha4 = alpha2 * alpha2;
    for (int b = 0; b < 256; b++) {
        mul_a[b] = (uint32_t)b * alpha;
        mul_a2[b] = mul_a[b] * alpha;
        mul_a3[b] = mul_a2[b] * alpha;
        pow_w1[b] = pow_table[b] * alpha;
        pow_w2[b] = pow_w1[b] * alpha;
        pow_w3[b] = pow_w2[b] * alpha;
    }
    uint32_t target = seed & mask;
    long cut_start = min_size > window_size ? min_size : window_size;
    long ncuts = 0;
    long s = 0;
    while (s < n) {
        long cut = -1;
        uint32_t h = 0;
        long limit = n - s;
        /* e = exclusive bound of hash-updated positions */
        long e = limit < max_size ? limit : max_size;
        long a_end = window_size < e ? window_size : e;
        long local = 0;
        for (; local < a_end; local++)
            h = h * alpha + data[s + local];
        long b_end = cut_start < e ? cut_start : e;
        for (; local < b_end; local++)
            h = h * alpha + data[s + local] -
                pow_table[data[s + local - window_size]];
        /* hot phase: four bytes per iteration. Only the even hashes
           carry the loop dependency (h -> h2 -> h4, one imul by the
           constant a^2 each); the odd hashes h1/h3 compute off-chain
           from h/h2, so all four mask tests are ILP next to the two
           chained multiplies. First-hit order is kept by testing in
           byte order. */
        for (; local + 3 < e; local += 4) {
            const uint8_t *cp = data + s + local;
            const uint8_t *lp = cp - window_size;
            uint32_t cw, lw;
            __builtin_memcpy(&cw, cp, 4);
            __builtin_memcpy(&lw, lp, 4);
            uint32_t c0 = cw & 255, c1 = (cw >> 8) & 255;
            uint32_t c2 = (cw >> 16) & 255, c3 = cw >> 24;
            uint32_t l0 = lw & 255, l1 = (lw >> 8) & 255;
            uint32_t l2 = (lw >> 16) & 255, l3 = lw >> 24;
            /* h1..h3 compute OFF the carried chain (next iteration
               needs only h4, which comes from h in one imul); each
               derives from h / h2 directly so the four tests are ILP */
            uint32_t h1 = h * alpha + c0 - pow_table[l0];
            uint32_t h2 = h * alpha2 + mul_a[c0] + c1
                          - pow_w1[l0] - pow_table[l1];
            uint32_t h3 = h2 * alpha + c2 - pow_table[l2];
            uint32_t h4 = h * alpha4
                          + mul_a3[c0] + mul_a2[c1] + mul_a[c2] + c3
                          - pow_w3[l0] - pow_w2[l1]
                          - pow_w1[l2] - pow_table[l3];
            if (((h1 & mask) == target) | ((h2 & mask) == target) |
                ((h3 & mask) == target) | ((h4 & mask) == target)) {
                if ((h1 & mask) == target)
                    cut = s + local;
                else if ((h2 & mask) == target)
                    cut = s + local + 1;
                else if ((h3 & mask) == target)
                    cut = s + local + 2;
                else
                    cut = s + local + 3;
                break;
            }
            h = h4;
        }
        for (; cut < 0 && local < e; local++) { /* <=3 tail bytes */
            h = h * alpha + data[s + local] -
                pow_table[data[s + local - window_size]];
            if ((h & mask) == target) {
                cut = s + local;
                break;
            }
        }
        if (cut < 0 && local >= max_size && max_size < limit)
            cut = s + max_size; /* force cut, before any hash update */
        if (cut < 0)
            break;
        out[ncuts++] = cut;
        s = cut + 1;
    }
    if (final_cut && n > 0 && (ncuts == 0 || out[ncuts - 1] != n - 1))
        out[ncuts++] = n - 1;
    return ncuts;
}

/* XXH64 (the xxHash spec), bit-identical to Spark's
   XXH64.hashUnsafeBytes, so a chunk hashed here equals F.xxhash64 of
   the same bytes at the same seed. */
#define XXH_P1 11400714785074694791ULL
#define XXH_P2 14029467366897019727ULL
#define XXH_P3 1609587929392839161ULL
#define XXH_P4 9650029242287828579ULL
#define XXH_P5 2870177450012600261ULL

static inline uint64_t xxh_rotl(uint64_t x, int r) {
    return (x << r) | (x >> (64 - r));
}

static inline uint64_t xxh_round(uint64_t acc, uint64_t lane) {
    acc += lane * XXH_P2;
    return xxh_rotl(acc, 31) * XXH_P1;
}

static inline uint64_t xxh_merge(uint64_t h, uint64_t v) {
    h ^= xxh_round(0, v);
    return h * XXH_P1 + XXH_P4;
}

static inline uint64_t xxh_read64(const uint8_t *p) {
    uint64_t v;
    __builtin_memcpy(&v, p, 8);
    return v;
}

uint64_t xxh64(const uint8_t *p, long len, uint64_t seed) {
    const uint8_t *end = p + len;
    uint64_t h;
    if (len >= 32) {
        const uint8_t *limit = end - 32;
        uint64_t v1 = seed + XXH_P1 + XXH_P2, v2 = seed + XXH_P2;
        uint64_t v3 = seed, v4 = seed - XXH_P1;
        do {
            v1 = xxh_round(v1, xxh_read64(p));
            v2 = xxh_round(v2, xxh_read64(p + 8));
            v3 = xxh_round(v3, xxh_read64(p + 16));
            v4 = xxh_round(v4, xxh_read64(p + 24));
            p += 32;
        } while (p <= limit);
        h = xxh_rotl(v1, 1) + xxh_rotl(v2, 7) + xxh_rotl(v3, 12) +
            xxh_rotl(v4, 18);
        h = xxh_merge(h, v1);
        h = xxh_merge(h, v2);
        h = xxh_merge(h, v3);
        h = xxh_merge(h, v4);
    } else {
        h = seed + XXH_P5;
    }
    h += (uint64_t)len;
    for (; p + 8 <= end; p += 8) {
        h ^= xxh_round(0, xxh_read64(p));
        h = xxh_rotl(h, 27) * XXH_P1 + XXH_P4;
    }
    if (p + 4 <= end) {
        uint32_t w;
        __builtin_memcpy(&w, p, 4);
        h ^= (uint64_t)w * XXH_P1;
        h = xxh_rotl(h, 23) * XXH_P2 + XXH_P3;
        p += 4;
    }
    for (; p < end; p++) {
        h ^= (uint64_t)(*p) * XXH_P5;
        h = xxh_rotl(h, 11) * XXH_P1;
    }
    h ^= h >> 33;
    h *= XXH_P2;
    h ^= h >> 29;
    h *= XXH_P3;
    h ^= h >> 32;
    return h;
}

/* out[i] = XXH64 of the span (cuts[i], cuts[i+1]] — the chunk between
   consecutive cuts; ncuts - 1 hashes. */
void span_hashes(const uint8_t *data, const long *cuts, long ncuts,
                 uint64_t seed, int64_t *out) {
    for (long i = 0; i + 1 < ncuts; i++)
        out[i] = (int64_t)xxh64(data + cuts[i] + 1, cuts[i + 1] - cuts[i],
                                seed);
}
"""

_lib: ctypes.CDLL | bool | None = None  # None = unprobed, False = unavailable


def _load() -> ctypes.CDLL | None:
    global _lib
    if _lib is not None:
        return _lib or None
    _lib = False
    try:
        # the tag covers source AND flag preference so a flag change
        # never reuses a stale cached binary
        tag = hashlib.sha256((_C_SRC + "|O3+native").encode()).hexdigest()[:16]
        cache = os.path.join(tempfile.gettempdir(), "cdc_spark_native")
        os.makedirs(cache, exist_ok=True)
        so_path = os.path.join(cache, f"fastcdc_{tag}.so")
        if not os.path.exists(so_path):
            src_path = os.path.join(cache, f"fastcdc_{tag}.c")
            with open(src_path, "w") as f:
                f.write(_C_SRC)
            # compile to a unique temp name, then atomic-rename: parallel
            # Python workers probing simultaneously must never load a
            # half-written .so
            tmp_path = f"{so_path}.{os.getpid()}.tmp"
            # -march=native is safe here BECAUSE nothing is shipped:
            # every executor host compiles (and caches) its own .so, so
            # the binary never runs on a different machine. Compilers
            # without the flag fall back to plain -O3 (same semantics).
            for flags in (["-O3", "-march=native"], ["-O3"]):
                try:
                    subprocess.run(
                        ["cc", *flags, "-shared", "-fPIC",
                         src_path, "-o", tmp_path],
                        check=True,
                        capture_output=True,
                        text=True,
                        timeout=60,
                    )
                    break
                except subprocess.CalledProcessError:
                    if flags == ["-O3"]:
                        raise
            os.replace(tmp_path, so_path)
        lib = ctypes.CDLL(so_path)
        u8p = ctypes.POINTER(ctypes.c_uint8)
        u32p = ctypes.POINTER(ctypes.c_uint32)
        u64p = ctypes.POINTER(ctypes.c_uint64)
        lp = ctypes.POINTER(ctypes.c_long)
        lib.fastcdc_scan.restype = ctypes.c_long
        lib.fastcdc_scan.argtypes = [
            u8p, ctypes.c_long, u64p,
            ctypes.c_long, ctypes.c_long, ctypes.c_long,
            ctypes.c_uint64, ctypes.c_uint64, ctypes.c_int, lp,
        ]
        lib.ae_scan.restype = ctypes.c_long
        lib.ae_scan.argtypes = [
            u8p, ctypes.c_long, ctypes.c_long, ctypes.c_int, lp,
        ]
        lib.rabin_scan.restype = ctypes.c_long
        lib.rabin_scan.argtypes = [
            u8p, ctypes.c_long, u32p,
            ctypes.c_uint32, ctypes.c_uint32, ctypes.c_uint32,
            ctypes.c_long, ctypes.c_long, ctypes.c_long,
            ctypes.c_int, lp,
        ]
        lib.xxh64.restype = ctypes.c_uint64
        lib.xxh64.argtypes = [u8p, ctypes.c_long, ctypes.c_uint64]
        lib.span_hashes.restype = None
        lib.span_hashes.argtypes = [
            u8p, lp, ctypes.c_long, ctypes.c_uint64,
            ctypes.POINTER(ctypes.c_int64),
        ]
        _lib = lib
    except Exception as exc:  # no cc / sandboxed tmp / exotic platform
        detail = getattr(exc, "stderr", None) or exc  # cc's own message
        logging.getLogger(__name__).warning(
            "compiled chunk kernel unavailable, falling back to the "
            "reference loops (chunkers/core.py): %s", str(detail).strip()
        )
    return _lib or None


def _ptr(arr: np.ndarray, ctype):
    # the caller holds ``arr`` for the whole native call: a pointer into
    # a temporary (e.g. ``np.frombuffer(bytes(x))`` inline) would dangle
    return arr.ctypes.data_as(ctypes.POINTER(ctype))


def _fastcdc_scan(lib, arr: np.ndarray, p, final: bool) -> np.ndarray:
    # the gear table converts once per call (256 entries — negligible
    # next to the scan)
    gear = np.asarray(p.gear, dtype=np.uint64)
    out = np.empty(arr.size // (p.min_size + 1) + 2, dtype=np.int64)
    ncuts = lib.fastcdc_scan(
        _ptr(arr, ctypes.c_uint8),
        arr.size,
        _ptr(gear, ctypes.c_uint64),
        p.min_size,
        p.expected_size,
        p.max_size,
        p.short_mask,
        p.long_mask,
        1 if final else 0,
        _ptr(out, ctypes.c_long),
    )
    return out[:ncuts]


def _ae_scan(lib, arr: np.ndarray, p, final: bool) -> np.ndarray:
    # every AE chunk is at least window_size + 1 bytes (the first
    # possible cut is max_pos=0 + window_size)
    out = np.empty(arr.size // (p.window_size + 1) + 2, dtype=np.int64)
    ncuts = lib.ae_scan(
        _ptr(arr, ctypes.c_uint8),
        arr.size,
        p.window_size,
        1 if final else 0,
        _ptr(out, ctypes.c_long),
    )
    return out[:ncuts]


def _rabin_scan(lib, arr: np.ndarray, p, final: bool) -> np.ndarray:
    # earliest hash cut at local = max(window_size, min_size); earliest
    # force cut at local = max_size — so chunks can't be shorter than
    # min(max(window_size, min_size), max_size) + 1 bytes
    shortest = min(max(p.window_size, p.min_size), p.max_size) + 1
    out = np.empty(arr.size // shortest + 2, dtype=np.int64)
    ncuts = lib.rabin_scan(
        _ptr(arr, ctypes.c_uint8),
        arr.size,
        _ptr(p.pow_table, ctypes.c_uint32),  # uint32[256]
        p.alpha & 0xFFFFFFFF,
        p.seed & 0xFFFFFFFF,
        p.mask & 0xFFFFFFFF,
        p.min_size,
        p.max_size,
        p.window_size,
        1 if final else 0,
        _ptr(out, ctypes.c_long),
    )
    return out[:ncuts]


_SCANS = {"ae": _ae_scan, "rabin": _rabin_scan, "fastcdc": _fastcdc_scan}


def _scan_list(algo: str, arr: np.ndarray, p, final: bool) -> list[int] | None:
    """Run the compiled scan, or return None when unavailable so the
    caller falls back to the reference loop. ``arr`` is the uint8 view
    fast.py already builds."""
    lib = _load()
    if lib is None:
        return None
    if arr.size == 0:
        return []
    return _SCANS[algo](lib, arr, p, final).tolist()


def fastcdc_scan_native(arr: np.ndarray, p, final: bool) -> list[int] | None:
    return _scan_list("fastcdc", arr, p, final)


def ae_scan_native(arr: np.ndarray, p, final: bool) -> list[int] | None:
    return _scan_list("ae", arr, p, final)


def rabin_scan_native(arr: np.ndarray, p, final: bool) -> list[int] | None:
    return _scan_list("rabin", arr, p, final)


def bounds_hashed_native(
    algo: str, arr: np.ndarray, p
) -> tuple[np.ndarray, np.ndarray] | None:
    """The ``final=False`` cuts of ``arr`` and, in the same pass over the
    Python boundary, the XXH64 at Spark's seed of every span between
    consecutive cuts: ``hashes[i]`` covers ``arr[cuts[i] + 1 :
    cuts[i + 1] + 1]``. Both int64 arrays; None when no kernel."""
    lib = _load()
    if lib is None:
        return None
    if arr.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    cuts = _SCANS[algo](lib, arr, p, False)
    hashes = np.empty(max(cuts.size - 1, 0), dtype=np.int64)
    lib.span_hashes(
        _ptr(arr, ctypes.c_uint8),
        _ptr(cuts, ctypes.c_long),
        cuts.size,
        XXH64_SEED,
        _ptr(hashes, ctypes.c_int64),
    )
    return cuts, hashes


def xxh64_native(arr: np.ndarray) -> int | None:
    """XXH64 of a uint8 buffer at Spark's seed, as a signed 64-bit int
    (``F.xxhash64``'s value), or None when no kernel."""
    lib = _load()
    if lib is None:
        return None
    h = lib.xxh64(_ptr(arr, ctypes.c_uint8), arr.size, XXH64_SEED)
    return h - (1 << 64) if h >= (1 << 63) else h
