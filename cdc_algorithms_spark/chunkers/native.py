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

_C_SRC = r"""
#include <stdint.h>

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
        _lib = lib
    except Exception as exc:  # no cc / sandboxed tmp / exotic platform
        detail = getattr(exc, "stderr", None) or exc  # cc's own message
        logging.getLogger(__name__).warning(
            "compiled chunk kernel unavailable, falling back to the "
            "reference loops (chunkers/core.py): %s", str(detail).strip()
        )
    return _lib or None


def fastcdc_scan_native(arr: np.ndarray, p, final: bool) -> list[int] | None:
    """Run the compiled scan, or return None when unavailable so the
    caller falls back to the reference loop. ``arr`` is the uint8
    view fast.py already builds; the gear table converts once per call
    (256 entries — negligible next to the scan)."""
    lib = _load()
    if lib is None:
        return None
    n = arr.size
    if n == 0:
        return []
    gear = np.asarray(p.gear, dtype=np.uint64)
    out = np.empty(n // (p.min_size + 1) + 2, dtype=np.int64)
    ncuts = lib.fastcdc_scan(
        arr.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        n,
        gear.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
        p.min_size,
        p.expected_size,
        p.max_size,
        p.short_mask,
        p.long_mask,
        1 if final else 0,
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_long)),
    )
    return out[:ncuts].tolist()


def ae_scan_native(arr: np.ndarray, p, final: bool) -> list[int] | None:
    lib = _load()
    if lib is None:
        return None
    n = arr.size
    if n == 0:
        return []
    # every AE chunk is at least window_size + 1 bytes (the first
    # possible cut is max_pos=0 + window_size)
    out = np.empty(n // (p.window_size + 1) + 2, dtype=np.int64)
    ncuts = lib.ae_scan(
        arr.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        n,
        p.window_size,
        1 if final else 0,
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_long)),
    )
    return out[:ncuts].tolist()


def rabin_scan_native(arr: np.ndarray, p, final: bool) -> list[int] | None:
    lib = _load()
    if lib is None:
        return None
    n = arr.size
    if n == 0:
        return []
    # earliest hash cut at local = max(window_size, min_size); earliest
    # force cut at local = max_size — so chunks can't be shorter than
    # min(max(window_size, min_size), max_size) + 1 bytes
    shortest = min(max(p.window_size, p.min_size), p.max_size) + 1
    out = np.empty(n // shortest + 2, dtype=np.int64)
    pow_table = p.pow_table  # uint32[256]
    ncuts = lib.rabin_scan(
        arr.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        n,
        pow_table.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
        p.alpha & 0xFFFFFFFF,
        p.seed & 0xFFFFFFFF,
        p.mask & 0xFFFFFFFF,
        p.min_size,
        p.max_size,
        p.window_size,
        1 if final else 0,
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_long)),
    )
    return out[:ncuts].tolist()
