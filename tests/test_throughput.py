"""Single-thread throughput floors for the compiled chunk kernels
(chunkers/native.py) — regression pins.

Floors sit 2-3× below measured so scheduler noise doesn't flake, but a
kernel regression fails loudly. Spark fans these out per-core, so node
throughput is a multiple of the single-thread number.
"""

from __future__ import annotations

import time

import numpy as np
import pytest

from cdc_algorithms_spark.chunkers.params import make_params

_DATA = np.random.default_rng(42).integers(0, 256, 16 << 20, dtype=np.uint8).tobytes()
_MB = len(_DATA) / 2**20


@pytest.mark.parametrize(
    "algo,floor_mbps",
    [("ae", 400.0), ("rabin", 300.0), ("fastcdc", 400.0)],
)
def test_native_kernel_throughput_floor(algo, floor_mbps):
    """Floors for the compiled scan path (chunkers/native.py; measured
    AE ~1.4, Rabin ~0.9 (r06 one-imul-per-4-bytes rewrite, was ~0.65),
    FastCDC ~1.5 GB/s on random 256 MiB) — 2-3×
    headroom for scheduler noise. Skipped where no system compiler
    exists (then chunkers/fast.py runs the reference loops, whose
    equality is pinned in tests/test_property_chunkers.py)."""
    from cdc_algorithms_spark.chunkers import native

    if native._load() is None:
        pytest.skip("no system compiler — native path unavailable")
    p = make_params(algo, 16384, 1)
    fn = getattr(native, f"{algo}_scan_native")
    arr = np.frombuffer(_DATA, dtype=np.uint8)
    fn(arr[: 1 << 20], p, True)  # warm: compile + load once
    t0 = time.monotonic()
    cuts = fn(arr, p, True)
    mbps = _MB / (time.monotonic() - t0)
    assert cuts, "no cuts produced"
    assert mbps >= floor_mbps, f"{algo}: {mbps:.0f} MB/s < floor {floor_mbps}"
