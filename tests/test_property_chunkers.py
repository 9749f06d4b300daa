"""Hypothesis property tests for the chunk-boundary scanners.

The corpus-based tests pin behavior on realistic text; these drive the
public scanners (chunkers/fast.py — the compiled kernels, or the
reference loops when no compiler exists) against the reference-faithful
byte loops (chunkers/core.py) on adversarial random inputs — repeated
bytes, short buffers, low-entropy runs — checking exact cut equality
for both the ``*_cuts`` and ``*_bounds`` variants, plus the CDC
invariants from SURVEY.md §5: cuts strictly increasing and
ending at the last byte (cuts are inclusive end indices, reference
style: ae.rs:49-51), chunk sizes clamped to [min, max] for non-final
chunks where the algorithm defines clamps (fastcdc.rs:68-69,
rabin.rs:47-48; AE has neither — ae.rs:26), concatenation preserves
every byte, and shift-invariance (boundaries resynchronize after a
prefix edit — the property that makes chunking "content-defined" at
all, and the reason dedup survives insertions).

No Spark session: scanners are pure functions, so hypothesis can run
hundreds of cases in seconds.
"""

from __future__ import annotations

import logging
import subprocess

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cdc_algorithms_spark.chunkers import core, fast, native
from cdc_algorithms_spark.chunkers.params import make_params

ALGOS = ["ae", "rabin", "fastcdc"]

_REF = {algo: getattr(core, f"{algo}_cuts_py") for algo in ALGOS}
# final=True → fast.*_cuts, final=False → fast.*_bounds
_FAST = {
    (algo, final): getattr(fast, f"{algo}_{'cuts' if final else 'bounds'}")
    for algo in ALGOS
    for final in (True, False)
}

payload = st.one_of(
    st.binary(min_size=0, max_size=4096),
    # low-entropy runs: worst case for extremum/mask logic
    st.integers(1, 4096).flatmap(
        lambda n: st.sampled_from([b"a" * n, b"ab" * (n // 2 + 1), bytes(n)])
    ),
)


@pytest.mark.parametrize("algo", ALGOS)
@settings(max_examples=150, deadline=None)
@given(data=payload, expected=st.sampled_from([320, 512, 1024]), seed=st.integers(0, 3))
def test_fast_equals_core(algo, data, expected, seed):
    p = make_params(algo, expected, seed=seed)
    for final in (True, False):
        assert _FAST[algo, final](data, p) == _REF[algo](data, p, final)


@pytest.mark.parametrize("algo", ALGOS)
@settings(max_examples=100, deadline=None)
@given(data=st.binary(min_size=0, max_size=8192), seed=st.integers(0, 3))
def test_cut_invariants(algo, data, seed):
    p = make_params(algo, 512, seed=seed)
    cuts = _FAST[algo, True](data, p)
    assert cuts == sorted(set(cuts)), "cuts strictly increasing"
    if not data:
        assert cuts == []
        return
    assert cuts[-1] == len(data) - 1, "final boundary is the last byte index"
    # chunk i spans (prev_cut, cut]; lengths must reassemble the buffer
    lengths = [b - a for a, b in zip([-1] + cuts[:-1], cuts)]
    assert sum(lengths) == len(data)
    for ln in lengths[:-1]:  # the appended final chunk may be any size
        if algo in ("rabin", "fastcdc"):
            assert ln >= p.min_size, "min-size clamp skipped a cut candidate"
            assert ln <= p.max_size, "max-size force cut bounds every chunk"
        else:  # AE: window defines an implicit floor, no max clamp (ae.rs:26)
            assert ln >= p.window_size + 1


@pytest.mark.parametrize("algo", ALGOS)
@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.large_base_example],
)
@given(
    data=st.binary(min_size=2048, max_size=8192),
    prefix=st.binary(min_size=1, max_size=64),
)
def test_shift_invariance_resync(algo, data, prefix):
    """After prepending a prefix, cut positions eventually realign to the
    original cuts + len(prefix) — content-defined boundaries resynchronize
    (the defining CDC property; fixed-size chunking fails this)."""
    p = make_params(algo, 320, seed=1)
    fast_fn = _FAST[algo, True]
    base = {c + len(prefix) for c in fast_fn(data, p)}
    shifted = set(fast_fn(prefix + data, p))
    # all boundaries past the first resynchronized cut must agree;
    # FastCDC's normalized masks depend on distance-since-last-cut, so
    # resync can take several cuts — require agreement on the tail only.
    common = sorted(base & shifted)
    assert common, "no boundary ever resynchronized"
    tail_from = common[0]
    assert {c for c in base if c >= tail_from} == {
        c for c in shifted if c >= tail_from
    }


@pytest.mark.parametrize("algo", ALGOS)
@given(data=payload, expected=st.sampled_from([256, 512, 4096, 16384]))
@settings(max_examples=50, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_native_equals_numpy(algo, data, expected):
    """The compiled scans (chunkers/native.py), called directly on a numpy
    buffer, must produce the reference loops' cuts for both the final-cut
    and bounds variants, including at expected sizes far above the
    other property tests; skips when no compiler exists (then the
    reference loops are the only path and test_fast_equals_core covers
    them)."""
    if algo == "ae" and expected == 256:
        expected = 512  # AE's reference window formula needs expected > 256
    p = make_params(algo, expected, 1)
    arr = np.frombuffer(data, dtype=np.uint8) if data else np.empty(0, np.uint8)
    native_fn = getattr(native, f"{algo}_scan_native")
    for final in (True, False):
        got = native_fn(arr, p, final)
        if got is None:
            pytest.skip("no system compiler — reference loops are the only path")
        assert got == _REF[algo](data, p, final)


def test_fallback_without_compiler_equals_core(monkeypatch, tmp_path, caplog):
    """With no cached kernel and a failing compiler, every public scanner
    falls back to the reference loops, and the failure is logged once
    per process with the compiler's error — not once per call."""

    def failing_cc(cmd, **_kw):
        raise subprocess.CalledProcessError(1, cmd, stderr="cc: error: no-cc-here")

    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(native.subprocess, "run", failing_cc)
    rng = np.random.default_rng(7)
    data = rng.integers(0, 256, 6000, dtype=np.uint8).tobytes() + b"ab" * 1000
    with caplog.at_level(logging.WARNING, logger=native.__name__):
        for _ in range(3):
            for algo in ALGOS:
                p = make_params(algo, 512, seed=1)
                for final in (True, False):
                    cuts = _FAST[algo, final](data, p)
                    assert cuts and cuts == _REF[algo](data, p, final)
    assert native._load() is None
    warnings = [r for r in caplog.records if r.name == native.__name__]
    assert len(warnings) == 1
    assert "no-cc-here" in warnings[0].getMessage()


# the lengths that cross every XXH64 branch: empty, 1-byte tail, the
# 4-byte word, the 8-byte lane, the 32-byte stripe, and a long input
XXH_LENGTHS = [0, 1, 3, 4, 7, 8, 9, 31, 32, 33, 63, 64, 65, 16385]


def test_xxh64_reference_equals_compiled():
    """The pure-Python XXH64 (the no-compiler tier) equals the compiled
    one on every branch length. Non-empty inputs matter: a kernel reading
    a dangling buffer still hashes the empty input right."""
    rng = np.random.default_rng(11)
    for n in XXH_LENGTHS:
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        got = native.xxh64_native(np.frombuffer(data, np.uint8))
        if got is None:
            pytest.skip("no system compiler — the reference XXH64 is the only path")
        assert got == core.xxh64_py(data), n


@pytest.mark.parametrize("algo", ALGOS)
@settings(max_examples=60, deadline=None)
@given(data=payload, expected=st.sampled_from([320, 512]))
def test_bounds_hashed_equals_reference(algo, data, expected):
    """``*_bounds_hashed`` returns the ``*_bounds`` cuts and, per span
    between consecutive cuts, the reference XXH64 of its bytes."""
    p = make_params(algo, expected, seed=1)
    cuts, hashes = getattr(fast, f"{algo}_bounds_hashed")(data, p)
    ref = _REF[algo](data, p, False)
    assert cuts.dtype == hashes.dtype == np.int64
    assert cuts.tolist() == ref
    assert hashes.tolist() == [
        core.xxh64_py(data[a + 1 : b + 1]) for a, b in zip(ref, ref[1:])
    ]


def test_bounds_hashed_fallback_without_compiler(monkeypatch, tmp_path):
    """With no kernel, ``*_bounds_hashed`` runs the reference loops and
    the pure-Python XXH64 and gives the compiled tier's arrays."""
    rng = np.random.default_rng(5)
    data = rng.integers(0, 256, 20000, dtype=np.uint8).tobytes()
    compiled = {}
    for algo in ALGOS:
        p = make_params(algo, 512, seed=1)
        compiled[algo] = getattr(fast, f"{algo}_bounds_hashed")(data, p)

    def failing_cc(cmd, **_kw):
        raise subprocess.CalledProcessError(1, cmd, stderr="cc: error: no-cc-here")

    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(native.subprocess, "run", failing_cc)
    for algo in ALGOS:
        p = make_params(algo, 512, seed=1)
        cuts, hashes = getattr(fast, f"{algo}_bounds_hashed")(data, p)
        assert len(cuts) > 2
        assert cuts.tolist() == compiled[algo][0].tolist()
        assert hashes.tolist() == compiled[algo][1].tolist()
    assert native._load() is None
