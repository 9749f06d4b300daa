"""The preload-daemon guard (session.py) and the scoped zipimport patch
(daemon_preload.py).

A custom ``spark.python.daemon.module`` the worker interpreter cannot
import is a HARD worker-start failure on clusters without a shared
filesystem — the factory must fall back to the stock daemon when the
module file is not at the path PYTHONPATH would point to. And the
zipimport invalidate_caches no-op must be scoped to the immutable Spark
install archives, not blanket every zipimporter (addPyFile-shipped zips
keep stock semantics)."""

from __future__ import annotations

import subprocess
import sys
import textwrap

from cdc_algorithms_spark import session as session_mod


def test_daemon_module_available_true_for_real_root():
    import cdc_algorithms_spark
    import os

    pkg_root = os.path.dirname(
        os.path.dirname(os.path.abspath(cdc_algorithms_spark.__file__))
    )
    assert session_mod._daemon_module_available(pkg_root)


def test_daemon_module_available_false_for_missing_root(tmp_path):
    assert not session_mod._daemon_module_available(str(tmp_path))


def test_default_driver_memory_is_half_of_ram_capped_at_24g(monkeypatch):
    """The default heap must fit the host: half of physical RAM, never
    more than 24g (a 24g heap on a 15 GB host gets the JVM OOM-killed);
    ``SPARK_DRIVER_MEMORY`` still overrides it."""
    def fake_sysconf(ram_gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (ram_gib << 30) // 4096}
        return lambda name: pages[name]

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session_mod.os, "sysconf", fake_sysconf(15))
    assert session_mod._driver_memory() == f"{15 << 9}m"
    monkeypatch.setattr(session_mod.os, "sysconf", fake_sysconf(128))
    assert session_mod._driver_memory() == f"{24 << 10}m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session_mod._driver_memory() == "3g"


def test_get_spark_builds_without_daemon_module(monkeypatch, spark):
    """With the package root 'renamed' (guard returns False) the factory
    must still return a working session — degraded to the stock daemon,
    never a failure.

    getOrCreate() on the LIVE test session applies the builder's runtime
    confs to it, so build with conftest's exact arguments: then no
    builder conf differs from the live session's and nothing leaks into
    later test files (the bug this pins: a default shuffle_partitions of
    the core count broke test_sinks' bucketed-join plan pin and
    test_sketches' estimator stability). Only the app name differs, and
    it is restored."""
    prev_name = spark.conf.get("spark.app.name", "cdc-spark-tests")
    monkeypatch.setattr(
        session_mod, "_daemon_module_available", lambda _root: False
    )
    try:
        s = session_mod.get_spark("daemon-guard-test", cpus=8, shuffle_partitions=8)
        assert s.range(3).count() == 3
    finally:
        spark.conf.set("spark.app.name", prev_name)


def test_zipimport_patch_scoped_to_spark_install_zips(tmp_path):
    """daemon_preload's invalidate_caches override must no-op ONLY for
    pyspark.zip / py4j-*.zip and delegate to the original for any other
    archive. Run in a subprocess: the patch is process-global by design
    (it targets worker interpreters) and must not leak into this test
    process."""
    code = textwrap.dedent(
        """
        import io
        import os
        import sys
        import zipfile
        import zipimport

        orig = zipimport.zipimporter.invalidate_caches
        import cdc_algorithms_spark.daemon_preload  # applies the patch
        patched = zipimport.zipimporter.invalidate_caches
        assert patched is not orig, "patch not applied"

        # a user zip (addPyFile-style): invalidation must still work —
        # a module added to the zip AFTER first import becomes visible
        # once invalidate_caches runs
        path = os.path.join(sys.argv[1], "userlib.zip")
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("m_one.py", "X = 1\\n")
        zi = zipimport.zipimporter(path)
        assert zi.find_spec("m_one") is not None
        assert zi.find_spec("m_two") is None
        with zipfile.ZipFile(path, "a") as z:
            z.writestr("m_two.py", "X = 2\\n")
        zi.invalidate_caches()
        assert zi.find_spec("m_two") is not None, (
            "user-zip invalidation was disabled — the patch is not scoped"
        )
        print("SCOPED_OK")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "SCOPED_OK" in out.stdout
