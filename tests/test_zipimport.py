"""The stat-checked ``zipimporter.invalidate_caches`` the kernel package
installs (``medea_spark/kernel/_zipimport.py``), without Spark.

Python UDF workers call ``importlib.invalidate_caches()`` at the start
of every task; on CPython < 3.13 each zipimporter then re-reads its
archive's central directory.  An archive that has not changed on disk
must now cost a stat, and one that has changed must still be re-read.
"""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

import medea_spark.kernel  # noqa: F401  (installs the wrapper)
from medea_spark.kernel import _zipimport

REPO = Path(medea_spark.kernel.__file__).resolve().parents[2]


def _write_zip(archive: Path, modules: list[str]) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        for name in modules:
            z.writestr(f"{name.replace('.', '/')}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    """An archive holding ``m1`` at the front of ``sys.path``; the import
    system's state is restored afterwards."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["m1", "pkg/__init__", "pkg.a"])
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, str(archive))
    try:
        yield archive
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in ("m1", "m2", "pkg", "pkg.a", "pkg.b"):
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def _count_reads(monkeypatch) -> list:
    reads: list = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    import m1

    assert m1.NAME == "m1"
    # the first call after an importer appears reads its archive once,
    # at a recorded stat; every later call is the per-task steady state
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_changed_archive_is_reread(zip_on_path):
    """Both importers of the archive (its root and ``pkg/``) see the
    rewrite, though only the first to be invalidated reads it."""
    import m1  # noqa: F401
    import pkg.a  # noqa: F401

    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        import m2  # noqa: F401
    _write_zip(zip_on_path, ["m1", "m2", "pkg/__init__", "pkg.a", "pkg.b"])
    importlib.invalidate_caches()
    import m2
    import pkg.b

    assert (m2.NAME, pkg.b.NAME) == ("m2", "pkg.b")


def test_install_is_idempotent():
    method = zipimport.zipimporter.invalidate_caches
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is method


_PROBE = """
import sys, zipimport
shipped = zipimport.zipimporter.invalidate_caches
import medea_spark.kernel
print(zipimport.zipimporter.invalidate_caches is shipped)
"""


@pytest.mark.parametrize("python", ["python3.12", "python3.13"])
def test_installed_only_where_cpython_rereads_eagerly(python):
    """3.12 re-reads eagerly like 3.11 and gets the wrapper; 3.13 only
    drops the cached directory and keeps the method CPython ships."""
    exe = shutil.which(python)
    version = exe and subprocess.run(
        [exe, "-c", "import sys; print(sys.version_info[:2] >= (3, 13))"],
        capture_output=True, text=True,
    )
    if not version or version.returncode != 0:
        pytest.skip(f"{python} is not runnable here")
    probe = subprocess.run(
        [exe, "-c", _PROBE], capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": str(REPO)}, check=True,
    )
    assert probe.stdout.split() == [version.stdout.strip()]
