"""Stat-gated zipimporter cache refresh: ``importlib.invalidate_caches()``
must not re-parse an unchanged archive on ``sys.path``, and must re-read
one whose size or mtime changed. No Spark."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import serd_spark  # noqa: F401  (installs the patch)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no patch",
)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("serd_zipcache_probe.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    import serd_zipcache_probe  # noqa: F401  (creates the zipimporter)

    sys.modules.pop("serd_zipcache_probe")
    reads: list[str] = []
    real = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()  # first refresh stamps the archive
    reads.clear()
    yield archive, reads
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads


def test_mtime_change_rereads(zip_on_path):
    archive, reads = zip_on_path
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_size_change_rereads_and_sees_new_module(zip_on_path):
    archive, reads = zip_on_path
    st = os.stat(archive)
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("serd_zipcache_probe2.py", "VALUE = 2\n")
    # same mtime, so only the size tells the archive changed
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    mod = importlib.import_module("serd_zipcache_probe2")
    try:
        assert mod.VALUE == 2
    finally:
        sys.modules.pop("serd_zipcache_probe2", None)
