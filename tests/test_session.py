"""Driver heap sizing of ``get_spark`` and the Python workers' zip
import cache check, without starting Spark."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from json_schema_spark.session import default_driver_memory, install_zip_cache_check

GiB = 1 << 30


def test_default_driver_memory_fits_the_host():
    assert default_driver_memory(16 * GiB) == "6g"   # 40%, whole GiB down
    assert default_driver_memory(128 * GiB) == "24g"  # capped
    assert default_driver_memory(GiB) == "1g"         # floor
    assert default_driver_memory().endswith("g")      # this host's RAM


def test_zip_cache_check_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """After ``install_zip_cache_check``, ``importlib.invalidate_caches()``
    parses an unchanged archive at most once per importer; a rewritten
    archive is re-read and its new module imports."""
    if sys.version_info >= (3, 13):
        pytest.skip("zipimport re-reads lazily; the helper does nothing")
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("jss_zip_old.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    for name in ("jss_zip_old", "jss_zip_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("jss_zip_old").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    install_zip_cache_check()
    checked = zipimport.zipimporter.invalidate_caches
    install_zip_cache_check()
    assert zipimport.zipimporter.invalidate_caches is checked  # idempotent
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) <= 1

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("jss_zip_old.py", "X = 1\n")
        z.writestr("jss_zip_new.py", "Y = 2\n")
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("jss_zip_new").Y == 2
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
