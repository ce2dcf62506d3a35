"""The stat-guarded ``zipimporter.invalidate_caches`` (no Spark)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import pdf_extractor_spark
from pdf_extractor_spark import zipguard

pytestmark = pytest.mark.skipif(
    not hasattr(zipimport.zipimporter, "invalidate_caches"),
    reason="zipimporter.invalidate_caches is new in Python 3.10",
)


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_archive(path, {"zg_first": "VALUE = 1\n"})
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    for name in ("zg_first", "zg_added"):
        sys.modules.pop(name, None)


def test_importing_the_package_installs_the_guard():
    assert zipimport.zipimporter.invalidate_caches.stat_guarded


def test_unchanged_archive_keeps_its_directory(archive):
    importlib.import_module("zg_first")
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()  # first guarded call records the key
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is files


def test_rewritten_archive_is_reread(archive):
    assert importlib.import_module("zg_first").VALUE == 1
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    files = importer._files
    _write_archive(archive, {"zg_first": "VALUE = 1\n",
                             "zg_added": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("zg_added").VALUE == 2


def test_reimport_and_reload_do_not_wrap_twice():
    guarded = zipimport.zipimporter.invalidate_caches
    zipguard.install()
    importlib.reload(zipguard)
    importlib.reload(pdf_extractor_spark)
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert not getattr(guarded.__wrapped__, "stat_guarded", False)
