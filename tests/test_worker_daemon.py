"""The worker daemon's guarded ``zipimporter`` cache invalidation,
called directly (the test process's own ``zipimport`` is left as is)."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pytest

from mapreduce_llm_spark import worker_daemon

GUARDED = sys.version_info < (3, 12)


def _write_zip(path, *modules: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", "X = 1\n")


def _rewrite(path, *modules: str) -> None:
    """Rewrite the archive and move its mtime on, so the stamp changes
    even on a filesystem with coarse timestamps."""
    mtime = os.stat(path).st_mtime_ns
    _write_zip(path, *modules)
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, "alpha")
    importer = zipimport.zipimporter(path)
    worker_daemon.invalidate_caches(importer)
    if GUARDED:
        files = importer._files
        worker_daemon.invalidate_caches(importer)
        assert importer._files is files
    assert importer.find_spec("alpha") is not None
    assert importer.find_spec("beta") is None

    _rewrite(path, "alpha", "beta")
    worker_daemon.invalidate_caches(importer)
    assert importer.find_spec("beta") is not None


@pytest.mark.skipif(not GUARDED, reason="Python >= 3.12 keeps the stock method")
def test_importers_over_one_archive_share_one_read(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, "alpha")
    first, second = zipimport.zipimporter(path), zipimport.zipimporter(path)
    _rewrite(path, "alpha", "beta")
    worker_daemon.invalidate_caches(first)
    worker_daemon.invalidate_caches(second)
    assert second._files is first._files
    assert second.find_spec("beta") is not None


def test_missing_archive_counts_as_changed(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, "alpha")
    importer = zipimport.zipimporter(path)
    worker_daemon.invalidate_caches(importer)
    os.remove(path)
    worker_daemon.invalidate_caches(importer)
    assert importer.find_spec("alpha") is None
    _write_zip(path, "gamma")
    worker_daemon.invalidate_caches(importer)
    assert importer.find_spec("gamma") is not None
