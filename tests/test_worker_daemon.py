"""The engine's Python worker daemon (``worker_daemon``): a zip importer
re-reads its archive only when the archive changed, and the session's
Python workers fork from that daemon."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from hyperion_crawler_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="from 3.13 zipimporter.invalidate_caches only drops its cache")


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("hcs_zipmod.py", f"VALUE = {value!r}\n")


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "hcs_zipmod", raising=False)
    worker_daemon.install()
    assert importlib.import_module("hcs_zipmod").VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()      # first call: the importer has no stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], "an unchanged archive was re-read"

    _write_zip(archive, 22)            # a different size, so a new stamp
    importlib.invalidate_caches()
    assert len(reads) == 1, "a rewritten archive was not re-read"
    del sys.modules["hcs_zipmod"]
    assert importlib.import_module("hcs_zipmod").VALUE == 22


def test_python_workers_run_under_the_engine_daemon(spark):
    import pandas as pd

    def probe(batches):
        for _ in batches:
            yield pd.DataFrame(
                {"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r["m"] for r in spark.range(300).coalesce(1)
           .mapInPandas(probe, "m string").collect()}
    assert got == {"hyperion_crawler_spark.worker_daemon"}
