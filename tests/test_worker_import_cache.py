"""Import-cache invalidation is cheap: a Python worker that has loaded
the package re-reads no zip archive directory when a task starts, and a
zip rewritten in place is still re-read (``session``'s stat-checked
``zipimporter.invalidate_caches``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import document_retrieval_system_spark  # noqa: F401  (installs the check)


def test_a_warm_worker_rereads_no_zip_directory(spark):
    """The second package UDF task runs in a worker that has loaded the
    package; its ``importlib.invalidate_caches()`` re-reads no archive
    directory, over at least one zip importer on the worker's path."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import document_retrieval_system_spark  # noqa: F401  (as any engine UDF)

        n, read = [0], zipimport._read_directory

        def counted(archive):
            n[0] += 1
            return read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"rereads": [n[0]], "zips": [zips]})

    def run():
        return spark.range(1).coalesce(1).mapInPandas(
            probe, "rereads long, zips long").collect()[0]

    run()
    second = run()
    assert second["zips"] >= 1, second
    assert second["rereads"] == 0, second


def test_rewritten_zip_is_reread_and_unchanged_zip_is_not(tmp_path, monkeypatch):
    """No Spark: invalidating an unchanged zip on ``sys.path`` reads no
    directory; after the zip is rewritten in place, a re-import gives
    the new module."""
    archive = tmp_path / "drs_rewritten_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("drs_zip_probe_mod.py", "VALUE = 'old'\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("drs_zip_probe_mod").VALUE == "old"

        reads, read = [], zipimport._read_directory
        with monkeypatch.context() as m:
            m.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))
            importlib.invalidate_caches()
        assert reads == []

        size = archive.stat().st_size
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("drs_zip_probe_mod.py", "VALUE = 'new, and longer'\n")
        assert archive.stat().st_size != size
        importlib.invalidate_caches()
        del sys.modules["drs_zip_probe_mod"]
        assert importlib.import_module("drs_zip_probe_mod").VALUE == "new, and longer"
    finally:
        sys.modules.pop("drs_zip_probe_mod", None)
