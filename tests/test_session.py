"""The Spark Python daemon (``es_indexer_spark._sparkdaemon``) keeps each
worker's zip-import cache across tasks, and still sees archives that
change."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from es_indexer_spark._sparkdaemon import patch_zipimport


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport only drops its cache from 3.13 on")
def test_worker_keeps_zip_directories_across_invalidate(spark):
    def zip_caches_kept(batches):
        for _ in batches:
            pass
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        before = [f._files for f in zips]
        importlib.invalidate_caches()
        kept = all(f._files is b for f, b in zip(zips, before))
        yield pd.DataFrame({"n_zips": [len(zips)], "kept": [kept]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(zip_caches_kept, "n_zips int, kept boolean")
           .collect()[0])
    assert row.n_zips > 0  # pyspark.zip at least
    assert row.kept


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_patched_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    changing, fixed = tmp_path / "changing.zip", tmp_path / "fixed.zip"
    _write_zip(changing, ["zmod_a"])
    _write_zip(fixed, ["zmod_c"])
    monkeypatch.syspath_prepend(str(fixed))
    monkeypatch.syspath_prepend(str(changing))
    for name in ("zmod_a", "zmod_b", "zmod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zmod_a").NAME == "zmod_a"
    assert importlib.import_module("zmod_c").NAME == "zmod_c"

    original = patch_zipimport()
    if original is None:
        pytest.skip("zipimport needs no patch on this interpreter")
    try:
        importlib.invalidate_caches()  # first call reads each archive once
        changing_imp = sys.path_importer_cache[str(changing)]
        fixed_imp = sys.path_importer_cache[str(fixed)]
        fixed_files = fixed_imp._files
        importlib.invalidate_caches()
        assert fixed_imp._files is fixed_files
        changing_files = changing_imp._files

        _write_zip(changing, ["zmod_a", "zmod_b"])
        importlib.invalidate_caches()
        assert importlib.import_module("zmod_b").NAME == "zmod_b"
        assert changing_imp._files is not changing_files
        assert fixed_imp._files is fixed_files
    finally:
        zipimport.zipimporter.invalidate_caches = original
