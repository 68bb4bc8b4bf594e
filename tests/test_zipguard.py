"""The stat-guarded ``zipimporter.invalidate_caches`` (goribot_spark.zipguard).

PySpark workers invalidate import caches at the start of every task; the
guard keeps that from re-parsing each zip archive's central directory while
the archive is unchanged, and still picks up a replaced archive.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

import goribot_spark  # noqa: F401  (installs the guard)
from goribot_spark import zipguard

GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_guard_skips_unchanged_archive_and_rereads_replaced(tmp_path, monkeypatch):
    assert zipguard.installed() == GUARDED
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zg_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for m in ("zg_mod_a", "zg_mod_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    import zg_mod_a

    assert zg_mod_a.X == 1
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    importlib.invalidate_caches()  # first guarded call records the stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    if GUARDED:
        assert str(archive) not in reads

    _write_zip(archive, {"zg_mod_a": "X = 1\n", "zg_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    if GUARDED:
        assert reads.count(str(archive)) == 1
    import zg_mod_b

    assert zg_mod_b.Y == 2


@pytest.mark.skipif(not GUARDED, reason="CPython >= 3.13 invalidates lazily")
def test_guard_installed_in_python_workers(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("boolean")
    def guarded(x: pd.Series) -> pd.Series:
        import zipimport

        import goribot_spark  # noqa: F401

        ok = hasattr(zipimport.zipimporter.invalidate_caches, "unguarded")
        return pd.Series([ok] * len(x))

    rows = spark.range(4).repartition(2).select(guarded("id").alias("g")).collect()
    assert rows and all(r.g for r in rows)
