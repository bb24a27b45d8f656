"""Python workers run without Spark's archives on `sys.path`.

`_worker_daemon.spark_free_path` drops `pyspark.zip`, the py4j zip and the
spark-core jar only when an installed pyspark of the same version and py4j
resolve without them; every fallback returns the path unchanged. The Spark
test checks what a worker of a `get_spark` session actually imports.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

from osm_data_3d_tiles_spark._worker_daemon import spark_free_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_ARCHIVES = ("pyspark.zip", "py4j-0.10.9.9-src.zip", "spark-core_2.13-4.1.2.jar")


def _spark_archive_in(entry: str) -> bool:
    return any(seg.endswith(".jar") or (seg.endswith(".zip") and seg.startswith(("pyspark", "py4j")))
               for seg in entry.split(os.sep))


def _version_py(version: str) -> str:
    return f"__version__: str = '{version}'\n"


def _layout(tmp_path, *, site_pyspark: str | None = "4.1.2", site_py4j: bool = True):
    """A Spark-like path: cwd, the three Spark archives, a user --py-files zip
    and a site-packages directory holding pyspark `site_pyspark` and py4j."""
    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", _version_py("4.1.2"))
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(lib / "spark-core_2.13-4.1.2.jar", "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", b"\xca\xfe\xba\xbe")
    with zipfile.ZipFile(lib / "deps.zip", "w") as z:
        z.writestr("userlib/__init__.py", "")
    site = tmp_path / "site-packages"
    site.mkdir()
    if site_pyspark is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(_version_py(site_pyspark))
    if site_py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    return [str(cwd), *(str(lib / a) for a in SPARK_ARCHIVES), str(lib / "deps.zip"), str(site)]


def test_strips_spark_archives_and_keeps_user_archive(tmp_path):
    path = _layout(tmp_path)
    cwd, *_, deps, site = path
    assert spark_free_path(path) == [cwd, deps, site]


def test_pyspark_version_mismatch_keeps_path(tmp_path):
    path = _layout(tmp_path, site_pyspark="4.0.0")
    assert spark_free_path(path) == path


def test_pyspark_only_in_archive_keeps_path(tmp_path):
    path = _layout(tmp_path, site_pyspark=None)
    assert spark_free_path(path) == path


def test_py4j_only_in_archive_keeps_path(tmp_path):
    path = _layout(tmp_path, site_py4j=False)
    assert spark_free_path(path) == path


def test_import_does_not_load_pyspark():
    probe = ("import sys, osm_data_3d_tiles_spark._worker_daemon; "
             "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))")
    out = subprocess.run([sys.executable, "-c", probe], cwd=ROOT, capture_output=True,
                         text=True, check=True).stdout
    assert out.strip() == "[]"


def test_get_spark_workers_import_pyspark_outside_archives(spark):
    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import py4j
        import pyspark

        for _ in batches:
            pass
        info = {
            "files": [pyspark.__file__, py4j.__file__],
            "path": [p for p in sys.path if p.endswith((".zip", ".jar"))],
            "cached": [k for k, v in sys.path_importer_cache.items()
                       if isinstance(v, zipimport.zipimporter)],
        }
        yield pa.RecordBatch.from_pydict({"info": [json.dumps(info)]})

    rows = spark.range(2).repartition(2).mapInArrow(report, "info string").collect()
    assert len(rows) == 2
    for row in rows:
        info = json.loads(row.info)
        for f in info["files"]:
            assert not any(seg.endswith((".zip", ".jar")) for seg in f.split(os.sep)), f
        for entry in info["path"] + info["cached"]:
            assert not _spark_archive_in(entry), entry
