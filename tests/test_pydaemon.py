"""The engine's Python worker daemon: workers import the interpreter's
compiled pyspark (zip import cache kept across tasks where they cannot),
workers that start from any driver working directory."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from videos_to_tfrecords_spark import _pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_keeps_zip_directories_across_invalidate(spark):
    # nested, so that the worker unpickles it by value
    def _probe_zip_cache(batches):
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import zipfile
        import zipimport

        import pyarrow as pa

        # an archive of the user's own (as --py-files puts there): Spark's
        # are off the path where the interpreter has the same pyspark
        tmp = tempfile.mkdtemp()
        archive = os.path.join(tmp, "graft_probe.zip")
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("graft_probe_mod.py", "X = 1\n")
        sys.path.append(archive)
        try:
            importlib.import_module("graft_probe_mod")
            zips = {
                f.archive
                for f in list(sys.path_importer_cache.values())
                if isinstance(f, zipimport.zipimporter)
            }
            before = {a: zipimport._zip_directory_cache.get(a) for a in zips}
            importlib.invalidate_caches()
            same = all(zipimport._zip_directory_cache.get(a) is before[a] for a in zips)
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            zipimport._zip_directory_cache.pop(archive, None)
            sys.modules.pop("graft_probe_mod", None)
            shutil.rmtree(tmp)
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"zips": [len(zips)] * b.num_rows, "same": [same] * b.num_rows}
            )

    (row,) = spark.range(1, numPartitions=1).mapInArrow(_probe_zip_cache, "zips long, same boolean").collect()
    assert row.zips >= 1
    # pyspark invalidates import caches at the start of every task; an
    # unchanged archive keeps the directory it was read into
    assert row.same


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_worker_imports_installed_pyspark(spark):
    # nested, so that the worker unpickles it by value
    def _probe_pyspark(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        zips = [f.archive for f in list(sys.path_importer_cache.values()) if isinstance(f, zipimport.zipimporter)]
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "file": [pyspark.__file__] * b.num_rows,
                    "on_disk": [os.path.isfile(pyspark.__file__)] * b.num_rows,
                    "zips": [zips] * b.num_rows,
                }
            )

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        _probe_pyspark, "file string, on_disk boolean, zips array<string>"
    ).collect()
    assert row.on_disk, row.file  # not a member of pyspark.zip
    assert row.zips == []


def _spark_layout(tmp_path, zip_version: str) -> dict[str, str]:
    """An installed pyspark 9.9.9 plus py4j, Spark's three archives with
    ``zip_version`` in the zip's ``pyspark/version.py``, and a user archive."""
    site = tmp_path / "site"
    for pkg, files in {
        "pyspark": {"__init__.py": "", "version.py": "__version__ = '9.9.9'\n"},
        "py4j": {"__init__.py": ""},
    }.items():
        (site / pkg).mkdir(parents=True)
        for name, src in files.items():
            (site / pkg / name).write_text(src)
    paths = {
        "pyspark_zip": str(tmp_path / "lib" / "pyspark.zip"),
        "py4j_zip": str(tmp_path / "lib" / "py4j-0.10.9.9-src.zip"),
        "jar": str(tmp_path / "jars" / "spark-core_2.13-9.9.9.jar"),
        "deps": str(tmp_path / "deps.zip"),
        "site": str(site),
    }
    os.makedirs(tmp_path / "lib")
    os.makedirs(tmp_path / "jars")
    _write_zip(paths["pyspark_zip"], {"pyspark/__init__.py": "", "pyspark/version.py": f"__version__ = '{zip_version}'\n"})
    _write_zip(paths["py4j_zip"], {"py4j/__init__.py": ""})
    _write_zip(paths["jar"], {"org/apache/spark/Dummy.class": ""})
    _write_zip(paths["deps"], {"graft_deps_mod.py": "Z = 3\n"})
    return paths


@pytest.mark.parametrize("zip_version, applies", [("9.9.9", True), ("9.9.8", False)])
def test_selection_drops_spark_archives_only_for_matching_pyspark(tmp_path, monkeypatch, zip_version, applies):
    paths = _spark_layout(tmp_path, zip_version)
    archives = [paths["pyspark_zip"], paths["py4j_zip"], paths["jar"]]
    path = [*archives, paths["deps"], paths["site"], *sys.path]
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(zipimport, "_zip_directory_cache", dict(zipimport._zip_directory_cache))
    finders = [*archives, os.path.join(paths["pyspark_zip"], "pyspark"), paths["deps"]]
    for entry in finders:
        sys.path_importer_cache[entry] = zipimport.zipimporter(entry)

    assert _pydaemon.use_installed_pyspark() is applies
    if applies:
        assert sys.path == [paths["deps"], paths["site"], *path[5:]]
        assert [e for e in finders if e in sys.path_importer_cache] == [paths["deps"]]
    else:
        assert sys.path == path
        assert all(e in sys.path_importer_cache for e in finders)
    assert isinstance(sys.path_importer_cache[paths["deps"]], zipimport.zipimporter)


def test_package_import_leaves_pyspark_unloaded():
    # the daemon runs the package __init__ before it can choose a pyspark
    out = subprocess.run(
        [sys.executable, "-c", "import sys, videos_to_tfrecords_spark; print('pyspark' in sys.modules)"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip() == "False"


def test_patched_importer_rereads_rewritten_zip(tmp_path, monkeypatch):
    # install() patches zipimport; monkeypatch restores it afterwards
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"graft_zip_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("graft_zip_a", "graft_zip_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    _pydaemon.install()
    import graft_zip_a  # noqa: F401

    read = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is read  # unchanged: not re-read

    _write_zip(archive, {"graft_zip_a.py": "X = 1\n", "graft_zip_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not read
    assert importlib.import_module("graft_zip_b").Y == 2


FOREIGN_DRIVER = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {root!r})
    from videos_to_tfrecords_spark.ml.video import decode_videos
    from videos_to_tfrecords_spark.session import get_spark

    spark = get_spark("foreign_cwd", master="local[1]", shuffle_partitions=1)
    files = spark.createDataFrame(
        [("gs://b/L/360P/v1.mp4", "L", "Train")], "filename string, label string, dataset string"
    )
    print(json.dumps({{"frames": decode_videos(files).count()}}))
    spark.stop()
    """
)


def test_python_udf_runs_from_foreign_cwd(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", FOREIGN_DRIVER.format(root=ROOT)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1])["frames"] > 0
