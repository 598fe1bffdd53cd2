"""The engine's Python worker daemon: zip import cache kept across tasks,
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
        import sys
        import zipimport

        import pyarrow as pa

        zips = {
            f.archive
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
        }
        before = {a: zipimport._zip_directory_cache.get(a) for a in zips}
        importlib.invalidate_caches()
        same = all(zipimport._zip_directory_cache.get(a) is before[a] for a in zips)
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"zips": [len(zips)] * b.num_rows, "same": [same] * b.num_rows}
            )

    (row,) = spark.range(1, numPartitions=1).mapInArrow(_probe_zip_cache, "zips long, same boolean").collect()
    if row.zips == 0:
        pytest.skip("the Python worker has no zip archive on its path")
    # pyspark invalidates import caches at the start of every task; an
    # unchanged archive keeps the directory it was read into
    assert row.same


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


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
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_JVM_PRETOUCH="0")
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
