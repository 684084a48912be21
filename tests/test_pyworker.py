"""The Python-worker bootstrap (pyworker.py): a warm worker's per-task
``importlib.invalidate_caches()`` reads no archive, files added later
still import, and a session started from outside the repository still
runs Python tasks under the bootstrap."""

from __future__ import annotations

import inspect
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parents[1]


def _reads_kernel():
    """A ``mapInPandas`` kernel (nested, so it pickles by value) giving
    one row per task: the archive-directory reads done by one
    ``importlib.invalidate_caches()`` and the zip importers it covers."""

    def kernel(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [len(reads)], "importers": [importers]})

    return kernel


def test_warm_worker_invalidation_reads_no_archive(spark):
    frame = spark.range(4, numPartitions=2)
    schema = "reads int, importers int"
    frame.mapInPandas(_reads_kernel(), schema).collect()  # warm the workers
    rows = frame.mapInPandas(_reads_kernel(), schema).collect()
    assert len(rows) == 2
    # the stock daemon re-reads pyspark.zip, the py4j zip and the
    # spark-core jar once per importer: 16 reads on a warm worker
    assert all(r.importers > 0 for r in rows)
    assert [r.reads for r in rows] == [0, 0]


def test_py_file_added_to_warm_workers_imports(spark, tmp_path):
    sc = spark.sparkContext
    frame = spark.range(2, numPartitions=2)
    frame.mapInPandas(_reads_kernel(), "reads int, importers int").collect()
    archive = tmp_path / "vr_pyworker_late.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("vr_pyworker_late/__init__.py", "VALUE = 41\n")
    sc.addPyFile(str(archive))

    def late(batches):
        import vr_pyworker_late

        for b in batches:
            yield pd.DataFrame({"v": b["id"] + vr_pyworker_late.VALUE})

    rows = frame.mapInPandas(late, "v long").collect()
    assert sorted(r.v for r in rows) == [41, 42]


_LAZY = """
import importlib, pkgutil, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
from vectordb_retrieval_spark.pyworker import lazy_zip_invalidation

def write(names):
    with zipfile.ZipFile({archive!r}, "w") as z:
        for n in names:
            z.writestr(n + ".py", "NAME = %r\\n" % n)

write(["first"])
sys.path.insert(0, {archive!r})
import first
assert lazy_zip_invalidation() == (sys.version_info < (3, 13))
reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or read(a)
importlib.invalidate_caches()
assert reads == [], reads
write(["first", "second"])
importlib.invalidate_caches()
import second
assert second.NAME == "second"
assert reads == [{archive!r}], reads
importlib.invalidate_caches()
names = sorted(m.name for m in pkgutil.iter_modules([{archive!r}]))
assert names == ["first", "second"], names
print("ok")
"""


def test_lazy_invalidation_rereads_on_next_lookup(tmp_path):
    script = _LAZY.format(repo=str(REPO), archive=str(tmp_path / "mods.zip"))
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["ok"]


_OUTSIDE = """
import sys
sys.path.insert(0, {repo!r})
from vectordb_retrieval_spark.session import get_spark

{reads_fn}

spark = get_spark("pyworker-outside", master="local[1]", shuffle_partitions=1)
print("daemon", spark.sparkContext.getConf().get("spark.python.daemon.module"))

def double(batches):
    for b in batches:
        yield b.assign(id=b["id"] * 2)

print("rows", sorted(r.id for r in spark.range(3).mapInPandas(double, "id long").collect()))
print("reads", [r.reads for r in spark.range(1).mapInPandas(_reads_kernel(), "reads int, importers int").collect()])
spark.stop()
"""


def test_session_outside_repo_runs_python_tasks(tmp_path):
    reads_fn = inspect.getsource(_reads_kernel)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE.format(repo=str(REPO), reads_fn=reads_fn)],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith(("daemon", "rows", "reads"))]
    assert lines == [
        "daemon vectordb_retrieval_spark.pyworker",
        "rows [0, 2, 4]",
        "reads [0]",
    ]
