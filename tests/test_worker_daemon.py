"""The package's Python worker daemon (``worker_daemon``): lazy zip-import
cache invalidation, and how ``session.get_spark`` picks the daemon.

The ``zipimport`` checks run in a subprocess, so this process's
importers stay PySpark's and CPython's own."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

_ZIP_SCRIPT = r"""
import importlib, json, sys, zipfile, zipimport
from datagouv_tools_spark import worker_daemon

path = sys.argv[1]

def write(*names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(name + ".py", "NAME = %r\n" % name)

write("zmod_a")
original = zipimport.zipimporter.invalidate_caches
worker_daemon.install()
out = {"wrapped": zipimport.zipimporter.invalidate_caches is not original}
sys.path.insert(0, path)
import zmod_a

if out["wrapped"]:
    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
    importer = sys.path_importer_cache[path]
    importlib.invalidate_caches()  # the first call re-reads and stamps
    files = importer._files
    reads.clear()
    importlib.invalidate_caches()
    out["unchanged_reads"] = len(reads)
    out["same_files"] = importer._files is files
    write("zmod_a", "zmod_b")
    importlib.invalidate_caches()
    out["rewritten_reads"] = len(reads)
else:
    write("zmod_a", "zmod_b")
    importlib.invalidate_caches()
import zmod_b
out["zmod_b"] = zmod_b.NAME
print(json.dumps(out))
"""


def _interpreters() -> list:
    """This interpreter, and a CPython 3.13 when one is on ``PATH``."""
    found = [pytest.param(sys.executable, id="current")]
    if sys.version_info < (3, 13):
        py313 = shutil.which("python3.13")
        found.append(pytest.param(
            py313, id="3.13",
            marks=pytest.mark.skipif(py313 is None, reason="no python3.13 on PATH"),
        ))
    return found


@pytest.mark.parametrize("python", _interpreters())
def test_zip_reread_only_when_changed(tmp_path, python):
    """On CPython < 3.13 ``importlib.invalidate_caches()`` does not read
    an archive again while it is unchanged; a rewritten one is read, and
    its new module imports. On CPython >= 3.13 the class is left as it is."""
    env = dict(os.environ, PYTHONPATH=str(REPO))
    res = subprocess.run(
        [python, "-c", _ZIP_SCRIPT, str(tmp_path / "mods.zip")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.splitlines()[-1])
    version = subprocess.run(
        [python, "-c", "import sys; print(sys.version_info >= (3, 13))"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out["zmod_b"] == "zmod_b"
    if version == "True":
        assert out == {"wrapped": False, "zmod_b": "zmod_b"}
    else:
        assert out["wrapped"]
        assert out["unchanged_reads"] == 0 and out["same_files"]
        assert out["rewritten_reads"] == 1


def test_python_tasks_run_under_package_daemon(spark):
    def daemon(it):
        import sys

        import pyarrow as pa

        for _ in it:
            yield pa.RecordBatch.from_pydict({"daemon": [sys.modules["__main__"].__spec__.name]})

    got = spark.range(1, numPartitions=1).mapInArrow(daemon, "daemon string").first()
    assert got.daemon == "datagouv_tools_spark.worker_daemon"


def test_zip_added_after_first_task_is_importable(spark, tmp_path):
    def identity(it):
        yield from it

    spark.range(1, numPartitions=1).mapInArrow(identity, "id long").collect()
    name = f"late_{uuid.uuid4().hex}"
    with zipfile.ZipFile(tmp_path / f"{name}.zip", "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{name}.zip"))

    def load(it):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for _ in it:
            yield pa.RecordBatch.from_pydict({"value": [value]})

    assert spark.range(1, numPartitions=1).mapInArrow(load, "value long").first().value == 42


_SESSION_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from datagouv_tools_spark.session import get_spark

extra = {"spark.python.daemon.module": sys.argv[2]} if len(sys.argv) > 2 else None
spark = get_spark("daemon-choice", master="local[1]", shuffle_partitions=1, extra_conf=extra)

def daemon(it):
    import sys
    import pyarrow as pa
    for _ in it:
        yield pa.RecordBatch.from_pydict({"daemon": [sys.modules["__main__"].__spec__.name]})

print(spark.range(1, numPartitions=1).mapInArrow(daemon, "daemon string").first().daemon)
spark.stop()
"""


@pytest.mark.parametrize(
    "outside, pythonpath, extra, expected",
    [
        # a caller's conf names another daemon
        (False, False, "pyspark.daemon", "pyspark.daemon"),
        # the package only on the driver's sys.path: workers could not
        # import the package's daemon, so PySpark's own runs
        (True, False, None, "pyspark.daemon"),
        (True, True, None, "datagouv_tools_spark.worker_daemon"),
    ],
    ids=["extra_conf", "driver_path_only", "pythonpath"],
)
def test_session_daemon_choice(tmp_path, outside, pythonpath, extra, expected):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    if pythonpath:
        env["PYTHONPATH"] = str(REPO)
    res = subprocess.run(
        [sys.executable, "-c", _SESSION_SCRIPT, str(REPO), *([extra] if extra else [])],
        cwd=tmp_path if outside else REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip().splitlines()[-1] == expected
