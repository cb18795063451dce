"""rsgislib_spark.pydaemon: stat-checked zip re-reads, and when
get_spark starts Python workers from it."""

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

from rsgislib_spark import pydaemon
from rsgislib_spark.session import python_worker_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pydaemon_probe.py", f"VALUE = {value!r}\n")


def test_invalidate_rereads_only_changed_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "pydaemon_probe", raising=False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_read", {})
    pydaemon.install()
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or stock_read(p))

    assert importlib.import_module("pydaemon_probe").VALUE == 1
    importlib.invalidate_caches()  # first sight of each archive: read
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads  # unchanged: no re-read

    _write_zip(archive, "changed")  # new content and size
    del sys.modules["pydaemon_probe"]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("pydaemon_probe").VALUE == "changed"
    del sys.modules["pydaemon_probe"]


def test_python_tasks_run_patched_invalidate(spark):
    assert (spark.conf.get("spark.python.daemon.module")
            == "rsgislib_spark.pydaemon")

    def probe(batches):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for _ in batches:
            yield pd.DataFrame({"src": [code.co_filename]})

    rows = (spark.range(0, 8, 1, 4)
            .mapInPandas(probe, "src STRING").collect())
    assert {r.src for r in rows} == {pydaemon.__file__}


def test_stock_daemon_unless_local_and_importable(tmp_path):
    on = python_worker_conf("local[4]", {})
    assert on["spark.python.daemon.module"] == "rsgislib_spark.pydaemon"
    assert on["spark.executorEnv.PYTHONPATH"] == REPO
    assert python_worker_conf("local", {}) == on
    joined = python_worker_conf(
        "local[2]", {"spark.executorEnv.PYTHONPATH": "/srv/libs"})
    assert joined["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["/srv/libs", REPO])
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert python_worker_conf(master, {}) == {}
    assert python_worker_conf(
        "local[4]", {"spark.python.daemon.module": "pyspark.daemon"}) == {}

    # the package imported from a zip, as with --py-files
    pkg_zip = shutil.make_archive(str(tmp_path / "pkg"), "zip",
                                  REPO, "rsgislib_spark")
    code = ("import rsgislib_spark.session as s; "
            "print(s._PKG_DIR); print(s.python_worker_conf('local[4]', {}))")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=str(tmp_path), timeout=120,
                       env={**os.environ, "PYTHONPATH": pkg_zip})
    assert r.returncode == 0, r.stderr[-2000:]
    pkg_dir, conf = r.stdout.splitlines()
    assert pkg_dir.startswith(pkg_zip)
    assert conf == "{}"
