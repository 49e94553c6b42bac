"""The Python worker daemon of ``session.get_spark`` sessions.

``ssidentity_spark.pydaemon`` takes Spark's archives (``pyspark.zip``, the
py4j zip, the spark-core jar) off the workers' ``sys.path`` when an
installed pyspark and py4j can stand in for them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pandas as pd
import pytest

from ssidentity_spark import pydaemon
from ssidentity_spark.session import _WORKER_CONFS


def _package(root, name):
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")


def _zip_package(path, name):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}/__init__.py", "")
    return str(path)


@pytest.fixture
def fake_path(tmp_path, monkeypatch):
    # find_spec caches one importer per entry: keep them out of this
    # process's real cache
    monkeypatch.setattr(sys, "path_importer_cache", {})
    lib = tmp_path / "lib"
    lib.mkdir()
    (tmp_path / "app").mkdir()
    (tmp_path / "site").mkdir()
    jar = lib / "spark-core_2.13-4.1.2.jar"
    _zip_package(jar, "org")
    return tmp_path, [
        str(tmp_path / "app"),
        _zip_package(lib / "pyspark.zip", "pyspark"),
        _zip_package(lib / "py4j-0.10.9.9-src.zip", "py4j"),
        str(jar),
        str(tmp_path / "python311.zip"),  # the interpreter's own, absent
        str(tmp_path / "site"),
    ]


def test_prune_keeps_archives_when_pyspark_only_in_zip(fake_path):
    root, path = fake_path
    _package(root / "site", "py4j")
    assert pydaemon.prune(path) == path


def test_prune_drops_only_spark_archives(fake_path):
    root, path = fake_path
    _package(root / "site", "pyspark")
    _package(root / "site", "py4j")
    assert pydaemon.prune(path) == [path[0], path[4], path[5]]


def test_daemon_imports_from_any_cwd(tmp_path):
    assert _WORKER_CONFS["spark.python.daemon.module"] == "ssidentity_spark.pydaemon"
    env = {"PYTHONPATH": _WORKER_CONFS["spark.executorEnv.PYTHONPATH"]}
    done = subprocess.run(
        [sys.executable, "-c", "import ssidentity_spark.pydaemon"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
    )
    assert done.returncode == 0, done.stderr


def test_workers_import_installed_pyspark(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def worker_state(s: pd.Series) -> pd.Series:
        import sys

        import pyspark

        state = {
            "file": pyspark.__file__,
            "version": pyspark.__version__,
            "path": sys.path,
        }
        return pd.Series([json.dumps(state)] * len(s))

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "ssidentity_spark.pydaemon"
    row = spark.range(1).select(worker_state("id").alias("s")).first()
    state = json.loads(row.s)
    assert os.path.isfile(state["file"]), state["file"]  # not inside a zip
    assert state["version"] == spark.version
    archives = [
        p
        for p in state["path"]
        if p.endswith(".jar")
        or (
            p.endswith(".zip")
            and os.path.basename(p).startswith(("pyspark", "py4j"))
        )
    ]
    assert archives == []
