"""Python-worker launcher: workers import the installed pyspark, not
Spark's source-only zips, and only when the versions match."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import tempfile
import zipfile

import pyspark
import pytest
from pyspark import SparkContext

from arcane_stream_microsoft_synapse_link_spark import session


def _fake_spark_home(root, version: str) -> str:
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    return str(root)


@pytest.fixture()
def no_context(monkeypatch):
    """What ``get_spark`` sees before its first context: no active
    SparkContext and no launcher written yet (nothing is started)."""
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(session, "_launcher", None)
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)


def test_launcher_drops_only_spark_zips(tmp_path, monkeypatch, no_context):
    home = _fake_spark_home(tmp_path / "spark", pyspark.__version__)
    monkeypatch.setenv("SPARK_HOME", home)
    session._use_worker_launcher()
    launcher = os.environ["PYSPARK_PYTHON"]
    assert launcher != sys.executable
    assert os.path.dirname(launcher) == tempfile.gettempdir()
    assert stat.S_IMODE(os.stat(launcher).st_mode) == 0o700

    lib = os.path.join(home, "python", "lib")
    env = dict(
        os.environ,
        PYTHONPATH=f"{lib}/pyspark.zip:{lib}/py4j-0.10.9.9-src.zip:/x",
        PYTHONHASHSEED="7",
    )
    out = subprocess.run(
        [launcher, "-c", "import json, os, sys; print(json.dumps([sys.path, os.environ['PYTHONHASHSEED']]))"],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    path, seed = json.loads(out)
    assert "/x" in path
    assert not [p for p in path if p.endswith(".zip") and p.startswith(lib)]
    assert seed == "7"


def test_launcher_skipped_on_version_mismatch(tmp_path, monkeypatch, no_context):
    monkeypatch.setenv("SPARK_HOME", _fake_spark_home(tmp_path / "spark", "0.0.1"))
    session._use_worker_launcher()
    assert os.environ["PYSPARK_PYTHON"] == sys.executable


def test_launcher_skipped_without_spark_zip(tmp_path, monkeypatch, no_context):
    (tmp_path / "spark").mkdir()
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))
    session._use_worker_launcher()
    assert os.environ["PYSPARK_PYTHON"] == sys.executable


def test_udf_worker_imports_installed_pyspark(spark):
    """In the test session, a Python worker runs on a pyspark outside any
    zip, of the driver's version."""
    from pyspark.sql.functions import udf

    @udf("array<string>")
    def where(_):
        import pyspark

        return [pyspark.__file__, pyspark.__version__]

    file, version = spark.range(1).select(where("id")).first()[0]
    assert ".zip" not in file and os.path.isfile(file)
    assert version == pyspark.__version__
