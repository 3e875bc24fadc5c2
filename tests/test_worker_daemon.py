"""The engine's Python worker daemon (``_worker_daemon``) and its gate
in ``session.get_spark``: workers import pyspark from a directory, and
find the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pyspark

from go_shapefile_spark.session import _PACKAGE_ROOT, worker_daemon_conf


def test_worker_imports_pyspark_from_a_directory(spark):
    """A Python task's pyspark and py4j are plain files, not zip
    members, and no Spark archive is left on its path."""
    def where(batches):
        import sys

        import pandas as pd
        import py4j
        import pyspark

        for _ in batches:
            yield pd.DataFrame({"pyspark": [pyspark.__file__],
                                "py4j": [py4j.__file__],
                                "path": [os.pathsep.join(sys.path)]})

    row = spark.range(0, 1, 1, 1).mapInPandas(
        where, "pyspark string, py4j string, path string").collect()[0]
    assert os.path.isfile(row.pyspark) and os.path.isfile(row.py4j), row
    for archive in ("pyspark.zip", "py4j-", "spark-core"):
        assert archive not in row.path, row.path


def _spark_home(root, version: str | None):
    """A SPARK_HOME whose ``pyspark.zip`` holds ``version`` (no zip when
    None)."""
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    if version is not None:
        with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
            zf.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(root)


def test_daemon_gate_keeps_spark_default(tmp_path):
    """The daemon and the worker PYTHONPATH are set only for a package
    directory and a ``pyspark.zip`` of the driver's pyspark release."""
    version = pyspark.__version__
    home = _spark_home(tmp_path / "home", version)
    assert worker_daemon_conf(_PACKAGE_ROOT, home, version) == {
        "spark.python.daemon.module": "go_shapefile_spark._worker_daemon",
        "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT}

    bundle = tmp_path / "pkg.zip"          # the package from --py-files
    with zipfile.ZipFile(bundle, "w") as zf:
        zf.writestr("go_shapefile_spark/__init__.py", "")
    assert worker_daemon_conf(str(bundle), home, version) == {}
    assert worker_daemon_conf(_PACKAGE_ROOT, home, version + ".dev0") == {}
    assert worker_daemon_conf(
        _PACKAGE_ROOT, _spark_home(tmp_path / "bare", None), version) == {}
    assert worker_daemon_conf(_PACKAGE_ROOT, None, version) == {}


_KERNEL_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from go_shapefile_spark.operators import local
from go_shapefile_spark.operators.vector_tiles import vector_tiles
from go_shapefile_spark.session import get_spark
from go_shapefile_spark.sources.shapefile import read_shapefile_df
from go_shapefile_spark.sources.shapefile_writer import write_polygons

local.SCAN_BYTES = 0   # the distributed scan: the clip runs in a worker
ring = [0.0, 0.0, 0.0, 10.0, 10.0, 10.0, 10.0, 0.0, 0.0, 0.0]
write_polygons("sq", [{{"coords": [v + 20 * i for v in ring], "ends": [10]}}
                      for i in range(5)])
spark = get_spark("cwd", cores=2)
rows = vector_tiles(read_shapefile_df(spark, "sq"), res=3).count()
spark.stop()
print("tile rows", rows)
"""


def test_package_kernel_runs_from_any_directory(tmp_path):
    """A driver started outside the checkout, with the package on its
    own ``sys.path`` only (as the tools put it), runs a package kernel
    in a Python worker."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    out = subprocess.run(
        [sys.executable, "-c",
         textwrap.dedent(_KERNEL_SCRIPT.format(root=_PACKAGE_ROOT))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=280)
    assert out.returncode == 0, out.stderr[-4000:]
    rows = int(out.stdout.split("tile rows")[-1])
    assert rows >= 5, out.stdout
