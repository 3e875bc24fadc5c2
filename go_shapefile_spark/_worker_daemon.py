"""Spark's Python worker daemon, importing pyspark from a directory.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, its py4j zip and
the ``spark-core`` jar at the front of every worker's ``PYTHONPATH``.
Each task then ends its set-up in ``importlib.invalidate_caches()``,
which re-reads the directory of every cached zipimporter: ~0.17 s a
task for the 1,328-entry ``pyspark.zip``, and ~0.07 s more for the
jar.  This module drops those entries, when pyspark and py4j are
importable without them (the same release from site-packages), and
runs ``pyspark.daemon.manager()``; its forked workers inherit the path.
``session.get_spark`` names it in ``spark.python.daemon.module`` only
when the versions match.
"""

import os
import sys
from importlib.machinery import PathFinder


def _spark_archive(path: str) -> bool:
    """Is ``path`` an archive Spark itself puts on a worker's path: its
    ``python/lib/{pyspark,py4j-*}.zip``, or the ``spark-core`` jar
    (5,359 entries, none of them Python)?"""
    head, name = os.path.split(path)
    if head.endswith(os.path.join("python", "lib")):
        return name == "pyspark.zip" or (name.startswith("py4j-")
                                         and name.endswith(".zip"))
    return name.startswith("spark-core") and name.endswith(".jar")


_archives = [p for p in sys.path if _spark_archive(p)]
_rest = [p for p in sys.path if p not in _archives]
if _archives and all(PathFinder.find_spec(m, _rest)
                     for m in ("pyspark", "py4j")):
    sys.path[:] = _rest
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in _archives):
            del sys.path_importer_cache[key]

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
