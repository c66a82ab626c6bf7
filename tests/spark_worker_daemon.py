"""PySpark worker daemon for the test session: ``pyspark.daemon`` with
the archive entries (``*.zip``, ``*.jar``) taken off the workers'
``sys.path`` when the packages they carry import without them.

Every Python task calls ``importlib.invalidate_caches()``, and on
Python 3.11 each zip importer then re-reads its whole archive index:
the Spark core jar that Spark puts on the worker path (two importers of
~5,400 entries) and ``pyspark.zip`` (one importer per imported
subpackage). On a 4-vCPU host that cost ~250 ms per task, before the
task reads its first row — most of a toy test's ``mapInArrow`` job —
and nothing once the archives are off the path. The jar holds no
Python; ``pyspark.zip`` and the py4j zip are dropped only when
``pyspark`` and ``py4j`` are importable as plain packages (a pip
install, which is what the test driver imports), else they stay.

conftest.py selects this module through ``spark.python.daemon.module``
and puts this directory on the workers' ``PYTHONPATH``.
"""

import importlib.machinery
import sys


def _plain_path(path: list[str]) -> list[str]:
    """``path`` without archives, keeping the zips when pyspark or py4j
    would not import from the rest."""
    plain = [p for p in path if not p.endswith((".zip", ".jar"))]
    find = importlib.machinery.PathFinder.find_spec
    if all(find(m, plain) is not None for m in ("pyspark", "py4j")):
        return plain
    return [p for p in path if not p.endswith(".jar")]


_dropped = tuple(set(sys.path) - set(_plain_path(sys.path)))
sys.path[:] = [p for p in sys.path if p not in _dropped]
for _key in [k for k in sys.path_importer_cache if k.startswith(_dropped)]:
    del sys.path_importer_cache[_key]

import pyspark.daemon  # noqa: E402  (after the path is settled)

if __name__ == "__main__":
    pyspark.daemon.manager()
