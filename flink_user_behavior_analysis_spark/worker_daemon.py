"""Python worker start-up module for the engine's Spark sessions.

``session.get_spark`` selects it through Spark's documented
``spark.python.daemon.module`` hook, so each executor's Python daemon
starts as ``python -m flink_user_behavior_analysis_spark.worker_daemon
pyspark.worker``. It reorders the import path, then runs
``pyspark.daemon`` unchanged as ``__main__``; the daemon forks every
worker from this process, so the workers inherit the path. No pyspark
function is patched.

Why: before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which on Python 3.11
makes every zip importer in ``sys.path_importer_cache`` re-read its
archive's central directory. Spark's default worker path holds the
spark-core jar (about 5,400 entries and no Python module) and
``pyspark.zip`` (about 1,300 entries, one importer per imported
pyspark subpackage). With the stateful operators' modules loaded the
call took about 200 ms per task through 16 zip importers, and about
10 ms through the 3 left after this module (4-core VM).

Before pyspark is imported, this module:

- drops every ``.jar`` entry from ``sys.path`` and its importers from
  ``sys.path_importer_cache``;
- when the unpacked tree of the same Spark build sits next to the
  ``pyspark.zip`` on the path (``<python>/lib/pyspark.zip`` and
  ``<python>/pyspark``, i.e. ``$SPARK_HOME/python/pyspark``), puts
  the tree's parent ahead of the zip, so pyspark is imported from
  plain files and no per-subpackage zip importer is created.
"""

import os
import runpy
import sys


def _is_jar(entry: str) -> bool:
    return entry.endswith(".jar") or ".jar" + os.sep in entry


def reorder_path(path: list[str], importer_cache: dict) -> list[str]:
    """Return ``path`` without jars and with the unpacked pyspark tree
    ahead of ``pyspark.zip``; drop jar importers from ``importer_cache``."""
    for key in [k for k in importer_cache if _is_jar(k)]:
        del importer_cache[key]
    out: list[str] = []
    for entry in path:
        if _is_jar(entry):
            continue
        if os.path.basename(entry) == "pyspark.zip":
            root = os.path.dirname(os.path.dirname(entry))
            tree_init = os.path.join(root, "pyspark", "__init__.py")
            if os.path.isfile(tree_init) and root not in out:
                out.append(root)
        out.append(entry)
    return out


def main() -> None:
    sys.path[:] = reorder_path(sys.path, sys.path_importer_cache)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
