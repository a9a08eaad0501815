"""Python worker daemon for local-mode sessions (``spark.python.daemon.module``,
set by ``session.get_spark``).

At the start of every task ``pyspark.worker`` calls ``setup_spark_files``,
which ends in ``importlib.invalidate_caches()``.  That makes every
zipimporter the worker holds re-read its archive's central directory
(CPython 3.11 and 3.12 at once, 3.13 at the importer's next lookup):
pyspark.zip alone has 1,328 entries, and a worker holds one importer per
package directory it has imported from (cProfile: 14-16
``zipimport._read_directory`` calls per task), so each task paid ~0.3 s of
worker CPU (Python 3.11) before it touched a row.

This daemon makes ``zipimporter.invalidate_caches`` a no-op and then runs
``pyspark.daemon.manager()``; the workers it forks inherit the patch.  The
archives on a worker's path (Spark's pyspark and py4j zips, a
``--py-files`` zip) are not rewritten while the worker lives, and a file
added later (``addPyFile``) gets a new path entry, so a new importer that
reads its directory once.  Directory finders still refresh as before.

The patch is applied only when this module runs as ``__main__``, so
importing it (e.g. in the driver) changes nothing.
"""

import zipimport


def _keep_directory(self) -> None:
    """zipimporter.invalidate_caches replacement: keep the directory read
    when the importer was created."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_directory

    from pyspark.daemon import manager

    manager()
